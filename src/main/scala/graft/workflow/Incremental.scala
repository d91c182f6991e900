package graft.workflow

import graft.sources.{ManifestIo, Sources}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Incrementally-maintained keyed aggregate — the reference's daily-build
  * pattern (append a generation to a superfile, PERSIST the rollup:
  * `ecllibrary/std/File.ecl:1003` PromoteSuperFileList +
  * `workflow PERSIST`, `common/workunit/workunit.hpp:577`) done without
  * ever rescanning history: the stored state is a PARTIAL aggregate plus
  * a manifest of consumed part files; a refresh aggregates ONLY unseen
  * parts and merges the two partial frames with the aggregate's merge
  * function. At 100 TB this is the difference between a daily job that
  * reads one day and one that reads three years.
  *
  * Supported aggregate kinds are the decomposable ones (merge = re-apply):
  *   sum (decimal-routed), count (merges by sum), min, max.
  * AVG derives as sum/count downstream of the state — never stored, so
  * the state stays mergeable.
  *
  * State layout under `stateDir`:
  *   agg_v<N>-<uuid>/    partial-aggregate parquet of version N
  *   manifest_v<N>.txt   `#agg\t<dir>`, then the consumed part paths, one
  *                       per line
  * A refresh writes its aggregate to a dir of its own, then publishes
  * version N+1 by claiming `manifest_v<N+1>.txt` (`ManifestIo.claimLocal`,
  * atomic and exclusive, the claim [[graft.sources.LogManifest]] commits
  * through). A refresher that loses the claim to a concurrent one deletes
  * its own aggregate dir and retries against the fresher state, so no
  * consumed part is ever dropped. Manifests with no `#agg` line (state
  * dirs written before it existed) name their aggregate `agg_v<N>`.
  *
  * Disk use is bounded: after winning the claim for version N, a refresh
  * deletes every version up to N−2, its aggregate dir and then its
  * manifest. Version N−1 stays, so a frame returned by the previous refresh
  * stays readable while the newest one is published; frames of older
  * versions must not be read after a later refresh, and a refresh that
  * peers overtake by two versions while it merges fails on its deleted
  * input. Pruning frees version numbers: a refresher that merged on version
  * N−1 while peers then published N, N+1 and N+2 can win the claim of the
  * pruned N, below the newest version. Unless the newest version already
  * holds every part it consumed, it withdraws that claim and retries.
  */
final class Incremental(
    spark: SparkSession,
    stateDir: String,
    keys: Seq[String],
    aggs: Seq[Incremental.Agg]) {
  import Incremental._

  Files.createDirectories(Paths.get(stateDir))

  private def versions: Seq[Int] = {
    val stream = Files.list(Paths.get(stateDir))
    try stream.iterator.asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("manifest_v") =>
        s.stripPrefix("manifest_v").stripSuffix(".txt").toInt }
      .toSeq.sorted
    finally stream.close() // directory stream holds an fd until closed
  }

  private def manifestPath(v: Int) = Paths.get(s"$stateDir/manifest_v$v.txt")

  /** Version `v`: (N, consumed part paths, aggregate dir). */
  private def at(v: Int): (Int, Set[String], String) = {
    val (agg, parts) = Files.readAllLines(manifestPath(v))
      .asScala.filter(_.nonEmpty).partition(_.startsWith(AggLine))
    (v, parts.toSet, agg.headOption.fold(s"agg_v$v")(_.stripPrefix(AggLine)))
  }

  /** The newest version. */
  private def current: Option[(Int, Set[String], String)] = versions.lastOption.map(at)

  /** Part paths already folded into the current state. */
  def consumed: Set[String] = current.fold(Set.empty[String])(_._2)

  /** Current partial-aggregate state (None when nothing has been consumed
    * yet).
    */
  def state: Option[DataFrame] = current.map(c => aggAt(c._3))

  private def aggAt(dir: String): DataFrame =
    Sources.parquet(spark, s"$stateDir/$dir")

  /** Fold any unseen `parts` into the state; returns the refreshed state
    * and the list of parts actually read (empty → no-op, state untouched).
    */
  @scala.annotation.tailrec
  def refresh(parts: Seq[String]): (DataFrame, Seq[String]) = {
    val cur = current
    val seen = cur.fold(Set.empty[String])(_._2)
    val fresh = parts.filterNot(seen)
    val prev = cur.map(c => aggAt(c._3))
    if (fresh.isEmpty) return (prev.getOrElse(throw new IllegalStateException(
      s"Incremental state at $stateDir has no prior version and refresh() " +
        "was given no unseen parts — the aggregate schema (key/value types " +
        "come from the data) is unknowable; pass at least one part on the " +
        "first refresh")), Nil)
    val delta = applyAggs(Sources.parquet(spark, fresh: _*))
    val merged = prev match {
      case Some(p) => mergeAggs(p.unionByName(delta))
      case None => delta
    }
    val v = cur.fold(0)(_._1) + 1
    val agg = s"agg_v$v-${java.util.UUID.randomUUID()}"
    merged.write.parquet(s"$stateDir/$agg")
    val folded = seen ++ fresh
    val manifest = (s"$AggLine$agg" +: folded.toSeq.sorted).mkString("\n")
    val claim = manifestPath(v).toFile
    val claimed = ManifestIo.claimLocal(claim, manifest)
    val stale = claimed && current.exists(n => n._1 != v && !folded.subsetOf(n._2))
    if (stale) claim.delete()
    if (claimed && !stale) {
      prune(v)
      (aggAt(agg), fresh)
    } else {
      // a concurrent refresher published version v first, or v was pruned
      delete(agg)
      refresh(parts)
    }
  }

  private def delete(dir: String): Unit = {
    val path = new Path(s"$stateDir/$dir")
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  /** Deletes every version up to `v`−2: its aggregate dir, then its
    * manifest, so an interrupted prune leaves no aggregate unnamed. A
    * version a concurrent prune already deleted is skipped.
    */
  private def prune(v: Int): Unit = versions.filter(_ <= v - 2).foreach { old =>
    scala.util.Try(at(old)).foreach { case (_, _, agg) =>
      delete(agg)
      Files.deleteIfExists(manifestPath(old))
    }
  }

  /** First-level aggregation of raw rows. */
  private def applyAggs(df: DataFrame) =
    df.groupBy(keys.map(col): _*).agg(aggs.head.first, aggs.tail.map(_.first): _*)

  /** Merge two partial frames: re-aggregate on the same keys with each
    * aggregate's merge function (sum→sum, count→SUM, min→min, max→max).
    */
  private def mergeAggs(df: DataFrame) =
    df.groupBy(keys.map(col): _*).agg(aggs.head.merge, aggs.tail.map(_.merge): _*)
}

object Incremental {
  /** Manifest line naming the version's aggregate dir. */
  private val AggLine = "#agg\t"

  /** One maintained aggregate: how to compute it from raw rows and how to
    * merge two partials under the same alias.
    */
  final case class Agg(first: org.apache.spark.sql.Column,
      merge: org.apache.spark.sql.Column)

  /** Decimal-routed sum (bitwise-stable regardless of merge order). The
    * explicit DECIMAL(30,6) result cast keeps the state schema identical
    * across versions (Spark widens sum-of-decimal precision otherwise,
    * which would drift the stored type merge after merge).
    */
  def sumOf(c: String, as: String): Agg = Agg(
    sum(col(c).cast(DecimalType(25, 6))).cast(DecimalType(30, 6)).as(as),
    sum(col(as)).cast(DecimalType(30, 6)).as(as))

  def countAll(as: String): Agg = Agg(
    count(lit(1)).as(as),
    sum(col(as)).as(as))

  def minOf(c: String, as: String): Agg =
    Agg(min(col(c)).as(as), min(col(as)).as(as))

  def maxOf(c: String, as: String): Agg =
    Agg(max(col(c)).as(as), max(col(as)).as(as))
}
