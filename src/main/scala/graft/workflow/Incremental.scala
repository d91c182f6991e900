package graft.workflow

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{Files, Paths, StandardCopyOption}
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
  *   agg_v<N>/           partial-aggregate parquet (the current state)
  *   manifest_v<N>.txt   consumed part paths, one per line
  * Writes land at version N+1 and become current only when the manifest
  * write succeeds (write-then-rename, same crash discipline as
  * [[graft.sources.FileCatalog]] manifests).
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

  /** Part paths already folded into the current state. */
  def consumed: Set[String] = versions.lastOption match {
    case Some(v) =>
      Files.readAllLines(Paths.get(s"$stateDir/manifest_v$v.txt"))
        .asScala.filter(_.nonEmpty).toSet
    case None => Set.empty
  }

  /** Current partial-aggregate state (empty frame with the right schema
    * when nothing has been consumed yet).
    */
  def state: Option[DataFrame] = versions.lastOption.map(v =>
    Sources.parquet(spark, s"$stateDir/agg_v$v"))

  /** Fold any unseen `parts` into the state; returns the refreshed state
    * and the list of parts actually read (empty → no-op, state untouched).
    */
  def refresh(parts: Seq[String]): (DataFrame, Seq[String]) = {
    val seen = consumed
    val fresh = parts.filterNot(seen)
    if (fresh.isEmpty) return (state.getOrElse(throw new IllegalStateException(
      s"Incremental state at $stateDir has no prior version and refresh() " +
        "was given no unseen parts — the aggregate schema (key/value types " +
        "come from the data) is unknowable; pass at least one part on the " +
        "first refresh")), Nil)
    val delta = applyAggs(Sources.parquet(spark, fresh: _*))
    val merged = state match {
      case Some(prev) => mergeAggs(prev.unionByName(delta))
      case None => delta
    }
    val v = versions.lastOption.getOrElse(0) + 1
    merged.write.mode("overwrite").parquet(s"$stateDir/agg_v$v")
    val tmp = Paths.get(s"$stateDir/.manifest_v$v.tmp")
    Files.writeString(tmp, (seen ++ fresh).toSeq.sorted.mkString("\n"))
    Files.move(tmp, Paths.get(s"$stateDir/manifest_v$v.txt"),
      StandardCopyOption.ATOMIC_MOVE)
    (Sources.parquet(spark, s"$stateDir/agg_v$v"), fresh)
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
