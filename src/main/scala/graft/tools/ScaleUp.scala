package graft.tools

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a 10×-scale dataset from sf0.1 for the scale
  * rehearsal (no sf1 parquet ships in the test environment). Each copy i
  * shifts every join-key column by i×10⁷, so intra-copy join relationships
  * are preserved exactly and cross-copy keys never collide — row counts,
  * join fan-outs, and aggregate group counts scale linearly like a real
  * SF bump. Document/embedding payloads get a per-copy salt appended so
  * exact-dedup fingerprints differ across copies while copies remain
  * near-duplicates (the realistic near-dup density growth).
  */
object ScaleUp {
  private val K = 10000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.engine(32)

    def scaled(table: String, keyCols: Seq[String],
        salt: DataFrame => DataFrame = identity): Unit = {
      val base = Sources.parquet(spark, s"$src/$table.parquet")
      val out = (0 until copies).map { i =>
        val shifted = keyCols.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i * K)))
        salt(shifted.withColumn("__copy", lit(i)))
      }.reduce(_ unionAll _).drop("__copy")
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table: ${base.count()} -> ${out.count()} rows")
    }

    // fixed-size dims copy once; everything else scales with key offsets
    Seq("region", "nation").foreach { t =>
      Sources.parquet(spark, s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: copied")
    }
    scaled("customer", Seq("c_custkey"))
    scaled("orders", Seq("o_orderkey", "o_custkey"))
    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scaled("part", Seq("p_partkey"))
    scaled("supplier", Seq("s_suppkey"))
    scaled("events", Seq("event_id", "user_id"))
    scaled("documents", Seq("doc_id"), d =>
      d.withColumn("text", concat(col("text"), lit(" uniq"), col("__copy")))
        .withColumn("n_chars", length(col("text")).cast("long")))
    // circular-rotate each copy's vectors: exact duplicates would pile
    // every copy into the same LSH buckets (quadratic candidate growth a
    // real corpus of distinct vectors doesn't have); rotation preserves
    // the norm and component distribution while decorrelating projections.
    // Rotation wraps at dim (copies > 64 would slice negative lengths);
    // past a full wrap, flip the signs of the components selected by the
    // WRAP COUNT'S BITS (component i negated iff bit i of copy/dim is
    // set) — norm-preserving, wrap 0 is the identity, and every wrap
    // gets a distinct sign pattern, so copies stay pairwise distinct for
    // 2^dim wraps (a single fixed flip repeated at copy c+2*dim and
    // beyond — i.e. past ~sf12.8 from sf0.1 — would reintroduce the
    // exact-duplicate pile-up the rotation exists to avoid).
    scaled("embeddings", Seq("vec_id"), d => {
      val dim = size(col("embedding"))
      val rot = pmod(col("__copy"), dim)
      val wrap = floor(col("__copy") / dim).cast("int")
      val rotated = concat(
        slice(col("embedding"), rot + 1, dim - rot),
        slice(col("embedding"), lit(1), rot))
      // bit i of wrap via exact power-of-two division (shiftright's Scala
      // API wants a static shift; /2^i over doubles is exact here)
      d.withColumn("embedding",
        transform(rotated, (x, i) =>
          when(pmod(floor(wrap / pow(lit(2.0), i)), lit(2)) === 1, -x)
            .otherwise(x)))
    })
    spark.stop()
  }
}
