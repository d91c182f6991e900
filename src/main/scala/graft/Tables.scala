package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * All engine queries take `(SparkSession, sfDir)` and read via these
  * helpers so that filter/column pushdown reaches the parquet scan
  * (`PushedFilters` / `ReadSchema` in `.explain("formatted")`).
  *
  * No schema is declared here: each table's schema is the record layout
  * stored in its parquet footer, read on the driver by `Sources.parquet`
  * under the session's parquet confs, without a schema-inference job.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet carries TIMESTAMP(NANOS) which Spark has no native type
    * for: with `spark.sql.legacy.parquet.nanosAsLong=true` it reads as long
    * nanos; truncate-convert to a micros timestamp (exactly what DuckDB's
    * reader does, so oracle comparisons agree).
    */
  def events(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.normalizeEventTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** One verifiable query: the Spark-side plan plus (optionally) the ANSI SQL
  * a DuckDB oracle runs over the same parquet tables. Column names must match
  * exactly between the two (the driver sorts columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
