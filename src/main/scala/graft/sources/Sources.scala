package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Sources & sinks (SURVEY §2.1-2.2): declared-schema CSV/JSON/XML
  * read/write (the reference declares record layouts — no schema inference,
  * `ICsvParameters` `rtl/include/eclhelper.hpp:2649` region), PIPE
  * read/through (`TAKpiperead` :919), and superfiles (a named union of
  * files readable as one dataset, `dali/base/dadfs.hpp:493`).
  */
object Sources {

  /** The engine's parquet read: every parquet file carries its record
    * layout in its footer, and the reader takes it from there, as an HPCC
    * reader takes it from Dali or the index header — no inference job.
    *
    * An INDEX dir ([[IndexedTable]]: range-sorted parts plus a top-level
    * key) given as the one path is read through its TLK
    * ([[TopLevelKey.read]]): one listing checks that the dir's data files
    * are still exactly the TLK's parts, the schema comes from the TLK's copy
    * of the first part's footer, and the scan opens only the parts whose
    * leading-key stats can match the pushed filters. Any mismatch, or no
    * readable TLK, takes the path below.
    *
    * Otherwise Spark's own `read.parquet` would run a whole Spark job to read
    * one footer; here the driver reads that same footer on the calling
    * thread. The file is the one Spark's inference touches with mergeSchema
    * off: `_common_metadata`, else `_metadata`, else the first data file by
    * path, listed as the `DataSource` lists (`InMemoryFileIndex`). Partition
    * columns are still discovered from the directory names. When no file
    * matches (missing path, glob, empty dir), the footer cannot be read, or
    * mergeSchema is on, Spark's own read runs and raises its own error.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val roots = paths.map { p =>
      val path = new Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    val summaries = Seq("_common_metadata", "_metadata")
    val plain = spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean ||
      roots.exists(_.toString.exists("{}[]*?\\".contains(_)))
    val indexed = roots match {
      case Seq(root) if !plain => TopLevelKey.read(spark, root)
      case _ => None
    }
    indexed.getOrElse {
      val stored =
        if (plain || roots.exists(r => !r.getFileSystem(conf).exists(r))) None
        else {
          val byPath = new InMemoryFileIndex(spark, roots, Map.empty, None)
            .allFiles().sortBy(_.getPath.toString)
          summaries.flatMap(n => byPath.find(_.getPath.getName == n)).headOption
            .orElse(byPath.find(f => !summaries.contains(f.getPath.getName)))
            .flatMap(f => Try(FooterBridge.schema(spark, f)).toOption.flatten)
        }
      stored.fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
    }
  }

  /** OUTPUT(..., CSV) (TAKcsvwrite :921). */
  def csvWrite(df: DataFrame, path: String, sep: String = ",",
      header: Boolean = false): Unit =
    df.write.mode("overwrite").option("sep", sep).option("header", header)
      .csv(path)

  /** DATASET(f, rec, CSV) (TAKcsvread :977): schema DECLARED, never
    * inferred — mirrors the reference's `ICsvParameters` contract.
    */
  def csvRead(spark: SparkSession, path: String, schema: StructType,
      sep: String = ",", header: Boolean = false): DataFrame =
    spark.read.schema(schema).option("sep", sep).option("header", header)
      .csv(path)

  /** OUTPUT(..., JSON) (TAKjsonwrite :1079). */
  def jsonWrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** DATASET(f, rec, JSON) (TAKjsonread :1080), declared schema. */
  def jsonRead(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** OUTPUT(..., XML) (TAKxmlwrite :933): one XML row-document per line
    * (to_xml pretty-prints; collapse whitespace so text() stays 1:1).
    */
  def xmlWrite(df: DataFrame, path: String, rowTag: String = "Row"): Unit = {
    import org.apache.spark.sql.functions._
    df.select(regexp_replace(
        to_xml(struct(df.columns.map(col): _*),
          java.util.Map.of("rootTag", rowTag)),
        "\\n\\s*", "").as("xml"))
      .write.mode("overwrite").text(path)
  }

  /** DATASET(f, rec, XML) (TAKxmlread :978): XPath-lite row extraction via
    * from_xml with a declared schema.
    */
  def xmlRead(spark: SparkSession, path: String, schema: StructType,
      rowTag: String = "Row"): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = spark.read.text(path)
    raw.select(from_xml(raw("value"), schema).as("r")).select("r.*")
  }

  /** PIPE(cmd) through-mode (TAKpipethrough :922): each partition's rows are
    * piped as lines through an external command; stdout lines come back as
    * rows. RDD pipe() — the one legitimately RDD-shaped op in the engine.
    */
  def pipeThrough(df: DataFrame, cmd: String): DataFrame = {
    import df.sparkSession.implicits._
    val lines = df.toJSON.rdd.pipe(cmd)
    df.sparkSession.read.json(lines.toDS())
  }

  /** Superfile read: a union of file paths presented as one dataset. */
  def superfile(spark: SparkSession, paths: Seq[String]): DataFrame =
    parquet(spark, paths: _*)

  /** Schema-on-read translation: present parts written under DIFFERENT
    * record layouts as one dataset with the `expected` layout — the
    * reference's runtime record translator (`rtl/eclrtl/rtldynfield.cpp`
    * `createRowReadFormatMapping`, `common/thorhelper/thorread.hpp:64`),
    * which lets a superfile span years of layout evolution. Semantics
    * match the translator's: fields align BY NAME, compatible casts apply
    * (int widening, decimal rescale), fields missing from an old layout
    * take the ECL default initializer (0 / '' / false — NOT null:
    * `rtldynfield` builds defaults from the type, ECL has no null), and
    * fields the expected layout dropped vanish.
    *
    * Parquet's own mergeSchema refuses conflicting primitive types
    * (INT32 vs INT64), so each part is read under its written schema and
    * translated independently — per-part cast projections fuse into the
    * scans (pushdown still works), then a zero-cost unionByName.
    */
  def readTranslated(spark: SparkSession, parts: Seq[String],
      expected: org.apache.spark.sql.types.StructType): DataFrame = {
    def eclDefault(dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case t: org.apache.spark.sql.types.NumericType => lit(0).cast(t)
      case org.apache.spark.sql.types.StringType => lit("")
      case org.apache.spark.sql.types.BooleanType => lit(false)
      case org.apache.spark.sql.types.BinaryType => lit(Array.empty[Byte])
      case t => lit(null).cast(t)
    }
    parts.map { p =>
      val df = parquet(spark, p)
      val have = df.columns.toSet
      df.select(expected.fields.toSeq.map { f =>
        if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else eclDefault(f.dataType).as(f.name)
      }: _*)
    }.reduce(_ unionByName _)
  }
}
