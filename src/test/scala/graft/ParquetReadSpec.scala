package graft

import java.nio.file.{Files, Path => JPath, Paths}

import graft.sources.{IndexedTable, Sources}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `Sources.parquet` takes each file's stored layout from its footer on the
  * driver: the schema must be exactly the one Spark's own inference gives
  * (`spark.read.parquet(p).schema`), every read must launch zero Spark jobs,
  * and where Spark refuses a read the helper must refuse it the same way.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The helper's schema equals Spark's inferred one, read with no job. */
  private def assertSameLayout(paths: String*): StructType = {
    val (df, n, _) = jobsAndTasks(Sources.parquet(spark, paths: _*))
    assert(n == 0, s"reading ${paths.mkString(",")} launched $n jobs")
    val inferred = spark.read.parquet(paths: _*).schema
    assert(df.schema == inferred, s"${paths.mkString(",")}: ${df.schema.treeString}")
    df.schema
  }

  /** Both reads fail with the same exception class and error condition. */
  private def assertSameRefusal(paths: String*): Unit = {
    val theirs = intercept[Exception](spark.read.parquet(paths: _*))
    val ours = intercept[Exception](Sources.parquet(spark, paths: _*))
    assert(ours.getClass == theirs.getClass, ours.toString)
    def condition(e: Exception) = e match {
      case t: SparkThrowable => Option(t.getCondition)
      case _ => None
    }
    assert(condition(ours) == condition(theirs), ours.toString)
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tmp(name: String): JPath = Files.createDirectories(
    Paths.get(s"target/graft_io/parquet_read/$name-${System.nanoTime()}"))

  test("every testdata table at sf0.001 and sf0.01 reads Spark's schema with no job") {
    // the session reads with nanosAsLong on, as every engine session does
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"); t <- tables)
      assertSameLayout(s"$sf/$t.parquet")
    val emb = assertSameLayout(s"$sf/embeddings.parquet")
    assert(emb.fields.exists(_.dataType.isInstanceOf[ArrayType]))
  }

  test("a multi-part IndexedTable.build dir and a partitionBy dir") {
    val idx = tmp("index").resolve("idx").toString
    IndexedTable.build(Tables.customer(spark, sf), Seq("c_custkey"), idx,
      numPartitions = 3)
    assert(new java.io.File(idx).list().count(_.endsWith(".parquet")) == 3)
    assertSameLayout(idx)

    val parted = tmp("partitioned").resolve("p").toString
    Tables.nation(spark, sf).write.partitionBy("n_regionkey").parquet(parted)
    val s = assertSameLayout(parted)
    assert(s.fieldNames.last == "n_regionkey", "partition column is appended")
    val rows = Sources.parquet(spark, parted).filter(col("n_regionkey") === 1).count()
    assert(rows == Tables.nation(spark, sf).filter(col("n_regionkey") === 1).count())
  }

  test("a superfile whose subfiles differ: the first file by path decides, as in Spark") {
    val root = tmp("superfile")
    val a = root.resolve("a_sub").toString
    val b = root.resolve("b_sub").toString
    Seq((1, "x")).toDF("k", "v").write.parquet(a)
    Seq((2L, 0.5, true)).toDF("k", "w", "flag").write.parquet(b)
    for (order <- Seq(Seq(a, b), Seq(b, a))) {
      val s = assertSameLayout(order: _*)
      assert(s.fieldNames.toSeq == Seq("k", "v"), s"${order.mkString(",")}: $s")
      assert(Sources.superfile(spark, order).schema == s)
    }
  }

  test("a _common_metadata summary wins over _metadata and the data files") {
    val root = tmp("summary")
    val dir = root.resolve("t")
    Seq((1, "x")).toDF("k", "v").coalesce(1).write.parquet(dir.toString)
    def summaryFrom(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val src = root.resolve(s"src_$name").toString
      df.coalesce(1).write.parquet(src)
      val part = new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, dir.resolve(name))
    }
    summaryFrom(Seq((1, "x", 2.0)).toDF("k", "v", "meta"), "_metadata")
    assert(assertSameLayout(dir.toString).fieldNames.toSeq == Seq("k", "v", "meta"))
    summaryFrom(Seq((1, "x", 2L)).toDF("k", "v", "common"), "_common_metadata")
    assert(assertSameLayout(dir.toString).fieldNames.toSeq == Seq("k", "v", "common"))
  }

  test("the session's parquet confs apply to a footer Spark did not write") {
    // no Spark row metadata in the footer, so the conversion confs decide
    val file = tmp("confs").resolve("plain.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(MICROS,false)); " +
        "required int64 nanos (TIMESTAMP(NANOS,true)); " +
        "optional binary raw; required int32 id; }")
    val writer = ExampleParquetWriter.builder(new HPath(file))
      .withConf(new Configuration).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1000000L).append("nanos", 1000000000L)
      .append("raw", "abc").append("id", 7))
    finally writer.close()
    for (ntz <- Seq("true", "false"); bin <- Seq("true", "false"))
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz) {
        withConf("spark.sql.parquet.binaryAsString", bin) {
          val s = assertSameLayout(file)
          assert(s("ts").dataType == (if (ntz == "true") TimestampNTZType else TimestampType))
          assert(s("nanos").dataType == LongType)
          assert(s("raw").dataType == (if (bin == "true") StringType else BinaryType))
        }
      }
    // without nanosAsLong Spark refuses TIMESTAMP(NANOS); so does the helper
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      assertSameRefusal(file)
    }
  }

  test("a missing path, an empty dir and a glob fail or read as Spark does") {
    val root = tmp("refusals")
    assertSameRefusal(root.resolve("missing").toString)
    assertSameRefusal(Files.createDirectory(root.resolve("empty")).toString)
    assertSameRefusal(root.resolve("nothing*").toString)
    assertSameRefusal(s"$sf/region.parquet", root.resolve("missing").toString)
    // a glob that matches still reads, through Spark's own inference
    val globbed = Sources.parquet(spark, s"$sf/reg*.parquet")
    assert(globbed.schema == spark.read.parquet(s"$sf/region.parquet").schema)
  }
}
