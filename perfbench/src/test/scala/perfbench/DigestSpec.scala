package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false").getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  override def afterAll(): Unit = spark.stop()

  private def rows = spark.range(0, 200).select(
    col("id"), (col("id") % 7).as("k"), col("id").cast("string").as("s"))

  test("an unordered digest ignores row order and partitioning") {
    val a = Harness.digest(rows.orderBy("id"), ordered = false)
    val b = Harness.digest(rows.repartition(5).orderBy(col("id").desc),
      ordered = false)
    assert(a == b)
    assert(a._1 == 200L)
  }

  test("an ordered digest depends only on the order of the rows") {
    val asc = Harness.digest(rows.orderBy("id"), ordered = true)
    // the same order over another number of partitions
    val asc1 = Harness.digest(rows.coalesce(1).orderBy("id"), ordered = true)
    assert(asc == asc1)
  }

  test("a reordered result fails the ordered digest") {
    val asc = Harness.digest(rows.orderBy("id"), ordered = true)
    val desc = Harness.digest(rows.orderBy(col("id").desc), ordered = true)
    val byKey = Harness.digest(rows.orderBy("k", "id"), ordered = true)
    assert(asc != desc)
    assert(asc != byKey)
    assert(asc._1 == desc._1)
  }

  test("a changed value, a dropped row or a dropped column changes the digest") {
    val base = Harness.digest(rows, ordered = false)
    assert(Harness.digest(rows.withColumn("k", col("k") + 1), ordered = false) != base)
    assert(Harness.digest(rows.filter(col("id") =!= 17), ordered = false) != base)
    assert(Harness.digest(rows.drop("s"), ordered = false) != base)
  }

  test("the output columns are listed by name and type, in name order") {
    assert(Harness.schemaOf(rows) == "id:bigint,k:bigint,s:string")
    assert(Harness.schemaOf(rows.select(col("k").cast("int"), col("id"))) ==
      "id:bigint,k:int")
  }
}
