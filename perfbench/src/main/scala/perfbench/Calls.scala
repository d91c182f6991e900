package perfbench

import graft.{SparkEntry, Tables}
import graft.sources.{FileCatalog, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed call: a plan factory over a data directory, the query module
  * it belongs to, and the registry query whose DuckDB oracle states its
  * expected output (if any).
  */
final case class Call(name: String, module: String, oracleOf: Option[String],
    fn: (SparkSession, String) => DataFrame)

object Calls {
  /** The 15 query modules of `SparkEntry.allDefs`, by name. */
  private val modules: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "CoreQueries" -> graft.queries.CoreQueries.defs,
    "JoinQueries" -> graft.queries.JoinQueries.defs,
    "OrderedQueries" -> graft.queries.OrderedQueries.defs,
    "ShapeQueries" -> graft.queries.ShapeQueries.defs,
    "TextQueries" -> graft.queries.TextQueries.defs,
    "EmbeddingQueries" -> graft.queries.EmbeddingQueries.defs,
    "StdlibQueries" -> graft.queries.StdlibQueries.defs,
    "IoQueries" -> graft.queries.IoQueries.defs,
    "ParseQueries" -> graft.queries.ParseQueries.defs,
    "StatsQueries" -> graft.queries.StatsQueries.defs,
    "AnalysisQueries" -> graft.queries.AnalysisQueries.defs,
    "GeoQueries" -> graft.queries.GeoQueries.defs,
    "OlapQueries" -> graft.queries.OlapQueries.defs,
    "Olap2Queries" -> graft.queries.Olap2Queries.defs,
    "TemporalQueries" -> graft.queries.TemporalQueries.defs)

  private lazy val registry: Map[String, Call] = {
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    modules.flatMap { case (m, defs) =>
      defs.map(d => d.name -> Call(d.name, m,
        Some(d.name).filter(oracles.contains), fns(d.name)))
    }.toMap
  }

  /** The spray write: CSV export, `FileCatalog.sprayDelimited` import and
    * read-back. The registry's `q124_spray` writes under a fixed scratch
    * root of its own, so the benchmark makes the same public calls under
    * its work directory and checks the read-back against that entry's
    * oracle. (Index build and superfile promote run in the serving
    * workload's writer.) The round trips below are mirrored the same way.
    */
  private def spray(work: String): Call =
    Call("w_spray", "IoQueries", Some("q124_spray"), { (s, dir) =>
      val out = s"$work/io/w_spray"
      Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").csv(s"$out/ext")
      val cat = new FileCatalog(s, s"$out/catalog")
      cat.sprayDelimited("nation_sprayed", s"$out/ext",
        StructType(Seq(StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType))), parts = 4)
      cat.read("nation_sprayed").orderBy(col("n_nationkey"))
    })

  /** Write-and-read-back round trips through `graft.sources.Sources`, the
    * same calls as the registry entries named, under the work directory.
    */
  private def roundTrip(name: String, work: String): Call = {
    val out = s"$work/io/$name"
    def schema(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    name match {
      case "w_csv" => Call(name, "IoQueries", Some("q110_csv_roundtrip"), { (s, dir) =>
        Sources.csvWrite(Tables.nation(s, dir), out)
        Sources.csvRead(s, out, schema("n_nationkey" -> IntegerType,
          "n_name" -> StringType, "n_regionkey" -> IntegerType))
          .orderBy(col("n_nationkey"))
      })
      case "w_json" => Call(name, "IoQueries", Some("q111_json_roundtrip"), { (s, dir) =>
        Sources.jsonWrite(Tables.customer(s, dir).filter(col("c_custkey") <= 500)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal")), out)
        Sources.jsonRead(s, out, schema("c_custkey" -> LongType,
          "c_name" -> StringType, "c_acctbal" -> DoubleType))
          .orderBy(col("c_custkey"))
      })
      case "w_xml" => Call(name, "IoQueries", Some("q112_xml_roundtrip"), { (s, dir) =>
        Sources.xmlWrite(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name")), out)
        Sources.xmlRead(s, out, schema("n_nationkey" -> IntegerType,
          "n_name" -> StringType))
          .orderBy(col("n_nationkey"))
      })
    }
  }

  def resolve(names: Seq[String], work: String): Seq[Call] = names.map {
    case "w_spray" => spray(work)
    case n @ ("w_csv" | "w_json" | "w_xml") => roundTrip(n, work)
    case n => registry.getOrElse(n,
      throw new IllegalArgumentException(s"unknown call: $n"))
  }

  def oracleSql(name: String): Option[String] = SparkEntry.oracleSql.get(name)
}
