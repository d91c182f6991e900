package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every engine parquet read goes through `Sources.parquet`, which reads the
  * stored layout on the driver; a plain `read.parquet(` anywhere else in the
  * engine would bring back the schema-inference job it removes. The only
  * other place that builds a parquet relation is the INDEX reader behind it,
  * `TopLevelKey`.
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  import ParquetReadGuardSpec.sitesOf

  test("read.parquet( appears in src/main/scala only as Sources.parquet's fallback") {
    val hits = sitesOf(raw"read\s*\.\s*parquet\s*\(".r)
    assert(hits == Seq("src/main/scala/graft/sources/Sources.scala"),
      s"parquet reads outside Sources.parquet: ${hits.mkString(", ")}")
  }

  test("HadoopFsRelation( and baseRelationToDataFrame( appear only in TopLevelKey") {
    val hits = sitesOf(raw"\b(HadoopFsRelation|baseRelationToDataFrame)\s*\(".r)
    assert(hits.distinct == Seq("src/main/scala/graft/sources/TopLevelKey.scala"),
      s"relations built outside TopLevelKey: ${hits.mkString(", ")}")
  }
}

object ParquetReadGuardSpec {
  /** Each Scala file under `root`, with its text. */
  def scalaFiles(root: String): Seq[(String, String)] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => (f.toString, Files.readString(f)))
      .toSeq

  /** `text` without its `/* */` comments and whole-line `//` comments. */
  def withoutComments(text: String): String =
    raw"(?s)/\*.*?\*/".r.replaceAllIn(text, "").linesIterator
      .filterNot(_.trim.startsWith("//")).mkString("\n")

  /** Each Scala file under src/main/scala, with its text. */
  lazy val sources: Seq[(String, String)] = scalaFiles("src/main/scala")

  /** One entry per match of `call` in a Scala file under src/main/scala. */
  def sitesOf(call: scala.util.matching.Regex): Seq[String] =
    sources.flatMap { case (f, text) => call.findAllMatchIn(text).map(_ => f) }
}
