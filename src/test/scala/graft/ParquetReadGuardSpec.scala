package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every engine parquet read goes through `Sources.parquet`, which reads the
  * stored layout on the driver; a plain `read.parquet(` anywhere else in the
  * engine would bring back the schema-inference job it removes.
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  test("read.parquet( appears in src/main/scala only as Sources.parquet's fallback") {
    val call = raw"read\s*\.\s*parquet\s*\(".r
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => call.findAllMatchIn(Files.readString(f)).map(_ => f.toString))
      .toSeq
    assert(hits == Seq("src/main/scala/graft/sources/Sources.scala"),
      s"parquet reads outside Sources.parquet: ${hits.mkString(", ")}")
  }
}
