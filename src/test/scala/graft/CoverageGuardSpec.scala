package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md names the engine function that ports each reference
  * operator. A name that no longer exists there (renamed, deleted or
  * misspelt) points a reader at nothing, so every backticked `Type.method`
  * whose `Type` is a class, trait or object under src/main/scala must be a
  * `def` in a file that declares that type. Names of other types (Spark's
  * `Seq.toDF`, file names) are not checked.
  */
class CoverageGuardSpec extends AnyFunSuite {
  import ParquetReadGuardSpec.sources

  test("every Type.method COVERAGE.md cites on an engine type names a def of it") {
    val cited = raw"`([A-Z]\w*)\.([a-z_]\w*)".r
      .findAllMatchIn(Files.readString(Paths.get("COVERAGE.md")))
      .map(m => (m.group(1), m.group(2))).toSeq.distinct
    def declaring(t: String) =
      sources.filter { case (_, text) => raw"\b(class|trait|object)\s+$t\b".r.findFirstIn(text).isDefined }
    val checked = cited.map { case (t, m) => (t, m, declaring(t)) }.filter(_._3.nonEmpty)
    assert(checked.size >= 100, s"only ${checked.size} engine names cited")
    val missing = checked.collect {
      case (t, m, files) if !files.exists { case (_, text) =>
          raw"\bdef\s+$m\b".r.findFirstIn(text).isDefined } =>
        s"$t.$m"
    }
    assert(missing.isEmpty, s"COVERAGE.md cites functions that do not exist: ${missing.mkString(", ")}")
  }
}
