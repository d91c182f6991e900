package graft

import org.scalatest.funsuite.AnyFunSuite

/** A dev tool measures the pipeline the engine runs, never a copy of it:
  * tools reach query pipelines only through `SparkEntry.queries`. A tool
  * that names an engine operator package (`graft.ops`, `graft.text`) or
  * the persist/checkpoint helpers (`Shape.split`, `Workflow.checkpoint*`)
  * is rebuilding a query body by hand, and its numbers drift from the
  * registered query's as the engine changes. Probe a registered query
  * instead (`graft.tools.Probe jobs|exec-plans <query>`).
  */
class ToolsGuardSpec extends AnyFunSuite {
  test("src/main/scala/graft/tools names no engine operator or " +
      "checkpoint helper") {
    val hits = ParquetReadGuardSpec.sitesOf(
        raw"\bgraft\.(ops|text)\b|\bShape\.split\b|\bWorkflow\.checkpoint".r)
      .filter(_.startsWith("src/main/scala/graft/tools/")).distinct
    assert(hits.isEmpty,
      s"dev tools forking engine pipelines: ${hits.mkString(", ")}")
  }
}
