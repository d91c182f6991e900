package graft

import graft.tools.Probe
import java.nio.file.{Files, Paths}

class ProbeSpec extends SparkSpec {

  private val plans = Paths.get(s"target/probe_spec/${System.nanoTime()}")

  private def probe(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.run(spark, args, sf, plans))
    out.toString("UTF-8")
  }

  test("time/jobs/shuffle print one line per run of the selected queries") {
    val time = probe("time", "q01_agg", "2")
    assert(time.linesIterator.count(_.startsWith("[time] q01_agg run ")) == 2,
      time)
    assert("rows=(\\d+)".r.findFirstMatchIn(time).exists(_.group(1).toLong > 0),
      time)
    val jobs = probe("jobs", "q01_agg", "1")
    assert(jobs.contains("[jobs] q01_agg run 1:") &&
      "jobs=(\\d+)".r.findFirstMatchIn(jobs).exists(_.group(1).toInt > 0) &&
      jobs.contains("[jobs]   job "), jobs)
    // q01_agg aggregates by key, so its executed plan has an exchange
    val shuffle = probe("shuffle", "q01_agg", "1")
    assert(shuffle.contains("[shuffle] q01_agg run 1:") &&
      "shuffles=(\\d+)".r.findFirstMatchIn(shuffle).exists(_.group(1).toInt > 0) &&
      shuffle.contains("[shuffle]   ex0 dataSize="), shuffle)
  }

  test("plan/exec-plans write non-empty plan files under the tag") {
    assert(probe("plan", "q01_agg", "t").contains("[plan] wrote"))
    assert(probe("exec-plans", "q01_agg", "t").contains("[exec-plans] wrote"))
    val plan = Files.readString(plans.resolve("t/q01_agg.txt"))
    assert(plan.contains("AdaptiveSparkPlan") && plan.contains("Scan parquet"),
      plan)
    val exec = Files.readString(plans.resolve("t/q01_agg.exec.txt"))
    assert(exec.contains("== q01_agg ==") && exec.contains("Scan parquet"), exec)
  }

  test("q99's connected-components loop is probed through the registered " +
      "query: round checkpoints in exec-plans, one line per job in jobs") {
    val q = "q99_dedup_components"
    assert(probe("exec-plans", q, "cc").contains("[exec-plans] wrote"))
    val exec = Files.readString(plans.resolve(s"cc/$q.exec.txt"))
    val checkpoints = exec.split("== action: ").toSeq.drop(1)
      .filter(_.startsWith("localCheckpoint"))
    // the initial edge set, then per star round a large-star and a
    // small-star checkpoint, then the labels
    assert(checkpoints.size >= 4, exec)
    checkpoints.foreach { a =>
      assert(!a.contains("CartesianProduct") &&
        !a.contains("BroadcastNestedLoopJoin"), a)
    }
    val jobs = probe("jobs", q, "1")
    assert("jobs=(\\d+)".r.findFirstMatchIn(jobs).exists(_.group(1).toInt > 1) &&
      jobs.linesIterator.count(_.startsWith("[jobs]   job ")) > 1, jobs)
  }

  test("an unknown mode or query is rejected") {
    intercept[RuntimeException](probe("bogus", "q01_agg"))
    intercept[IllegalArgumentException](probe("time", "no_such_query"))
  }
}
