package graft

import graft.serve.{SystemInfo, Workunits}
import org.apache.spark.sql.functions._

/** Std.System.{Job,Thorlib,Log,Debug,Util} analogs: job identity from the
  * SparkContext, per-row node id as a column, correlation ids, version
  * check and unique-integer contracts.
  */
class SystemInfoSpec extends SparkSpec {
  import spark.implicits._

  test("Job: identity comes from the live SparkContext") {
    assert(SystemInfo.Job.nodes(spark) > 0)
    assert(SystemInfo.Job.wuid(spark).nonEmpty)
    assert(SystemInfo.Job.target(spark).startsWith("local"))
    assert(SystemInfo.Job.daliServer(spark) == spark.sparkContext.master)
    assert(SystemInfo.Job.platform(spark).startsWith("spark "))
    assert(SystemInfo.Job.os().nonEmpty)
    assert(SystemInfo.Job.logString("hello") == 5)
  }

  test("Thorlib: node() is a per-row partition column; l2p via catalog") {
    val ids = spark.range(0, 100).repartition(4)
      .select(SystemInfo.Thorlib.node().as("n"))
      .distinct().as[Int].collect().sorted
    assert(ids.length == 4 && ids.forall(n => n >= 0 && n < 4))
    val cat = new graft.sources.FileCatalog(spark,
      s"/root/repo/target/graft_io/sysinfo-${System.nanoTime()}")
    cat.write("f1", Seq(1).toDF("k"))
    assert(SystemInfo.Thorlib.logicalToPhysical(cat, "f1").nonEmpty)
    assertThrows[NoSuchElementException] {
      SystemInfo.Thorlib.logicalToPhysical(cat, "nope")
    }
    assert(SystemInfo.Thorlib.getExpandLogicalName("proj", "x") == "proj::x")
    assert(SystemInfo.Thorlib.getExpandLogicalName("proj", "a::x") == "a::x")
  }

  test("Log: W3C-shaped trace ids, elapsed clock, workunit messages") {
    assert(SystemInfo.Log.getTraceID().matches("[0-9a-f]{32}"))
    assert(SystemInfo.Log.getSpanID().matches("[0-9a-f]{16}"))
    assert(SystemInfo.Log.getTraceSpanHeader() ==
      s"00-${SystemInfo.Log.getTraceID()}-${SystemInfo.Log.getSpanID()}-01")
    assert(SystemInfo.Log.getElapsedMs() >= 0)
    // global/local ids are this job's trace and span; nothing called it
    assert(SystemInfo.Log.getGlobalId() == SystemInfo.Log.getTraceID())
    assert(SystemInfo.Log.getLocalId() == SystemInfo.Log.getSpanID())
    assert(SystemInfo.Log.getCallerId() == "")
    assert(SystemInfo.Log.generateGloballyUniqueId() !=
      SystemInfo.Log.generateGloballyUniqueId())
    // addWorkunitInformation writes into the run registry's messages
    val wu = new Workunits(spark)
    val w = wu.record("sys_info_run") { Seq(1).toDF("k") }
    SystemInfo.Log.addWorkunitMessage(wu, w, "information", "step done", 7)
    val msgs = wu.workunitMessages(w).select("message").as[String].collect()
    assert(msgs.contains("information (7): step done"))
    assert(!wu.addMessage("W99999999", "error", "nope"))
  }

  test("Debug + Util: msTick monotonic, DNS fallbacks, version check") {
    val t0 = SystemInfo.Debug.msTick()
    SystemInfo.Debug.sleep(5)
    assert(SystemInfo.Debug.msTick() >= t0 + 4)
    assert(SystemInfo.Debug.printStackReport().contains("SystemInfoSpec"))
    // loopback resolves both ways; garbage resolves to ""
    assert(Set("127.0.0.1", "::1", "0:0:0:0:0:0:0:1")
      .contains(SystemInfo.Util.resolveHostName("localhost")))
    assert(SystemInfo.Util.getHostName("127.0.0.1").nonEmpty)
    assert(SystemInfo.Util.resolveHostName("no.such.host.invalid") == "")
    // unique integers: distinct and increasing within the job
    val us = (1 to 100).map(_ => SystemInfo.Util.getUniqueInteger())
    assert(us.distinct.length == 100 && us == us.sorted)
    // PlatformVersionCheck semantics (Util.ecl:65): >= compare on up to
    // three leading integers, trailing cruft ignored
    assert(SystemInfo.Util.platformVersionCheck("3.4.0-1", "3.4.0"))
    assert(SystemInfo.Util.platformVersionCheck("3.4", "3.5.1"))
    assert(!SystemInfo.Util.platformVersionCheck("4.0.1", "4.0.0"))
    assert(SystemInfo.Util.platformVersionCheck("4", "4.0.0"))
    assert(!SystemInfo.Util.platformVersionCheck("5", "4.9.9"))
    assert(SystemInfo.Util.platformVersionCheck("3.0.0", spark))
  }
}
