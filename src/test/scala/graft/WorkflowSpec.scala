package graft

import graft.multimodal.Multimodal
import graft.workflow.Workflow
import org.apache.spark.sql.functions._

class WorkflowSpec extends SparkSpec {
  import spark.implicits._

  test("persist materializes once and reuses while the plan is unchanged") {
    val store = "/root/repo/target/graft_io/test_persist"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(store))
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val p1 = Workflow.persist(df, store, "t")
    assert(p1.count() == 2)
    val dirs1 = new java.io.File(store).list().toSet
    val p2 = Workflow.persist(Seq((1, "a"), (2, "b")).toDF("k", "v"), store, "t")
    assert(new java.io.File(store).list().toSet == dirs1) // no rebuild
    // a DIFFERENT plan gets a different fingerprint → new materialization
    Workflow.persist(df.filter(col("k") === 1), store, "t")
    assert(new java.io.File(store).list().size == dirs1.size + 1)
  }

  test("persist store accepts filesystem URIs (Hadoop FileSystem, not java.io)") {
    val store = "file:///root/repo/target/graft_io/test_persist_uri"
    val local = "/root/repo/target/graft_io/test_persist_uri"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(local))
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(Workflow.persist(df, store, "t").count() == 2)
    val dirs1 = new java.io.File(local).list().toSet
    assert(dirs1.nonEmpty)
    // same plan through the URI store → marker seen → no rebuild
    Workflow.persist(Seq((1, "a"), (2, "b")).toDF("k", "v"), store, "t")
    assert(new java.io.File(local).list().toSet == dirs1)
  }

  test("loopN iterates the body n times with checkpointing") {
    val df = Seq(1, 2).toDF("x")
    val out = Workflow.loopN(df, 5, checkpointEvery = 2) { (d, _) =>
      d.withColumn("x", col("x") * 2)
    }.as[Int].collect().toSet
    assert(out == Set(32, 64))
  }

  test("loopWhile runs while the dataset condition holds; maxIter backstops") {
    val df = Seq(1).toDF("x")
    var calls = 0
    val out = Workflow.loopWhile(df, maxIter = 50) { d =>
      d.agg(max(col("x"))).head.getInt(0) < 100
    } { (d, _) => calls += 1; d.withColumn("x", col("x") * 2) }
    assert(out.as[Int].head() == 128 && calls == 7) // 2^7 = 128 >= 100
    // runaway backstop: a never-false condition stops at maxIter
    var capped = 0
    Workflow.loopWhile(df, maxIter = 3)(_ => true) { (d, _) =>
      capped += 1; d
    }
    assert(capped == 3)
  }

  test("loopFiltered routes rows: matching rows re-enter, others exit " +
      "immediately with their value frozen") {
    // x counts down by 3 while > 0; each row needs ceil(x/3) iterations —
    // the body must see ONLY the still-looping rows each round
    val df = Seq(1, 5, 9, 10).toDF("x")
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Workflow.loopFiltered(df, maxIter = 10, col("x") > 0) {
      (looping, _) => sizes += looping.count(); looping.withColumn("x", col("x") - 3)
    }
    // iteration populations: {1,5,9,10} → {2,6,7} → {3,4} → {1} → done
    assert(sizes.toSeq == Seq(4, 3, 2, 1))
    // 1→-2, 5→2→-1, 9→6→3→0, 10→7→4→1→-2
    assert(out.as[Int].collect().sorted.toSeq == Seq(-2, -2, -1, 0))
  }

  // r20 (r19 verdict #5): at small SF the loop's cost is JOBS per
  // iteration, not data — the restructure fused the existence probe into
  // the looped frame's materialization (lazy checkpoint + one aggregate
  // that also counts still-matching rows). Contract: 1 initial job +
  // exactly 2 jobs per body iteration; the old shape ran 3 per iteration
  // plus a final probe.
  test("loopFiltered runs at most 1 + 2*iterations jobs") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val df = Seq(1, 5, 9, 10).toDF("x")
      // 4 body iterations (populations 4,3,2,1 — see the routing test)
      val out = Workflow.loopFiltered(df, maxIter = 10, col("x") > 0) {
        (looping, _) => looping.withColumn("x", col("x") - 3)
      }
      // listener delivery is async: poll until the count is stable
      var last = -1; var cur = jobs.get(); var spins = 0
      while (cur != last && spins < 40) {
        last = cur; Thread.sleep(250); cur = jobs.get(); spins += 1
      }
      val during = cur
      assert(during <= 1 + 2 * 4, s"loopFiltered ran $during jobs for 4 iterations")
      // and the result is still right (the union hasn't run yet)
      assert(out.as[Int].collect().sorted.toSeq == Seq(-2, -2, -1, 0))
    } finally sc.removeSparkListener(listener)
  }

  test("graphN exposes all prior iteration results to the body") {
    val df = Seq(1).toDF("x")
    val results = Workflow.graphN(df, 3) { (prior, _) =>
      // each iteration = union of everything so far (sizes 1,2,4 → total 8)
      prior.reduce(_ unionAll _)
    }
    assert(results.map(_.count()).toSeq == Seq(1, 1, 2, 4))
  }

  test("graphWindowed: bounded result window, out-of-window blocks released") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = Seq(1).toDF("x")
    val out = Workflow.graphWindowed(df, 6, window = 2) { (prior, _) =>
      // body sees AT MOST the last 2 results
      assert(prior.length <= 2)
      prior.reduce(_ unionAll _).withColumn("x", col("x") + 1)
    }
    assert(out.count() > 0)
    val pinned = sc.getPersistentRDDs.keySet -- before
    // 7 checkpoints were created (input + 6 iterations); only the window
    // (≤2) may remain pinned — superseded blocks are RELEASED, not left
    // for the ContextCleaner
    assert(pinned.size <= 2,
      s"expected ≤2 pinned checkpoint RDDs, found ${pinned.size}")
  }

  test("loopN/loopWhile release superseded checkpoint blocks " +
      "(block-store watermark: Dataset.unpersist is a no-op on " +
      "checkpoints — the RDD handle must be unpersisted)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = Seq(1, 2, 3).toDF("x")
    // 12 iterations / checkpointEvery=2 → 6 checkpoints created; all but
    // the live last one must be released by the time the loop returns
    val out = Workflow.loopN(df, 12, checkpointEvery = 2) { (d, _) =>
      d.withColumn("x", col("x") + 1)
    }
    assert(out.count() == 3)
    val pinnedN = sc.getPersistentRDDs.keySet -- before
    assert(pinnedN.size <= 1,
      s"loopN left ${pinnedN.size} checkpoint RDDs pinned (expected ≤1)")

    val before2 = sc.getPersistentRDDs.keySet
    Workflow.loopWhile(df, maxIter = 12, checkpointEvery = 2)(_ => true) {
      (d, _) => d.withColumn("x", col("x") + 1)
    }.count()
    val pinnedW = sc.getPersistentRDDs.keySet -- before2
    assert(pinnedW.size <= 1,
      s"loopWhile left ${pinnedW.size} checkpoint RDDs pinned (expected ≤1)")
  }

  test("dictionary lookup resolves via map-literal column") {
    val dict = Workflow.dictionary(
      Seq((0, "AFRICA"), (1, "AMERICA")).toDF("k", "v"), col("k"), col("v"))
    val out = Seq(0, 1, 7).toDF("k")
      .select(Workflow.dictLookup(dict, col("k")).as("name"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(Some("AFRICA"), Some("AMERICA"), None))
  }

  test("dictionaryAuto picks literal vs join lowering by dict size") {
    val src = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")).toDF("k", "v")
    val rows = Seq(0, 2, 7).toDF("k")
    // small: literal map path, no join in the plan
    val small = Workflow.dictionaryAuto(src, col("k"), col("v"))
    assert(small.literal.isDefined)
    val litOut = Workflow.dictGet(rows, small, col("k"), "name")
    assert(!litOut.queryExecution.executedPlan.toString.contains("Join"))
    // big (forced): broadcast-join path, row count and values preserved
    val big = Workflow.dictionaryAuto(src, col("k"), col("v"), maxLiteralRows = 1)
    assert(big.literal.isEmpty && big.broadcastable)
    val joinOut = Workflow.dictGet(rows, big, col("k"), "name")
    assert(joinOut.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val expect = Seq(0 -> Some("AFRICA"), 2 -> Some("ASIA"), 7 -> None)
    for (out <- Seq(litOut, joinOut))
      assert(out.select(col("k"), col("name")).as[(Int, Option[String])]
        .collect().toSeq.sortBy(_._1) == expect)
    // contains mirrors the same lowering
    assert(Workflow.dictContains(rows, big, col("k"), "hit")
      .select(col("k"), col("hit")).as[(Int, Boolean)].collect().toSeq
      .sortBy(_._1) == Seq(0 -> true, 2 -> true, 7 -> false))
  }

  test("events: WHEN fires only after NOTIFY, in order, exactly once") {
    val sched = new graft.workflow.Events.Scheduler
    val fired = scala.collection.mutable.ArrayBuffer.empty[String]
    sched.when("jobA_done")(e => fired += s"B:${e.text}")
    assert(fired.isEmpty) // B must not fire before A notifies
    sched.notify("jobA_done", "batch1")
    sched.notify("JOBA_DONE", "batch2") // names are case-insensitive
    sched.notify("other_event", "x")    // different event: no dispatch
    assert(fired.toList == List("B:batch1", "B:batch2"))
  }

  test("events: missed-event replay — subscribe after the notify") {
    val sched = new graft.workflow.Events.Scheduler
    sched.notify("fileready", "daily_2026-08-12")
    sched.notify("fileready", "adhoc")
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    // wildcard filter selects only the daily feed; replay delivers the
    // event notified before this subscription existed
    sched.when("fileready", "daily_*")(e => got += e.text)
    assert(got.toList == List("daily_2026-08-12"))
    sched.notify("fileready", "daily_2026-08-13")
    assert(got.toList == List("daily_2026-08-12", "daily_2026-08-13"))
    // a second subscriber has its own cursor: full independent replay
    val got2 = scala.collection.mutable.ArrayBuffer.empty[String]
    sched.when("fileready", "daily_?026-08-1?")(e => got2 += e.text)
    assert(got2.size == 2)
  }

  test("events: WAIT parks until a future matching event, with timeout") {
    val sched = new graft.workflow.Events.Scheduler
    sched.notify("go", "early") // WAIT must NOT see pre-call events
    assert(sched.waitFor("go", timeoutMs = 50).isEmpty)
    val waiter = new Thread {
      var result: Option[graft.workflow.Events.Event] = None
      override def run(): Unit = result = sched.waitFor("go", "later*")
    }
    waiter.start()
    Thread.sleep(100)
    sched.notify("go", "later_batch")
    waiter.join(5000)
    assert(waiter.result.map(_.text).contains("later_batch"))
  }

  test("multimodal decode stub preserves plumbing shape") {
    val blobs = Seq((1L, "x" * 600), (2L, "ab")).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
    val meta = Multimodal.decodeBlobStub(blobs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(meta(1L) == (600L, 3L)) // 600 bytes → 3 frames of 256
    assert(meta(2L) == (2L, 1L))
  }

  test("a null blob is data in every multimodal decoder, not a task failure") {
    import org.apache.spark.sql.types._
    val nul = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, null)), StructType(Seq(
      StructField("id", LongType), StructField("blob", BinaryType))))
    def only(df: org.apache.spark.sql.DataFrame): Seq[Any] = {
      val rows = df.collect()
      assert(rows.length == 1)
      rows.head.toSeq
    }
    assert(only(Multimodal.decodeImage(nul, "id", "blob")) ==
      Seq(1L, -1, -1, -1, -1L))
    assert(only(Multimodal.decodeAudio(nul, "id", "blob")) ==
      Seq(1L, -1L, -1, -1, -1L, -1L, -1, -1L))
    assert(only(Multimodal.decodeVideo(nul, "id", "blob")) ==
      Seq(1L, -1, -1, -1, -1, -1))
    // SQL's octet_length/ascii of NULL, as q122c's oracle computes
    assert(only(Multimodal.decodeBlobStub(nul)) == Seq(1L, null, null, null, null))
    val noRows = Seq(
      Multimodal.imagePixels(nul, "id", "blob"),
      Multimodal.resizeImage(nul, "id", "blob", 2, 2),
      Multimodal.imageHistogram(nul, "id", "blob"),
      Multimodal.resampleAudio(nul, "id", "blob", 2),
      Multimodal.videoFrameLuma(nul, "id", "blob"),
      Multimodal.videoSceneCuts(nul, "id", "blob", 8))
    assert(noRows.map(_.count()) == Seq.fill(6)(0L))
  }

  test("real image decode: spec-compliant PNG codec end-to-end") {
    import graft.multimodal.{Image, Multimodal}
    // gray PNG roundtrip is lossless: decoded dims/pixels match the law
    val png = Multimodal.grayPng(6, 3, seed = 5L)
    assert(new String(png.slice(1, 4), "US-ASCII") == "PNG")
    val imgs = Seq((5L, png)).toDF("id", "img")
    val meta = Multimodal.decodeImage(imgs, "id", "img").collect().head
    assert(meta.getInt(1) == 6 && meta.getInt(2) == 3 && meta.getInt(3) == 1)
    val want = (for (y <- 0 until 3; x <- 0 until 6)
      yield (31L * x + 17L * y + 5L) % 256).sum
    assert(meta.getLong(4) == want)
    // pixel explode sees the exact law values
    val px = Multimodal.imagePixels(imgs, "id", "img")
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    assert(px((2, 1)) == ((31 * 2 + 17 * 1 + 5) % 256))
    // truecolor PNG exercises the multi-band Rec.601 luma path
    val rgbPng = Image.encodePng(Image.Raster(2, 1, 3,
      Array(255, 0, 0, 0, 255, 0).map(_.toByte))) // red px, green px
    val rgbMeta = Multimodal.decodeImage(
      Seq((1L, rgbPng)).toDF("id", "img"), "id", "img").collect().head
    assert(rgbMeta.getInt(3) == 3)
    assert(rgbMeta.getLong(4) == (255 * 299 / 1000 + 255 * 587 / 1000))
    // every decode filter path: a wide image with varied content survives
    // the Sub/Paeth encode → decode roundtrip byte-exactly
    val noisy = Array.tabulate(40 * 9)(i => ((i * 131 + 7) % 256).toByte)
    val round = Image.decodePng(Image.encodePng(
      Image.Raster(40, 9, 1, noisy))).get
    assert(round.data.toSeq == noisy.toSeq)
    // undecodable bytes are data, not task failures
    val bad = Multimodal.decodeImage(
      Seq((9L, Array[Byte](1, 2, 3))).toDF("id", "img"), "id", "img")
      .collect().head
    assert(bad.getInt(1) == -1 && bad.getLong(4) == -1L)
    // a corrupted content byte breaks that chunk's CRC-32 → None
    val tampered = rgbPng.clone()
    tampered(18) = (tampered(18) ^ 1).toByte // inside the IHDR payload
    assert(Image.decodePng(tampered).isEmpty)
    // adversarial IHDR (46000×46000, valid CRCs): rejected by the size
    // bound BEFORE any allocation — not an executor-killing OOM
    val forged = new java.io.ByteArrayOutputStream()
    forged.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    def wchunk(typ: String, payload: Array[Byte]): Unit = {
      forged.write(java.nio.ByteBuffer.allocate(4).putInt(payload.length).array())
      val tb = typ.getBytes("US-ASCII")
      forged.write(tb); forged.write(payload)
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(payload)
      forged.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    wchunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(46000).putInt(46000)
      .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array())
    wchunk("IDAT", Array[Byte](1, 2, 3))
    wchunk("IEND", Array.emptyByteArray)
    assert(Image.decodePng(forged.toByteArray).isEmpty)
    // color survives resize: band count and channel values preserved
    val rgbRs = Multimodal.resizeImage(
      Seq((1L, rgbPng)).toDF("id", "img"), "id", "img", 1, 1)
      .collect().head.getAs[Array[Byte]](1)
    val rgbRaster = Image.decodePng(rgbRs).get
    assert(rgbRaster.bands == 3)
    assert(rgbRaster.sample(0, 0, 0) == 255 && rgbRaster.sample(0, 0, 1) == 0)
    // nearest-neighbor resize: 6×3 → 3×3 keeps columns 0,2,4 of each row
    val rs = Multimodal.resizeImage(imgs, "id", "img", 3, 3)
    val rsPx = Multimodal.imagePixels(rs, "id", "resized")
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    assert(rsPx((1, 2)) == ((31 * 2 + 17 * 2 + 5) % 256))
    // histogram counts every pixel exactly once
    val hist = Multimodal.imageHistogram(imgs, "id", "img")
      .collect().head.getSeq[Float](1)
    assert(hist.size == 16 && hist.sum == 18f)
  }

  test("file monitor: WHEN-subscribed job runs exactly once per landing") {
    val sched = new graft.workflow.Events.Scheduler
    implicit val cat: graft.sources.FileCatalog = new graft.sources.FileCatalog(
      spark, s"/root/repo/target/graft_io/monitor_spec/${System.nanoTime()}")
    val mon = new graft.workflow.FileMonitor(sched)
    val landed = scala.collection.mutable.ArrayBuffer.empty[String]
    sched.when("fileLanded")(e => landed += e.text)

    // file already present at monitor creation fires on the FIRST cycle
    // (the reference's triggered-list starts empty: exists => fire)
    cat.write("lz::pre", Seq((1, "x")).toDF("k", "v"))
    val id = mon.monitorLogicalFileName("fileLanded", "lz::*", shotCount = 2)
    assert(mon.poll() == 1 && landed.toSeq == Seq("lz::pre"))
    // steady state: same file does not re-fire
    assert(mon.poll() == 0)
    // a new landing fires exactly once, reaching the shot limit
    cat.write("lz::a", Seq((2, "y")).toDF("k", "v"))
    assert(mon.poll() == 1 && landed.toSeq == Seq("lz::pre", "lz::a"))
    assert(!mon.isActive(id))
    // shot limit reached: further landings are ignored
    cat.write("lz::b", Seq((3, "z")).toDF("k", "v"))
    assert(mon.poll() == 0 && landed.size == 2)
    // non-matching names never fire
    val id2 = mon.monitorLogicalFileName("fileLanded", "other::*",
      shotCount = 1)
    cat.write("lz::c", Seq((4, "w")).toDF("k", "v"))
    assert(mon.poll() == 0 && mon.isActive(id2))
  }

  test("file monitor: reappearing file re-fires; -1 runs until abort") {
    val sched = new graft.workflow.Events.Scheduler
    implicit val cat: graft.sources.FileCatalog = new graft.sources.FileCatalog(
      spark, s"/root/repo/target/graft_io/monitor_spec/${System.nanoTime()}")
    val mon = new graft.workflow.FileMonitor(sched)
    var fired = 0
    sched.when("arrived")(_ => fired += 1)
    val id = mon.monitorLogicalFileName("arrived", "in::*", shotCount = -1)
    cat.write("in::f", Seq((1, "x")).toDF("k", "v"))
    assert(mon.poll() == 1)
    // disappear -> reappear: the triggered list resets to the current
    // match set each cycle, so the re-landing fires again
    cat.delete("in::f")
    assert(mon.poll() == 0)
    cat.write("in::f", Seq((2, "y")).toDF("k", "v"))
    assert(mon.poll() == 1 && fired == 2)
    // -1 never self-completes; abort deactivates
    assert(mon.isActive(id))
    mon.abort(id)
    cat.write("in::g", Seq((3, "z")).toDF("k", "v"))
    assert(mon.poll() == 0 && !mon.isActive(id))
  }

  test("file monitor: physical landing zone, modtime identity, WAIT wiring") {
    val sched = new graft.workflow.Events.Scheduler
    val mon = new graft.workflow.FileMonitor(sched)
    val dir = new java.io.File(
      s"/root/repo/target/graft_io/lz_spec/${System.nanoTime()}")
    dir.mkdirs()
    val sub = new java.io.File(dir, "sub"); sub.mkdirs()
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    sched.when("dropped")(e => texts += e.text)
    mon.monitorFile("dropped", dir.getPath, "*.csv", subDirs = false,
      shotCount = -1)
    val f = new java.io.File(dir, "batch1.csv")
    java.nio.file.Files.write(f.toPath, "a,b\n".getBytes)
    new java.io.File(dir, "ignore.txt").createNewFile()
    val fSub = new java.io.File(sub, "nested.csv"); fSub.createNewFile()
    // only the top-level *.csv fires (subDirs=false), text = plain path
    assert(mon.poll() == 1 && texts.toSeq == Seq(f.getPath))
    assert(mon.poll() == 0)
    // rewrite with a newer modtime: identity is name;modtime => re-fires
    java.nio.file.Files.write(f.toPath, "c,d\n".getBytes)
    f.setLastModified(f.lastModified() + 2000)
    assert(mon.poll() == 1 && texts.size == 2)
    // a WHEN-driven workflow can consume the event like any NOTIFY:
    // subscribe-after-fire replays from the log (missed-event delivery)
    var ran = 0
    sched.when("dropped", "*batch1*")(_ => ran += 1)
    assert(ran == 2) // both landings replayed exactly once each
  }

  test("file monitor: a throwing matches() skips the cycle for that " +
      "monitor only, state untouched; recovery resumes cleanly") {
    val sched = new graft.workflow.Events.Scheduler
    val mon = new graft.workflow.FileMonitor(sched)
    val fired = scala.collection.mutable.ArrayBuffer.empty[String]
    sched.when("cust")(e => fired += e.text)
    @volatile var phase = 0
    val id = mon.monitorCustom("cust", () => phase match {
      case 0 => Seq(("a", "a"))
      case 1 => throw new java.io.IOException("transient catalog error")
      case _ => Seq(("a", "a"), ("b", "b"))
    }, shotCount = -1)
    assert(mon.poll() == 1 && fired.toSeq == Seq("a"))
    // transient error: poll survives, fires nothing for this monitor,
    // leaves its triggered list untouched (dfurun keeps the wu alive)
    phase = 1
    assert(mon.poll() == 0 && mon.isActive(id))
    // …and a HEALTHY monitor still fires in the same error cycle
    val dir = new java.io.File(
      s"/root/repo/target/graft_io/lz_err/${System.nanoTime()}")
    dir.mkdirs()
    sched.when("ok")(e => fired += "ok")
    mon.monitorFile("ok", dir.getPath, "*.csv", shotCount = -1)
    new java.io.File(dir, "x.csv").createNewFile()
    assert(mon.poll() == 1 && fired.toSeq == Seq("a", "ok"))
    // recovery: 'a' was already triggered before the error — only the
    // genuinely-new 'b' fires (no duplicate from the error window)
    phase = 2
    assert(mon.poll() == 1 && fired.toSeq == Seq("a", "ok", "b"))
  }

  test("file monitor: register/abort churn under a live 2ms ticker — " +
      "no lost fires, no over-fires, ticker survives a throwing handler") {
    val sched = new graft.workflow.Events.Scheduler
    val mon = new graft.workflow.FileMonitor(sched)
    val dir = new java.io.File(
      s"/root/repo/target/graft_io/lz_race/${System.nanoTime()}")
    dir.mkdirs()
    val fires = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    sched.when("race") { e =>
      fires.computeIfAbsent(e.text,
        _ => new java.util.concurrent.atomic.AtomicInteger(0))
        .incrementAndGet()
      // the poison file's handler throws INSIDE the ticker's notify —
      // the timer thread must survive it (ADVICE r10: a dead ticker
      // behind a non-empty handle made start() a silent no-op)
      if (e.text.contains("poison")) throw new RuntimeException("boom")
    }
    mon.start(intervalMs = 2)
    try {
      // land the poison first so every later fire proves the ticker lived
      mon.monitorFile("race", dir.getPath, "poison-*", shotCount = 1)
      new java.io.File(dir, "poison-1.dat").createNewFile()

      // churn: 4 client threads × 25 monitors each, registering + landing
      // concurrently with live ticker polls; each thread aborts a third
      // of its own EARLIER monitors while later ones are still landing
      // monitors with i%3==0 get aborted two registrations later (the
      // abort may race the fire — excluded from must-fire); everything
      // else must fire exactly once
      val keep = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until 4).map { c =>
        new Thread(() => {
          val mine = scala.collection.mutable.ArrayBuffer.empty[String]
          (0 until 25).foreach { i =>
            val file = new java.io.File(dir, s"m$c-$i-0.dat")
            val id = mon.monitorFile("race", dir.getPath, s"m$c-$i-*",
              shotCount = 1)
            mine += id
            file.createNewFile()
            if (i % 3 == 2) mon.abort(mine(i - 2))
            if (i % 3 != 0) keep.add(file.getPath)
          }
        }, s"churn-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val mustFire = keep.asScala.toSet
      // every kept (never-aborted) monitor must fire exactly once
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
        !mustFire.forall(p => fires.containsKey(p))) Thread.sleep(10)
      val missing = mustFire.filterNot(fires.containsKey)
      assert(missing.isEmpty, s"lost fires: $missing")
      // no monitor ever fires past its shotCount — even aborted-mid-poll
      fires.asScala.foreach { case (text, n) =>
        assert(n.get() == 1, s"$text fired ${n.get()} times")
      }
      // ticker is still alive after all that (poison threw long ago)
      val lateLatch = new java.util.concurrent.CountDownLatch(1)
      sched.when("late")(_ => lateLatch.countDown())
      mon.monitorFile("late", dir.getPath, "final-*", shotCount = 1)
      new java.io.File(dir, "final-1.dat").createNewFile()
      assert(lateLatch.await(15, java.util.concurrent.TimeUnit.SECONDS),
        "ticker died: the poison handler's exception killed the timer")
    } finally mon.stop()
    // stop→start recovers (the finally-cleared handle): a fresh start
    // drives new cycles
    val againLatch = new java.util.concurrent.CountDownLatch(1)
    sched.when("again")(_ => againLatch.countDown())
    mon.monitorFile("again", dir.getPath, "again-*", shotCount = 1)
    new java.io.File(dir, "again-1.dat").createNewFile()
    mon.start(intervalMs = 2)
    try assert(againLatch.await(15, java.util.concurrent.TimeUnit.SECONDS))
    finally mon.stop()
  }

  test("end-to-end composite: CRON → monitor → WHEN → spray → curate → " +
      "bucketed publish, hands-free (the reference's signature " +
      "landing-zone pattern in one gate)") {
    import org.apache.spark.sql.types._
    val tag = System.nanoTime()
    val sched = new graft.workflow.Events.Scheduler
    val cat = new graft.sources.FileCatalog(
      spark, s"/root/repo/target/graft_io/e2e_cat_$tag")
    val mon = new graft.workflow.FileMonitor(sched)
    val lz = new java.io.File(s"/root/repo/target/graft_io/e2e_lz_$tag")
    lz.mkdirs()
    val tableName = s"graft_e2e_docs_$tag"

    // CRON wiring: the schedule's pseudo-event drives monitor cycles —
    // the reference's `monitorCycle` timer expressed as WHEN(CRON(...))
    sched.when("lzCron")(_ => mon.poll())
    mon.monitorFile("fileLanded", lz.getPath, "*.csv", shotCount = 1)

    // the WHEN-subscribed pipeline: spray the landed file, curate
    // (exact dedup + quality floor), publish bucketed, notify downstream
    sched.when("fileLanded") { e =>
      cat.sprayDelimited("lz::docs", e.text,
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))), parts = 2)
      val curated = cat.read("lz::docs")
        .dropDuplicates("text")
        .filter(length(col("text")) > 10)
      graft.sources.Bucketed.writeBucketed(curated, tableName, "doc_id", 4,
        s"/root/repo/target/graft_io/e2e_bkt_$tag")
      sched.notify("published", tableName)
    }
    val published = new java.util.concurrent.CountDownLatch(1)
    sched.when("published")(_ => published.countDown())

    val cron = sched.cron("lzCron", 50)
    try {
      // drop the file AFTER all wiring: everything downstream is event-
      // driven, no manual polls
      val f = new java.io.File(lz, "batch1.csv")
      java.nio.file.Files.write(f.toPath,
        ("""1,the quick brown fox jumps
           |2,short
           |3,the quick brown fox jumps
           |4,a perfectly reasonable document
           |""".stripMargin).getBytes("UTF-8"))
      assert(published.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"pipeline never published; history=${sched.history.map(_.name).distinct}")
      // curated content: dup (3) collapsed into (1), junk (2) dropped
      val got = spark.table(tableName)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(got.keySet.intersect(Set(2L)) == Set.empty)
      assert(got.size == 2 && got.contains(4L))
      assert(got.keySet.intersect(Set(1L, 3L)).size == 1) // one survivor
      // the published table is genuinely bucketed (amortized-join ready)
      val joined = graft.sources.Bucketed.colocatedJoin(
        spark, tableName, tableName, "doc_id")
      assert(!joined.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "published table lost its bucketing")
    } finally {
      cron.close()
      mon.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tableName")
    }
  }

  test("file monitor: background timer drives cycles until stop") {
    val sched = new graft.workflow.Events.Scheduler
    implicit val cat: graft.sources.FileCatalog = new graft.sources.FileCatalog(
      spark, s"/root/repo/target/graft_io/monitor_spec/${System.nanoTime()}")
    val mon = new graft.workflow.FileMonitor(sched)
    mon.monitorLogicalFileName("timerLanded", "tz::*", shotCount = -1)
    // subscribe BEFORE starting the timer: WHEN replays missed events, so
    // the latch cannot race the first poll cycle
    val seen = new java.util.concurrent.CountDownLatch(1)
    sched.when("timerLanded", "tz::*")(_ => seen.countDown())
    mon.start(intervalMs = 50)
    try {
      cat.write("tz::x", Seq((1, "a")).toDF("k", "v"))
      // the DFU-monitor timer must observe the landing without manual polls
      assert(seen.await(15, java.util.concurrent.TimeUnit.SECONDS))
    } finally mon.stop()
  }

  test("incremental aggregate: refresh reads ONLY unseen parts, no-op " +
      "refresh leaves the state version untouched, merge equals recompute") {
    import graft.workflow.Incremental
    val base = s"/root/repo/target/graft_io/inc_spec/${System.nanoTime()}"
    val rows = Seq((1, 10.0), (1, 20.0), (2, 5.0), (2, 7.0), (1, 40.0), (3, 1.0))
    val paths = rows.grouped(2).zipWithIndex.map { case (g, i) =>
      val p = s"$base/part$i"
      g.toDF("k", "v").write.parquet(p)
      p
    }.toSeq
    val inc = new Incremental(spark, s"$base/state", Seq("k"),
      Seq(Incremental.sumOf("v", "s"), Incremental.countAll("n"),
        Incremental.minOf("v", "lo"), Incremental.maxOf("v", "hi")))

    val (_, read1) = inc.refresh(paths.take(2))
    assert(read1.toSet == paths.take(2).toSet)
    // overlapping request: only the genuinely new part is read
    val (st2, read2) = inc.refresh(paths)
    assert(read2 == Seq(paths(2)), s"re-read old parts: $read2")
    // no-op refresh: nothing read, no new version
    val before = inc.consumed
    val (_, read3) = inc.refresh(paths)
    assert(read3.isEmpty && inc.consumed == before)

    val got = st2.orderBy(col("k")).collect()
      .map(r => (r.getInt(0), r.getDecimal(1).doubleValue, r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val full = rows.toDF("k", "v").groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("k")).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == full.toSeq)
  }

  test("incremental aggregate: first-ever refresh with no unseen parts " +
      "fails with a clear error, not NoSuchElementException") {
    import graft.workflow.Incremental
    val base = s"/root/repo/target/graft_io/inc_empty/${System.nanoTime()}"
    val inc = new Incremental(spark, s"$base/state", Seq("k"),
      Seq(Incremental.countAll("n")))
    val e = intercept[IllegalStateException] { inc.refresh(Nil) }
    assert(e.getMessage.contains("no prior version"))
  }

  test("incremental aggregate: a refresher whose next version a peer " +
      "claimed first retries on the fresher state, losing no part") {
    import graft.workflow.Incremental
    val base = s"target/graft_io/inc_race/${System.nanoTime()}"
    val rows = Seq((1, 10.0), (2, 5.0), (1, 40.0), (3, 1.0), (2, 7.0), (1, 2.0))
    val paths = rows.grouped(2).zipWithIndex.map { case (g, i) =>
      val p = s"$base/part$i"
      g.toDF("k", "v").write.parquet(p)
      p
    }.toSeq
    def inc() = new Incremental(spark, s"$base/state", Seq("k"),
      Seq(Incremental.sumOf("v", "s"), Incremental.countAll("n")))
    val a = inc(); val b = inc()
    a.refresh(paths.take(1))
    // the peer commits version 2 while `a` traverses its part list, i.e.
    // after `a` read version 1 and before it publishes version 2
    var peerRan = false
    val racing = LazyList(paths(2)).map { p =>
      if (!peerRan) { peerRan = true; b.refresh(paths.slice(1, 2)) }
      p
    }
    val (st, read) = a.refresh(racing)
    assert(peerRan && read == Seq(paths(2)))
    assert(a.consumed == paths.take(3).toSet && b.consumed == a.consumed,
      s"lost parts: ${paths.take(3).toSet -- a.consumed}")
    val expected = rows.take(6).toDF("k", "v").groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("k")).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
    def norm(df: org.apache.spark.sql.DataFrame) = df.orderBy(col("k"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1).doubleValue, r.getLong(2)))
      .toSeq
    assert(norm(st) == expected && norm(b.state.get) == expected)
    // the losing attempt's aggregate dir is gone, and version 1 was pruned
    // when version 3 was published: one dir for each of versions 2 and 3
    val state = new java.io.File(s"$base/state").list().toSeq
    assert(state.filter(_.startsWith("agg_")).map(_.takeWhile(_ != '-')).sorted ==
      Seq("agg_v2", "agg_v3"), state)
  }

  test("incremental aggregate: a state dir whose manifests name no " +
      "aggregate dir (agg_v<N> layout) reads unchanged and refreshes on top") {
    import graft.workflow.Incremental
    val base = s"target/graft_io/inc_legacy/${System.nanoTime()}"
    Seq((1, 3L), (2, 4L)).toDF("k", "n").write.parquet(s"$base/part0")
    Seq((1, 1L)).toDF("k", "n").write.parquet(s"$base/part1")
    val aggs = Seq(Incremental.countAll("n"))
    // version 1 as the earlier layout wrote it: agg_v1 + bare part list
    spark.read.parquet(s"$base/part0").groupBy(col("k"))
      .agg(count(lit(1)).as("n")).write.parquet(s"$base/state/agg_v1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/state/manifest_v1.txt"), s"$base/part0")
    val inc = new Incremental(spark, s"$base/state", Seq("k"), aggs)
    assert(inc.consumed == Set(s"$base/part0"))
    assert(inc.state.get.orderBy("k").as[(Int, Long)].collect().toSeq ==
      Seq((1, 1L), (2, 1L)))
    val (st, read) = inc.refresh(Seq(s"$base/part0", s"$base/part1"))
    assert(read == Seq(s"$base/part1"))
    assert(st.orderBy("k").as[(Int, Long)].collect().toSeq ==
      Seq((1, 2L), (2, 1L)))
  }
  test("incremental aggregate: each refresh prunes every version but the " +
      "newest two, a legacy agg_v<N> dir too, and the state stays exact") {
    import graft.workflow.Incremental
    val base = s"target/graft_io/inc_prune/${System.nanoTime()}"
    val rows = Seq((1, 10.0), (2, 5.0), (1, 40.0), (3, 1.0), (2, 7.0), (1, 2.0), (4, 3.0),
      (3, 8.0), (2, 6.0), (1, 9.0))
    val paths = rows.grouped(2).zipWithIndex.map { case (g, i) =>
      val p = s"$base/part$i"
      g.toDF("k", "v").write.parquet(p)
      p
    }.toSeq
    val aggs = Seq(Incremental.sumOf("v", "s"), Incremental.countAll("n"))
    // version 1 in the earlier layout: agg_v1 and a bare part list
    spark.read.parquet(paths.head).groupBy(col("k"))
      .agg(aggs.head.first, aggs(1).first).write.parquet(s"$base/state/agg_v1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/state/manifest_v1.txt"), paths.head)
    val inc = new Incremental(spark, s"$base/state", Seq("k"), aggs)
    // four refreshes publish versions 2 to 5
    val states = (2 to 5).map(i => inc.refresh(paths.take(i))._1)
    val files = new java.io.File(s"$base/state").list().toSeq.sorted
    assert(files.filter(_.startsWith("manifest_v")) == Seq("manifest_v4.txt", "manifest_v5.txt") &&
      files.filter(_.startsWith("agg_")).map(_.takeWhile(_ != '-')) == Seq("agg_v4", "agg_v5"),
      files)
    def scratch(n: Int) = rows.take(n).toDF("k", "v").groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("k")).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
    def norm(df: org.apache.spark.sql.DataFrame) = df.orderBy(col("k"))
      .collect().map(r => (r.getInt(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
    assert(inc.consumed == paths.toSet)
    assert(norm(inc.state.get) == scratch(10) && norm(states(3)) == scratch(10))
    // the previous refresh's frame, version 4, stays readable
    assert(norm(states(2)) == scratch(8))
  }
}
