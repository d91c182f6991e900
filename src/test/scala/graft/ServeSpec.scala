package graft

import graft.agg.Aggregators
import graft.serve.{Audit, Published}
import org.apache.spark.sql.functions._

class ServeSpec extends SparkSpec {
  import spark.implicits._

  test("published queries: publish / run with STORED params / unpublish") {
    val pub = new Published(spark)
    pub.publish("top_customers") { (s, params) =>
      val n = params.long("limit", 3)
      Tables.customer(s, sf).orderBy(col("c_acctbal").desc).limit(n.toInt)
    }
    assert(pub.list == Seq("top_customers"))
    assert(pub.run("top_customers").count() == 3)
    assert(pub.run("top_customers", Map("limit" -> "7")).count() == 7)
    pub.unpublish("top_customers")
    intercept[NoSuchElementException] { pub.run("top_customers") }
  }

  test("HTTP endpoint serves published queries with params as JSON") {
    val pub = new graft.serve.Published(spark)
    pub.publish("top_nation") { (s, stored) =>
      import s.implicits._
      val limit = stored.long("limit", 2L).toInt
      Seq((1, "KENYA"), (2, "PERU"), (3, "JAPAN")).toDF("k", "n").limit(limit)
    }
    val port = pub.serve(0)
    try {
      def get(path: String): (Int, String) = {
        val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = scala.io.Source.fromInputStream(is, "UTF-8").mkString
        (code, body)
      }
      val (lc, lb) = get("/queries")
      assert(lc == 200 && lb == "[\"top_nation\"]")
      // roxie-style response envelope; STORED param honored
      val (qc, qb) = get("/query/top_nation?limit=3")
      assert(qc == 200 && qb.contains("\"top_nationResponse\"") &&
        qb.contains("\"rowCount\":3") && qb.contains("\"n\":\"JAPAN\""))
      val (dc, db) = get("/query/top_nation")
      assert(dc == 200 && db.contains("\"rowCount\":2"))
      val (nc, nb) = get("/query/nope")
      assert(nc == 404 && nb.contains("not published"))
    } finally pub.stopServing()
  }

  test("HTTP endpoint speaks the XML/SOAP protocol (ccdprotocol envelope)") {
    val pub = new graft.serve.Published(spark)
    pub.publish("top_nation") { (s, stored) =>
      import s.implicits._
      val limit = stored.long("limit", 2L).toInt
      Seq((1, "KENYA"), (2, "PERU"), (3, "JAPAN")).toDF("k", "n").limit(limit)
    }
    val port = pub.serve(0)
    try {
      def send(path: String, accept: String = "", body: String = "",
          contentType: String = ""): (Int, String, String) = {
        val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        if (accept.nonEmpty) conn.setRequestProperty("Accept", accept)
        if (body.nonEmpty) {
          conn.setRequestMethod("POST")
          conn.setRequestProperty("Content-Type", contentType)
          conn.setDoOutput(true)
          val os = conn.getOutputStream
          try os.write(body.getBytes("UTF-8")) finally os.close()
        }
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val text = scala.io.Source.fromInputStream(is, "UTF-8").mkString
        (code, text, String.valueOf(conn.getContentType))
      }
      // Accept-negotiated XML: the ccdprotocol Response/Results/Dataset/Row
      // envelope shape, rows rendered by the same machinery as OUTPUT,XML
      val (xc, xb, xt) = send("/query/top_nation?limit=3", accept = "text/xml")
      assert(xc == 200 && xt.startsWith("text/xml"))
      assert(xb.contains("<top_nationResponse xmlns=\"urn:hpccsystems:ecl:top_nation\">"))
      assert(xb.contains("<Results><Dataset name=\"Result 1\">"))
      assert(xb.contains("<Row><k>3</k><n>JAPAN</n></Row>"))
      assert(xb.endsWith("</Dataset></Results></top_nationResponse>"))
      // ?format=xml works without an Accept header
      val (fc, fb, _) = send("/query/top_nation?format=xml")
      assert(fc == 200 && fb.contains("<Dataset name=\"Result 1\">"))
      // POST form body params merge with (and can replace) query-string ones
      val (pc, pb, _) = send("/query/top_nation", body = "limit=1",
        contentType = "application/x-www-form-urlencoded")
      assert(pc == 200 && pb.contains("\"rowCount\":1"))
      // SOAP request → params from Body/<name>Request, SOAP-enveloped reply
      val soap =
        """<?xml version="1.0"?>
          |<soap:Envelope xmlns:soap="http://schemas.xmlsoap.org/soap/envelope/">
          |<soap:Body><top_nationRequest>
          |<limit>3</limit>
          |</top_nationRequest></soap:Body></soap:Envelope>""".stripMargin
      val (sc, sb, st) = send("/query/top_nation", body = soap,
        contentType = "text/xml")
      assert(sc == 200 && st.startsWith("text/xml"))
      assert(sb.contains("<soap:Body><top_nationResponse"))
      assert(sb.contains("<Row><k>3</k><n>JAPAN</n></Row>"))
      assert(sb.contains("</soap:Body></soap:Envelope>"))
      // XML-mode errors use the Exception envelope
      val (ec, eb, _) = send("/query/nope?format=xml")
      assert(ec == 404 && eb.contains("<Exception><Message>"))
      // XXE hardening: a DOCTYPE in the request body is refused outright —
      // the entity must never resolve (no file read, no expansion bomb)
      val xxe =
        """<?xml version="1.0"?>
          |<!DOCTYPE r [<!ENTITY x SYSTEM "file:///etc/hostname">]>
          |<soap:Envelope xmlns:soap="http://schemas.xmlsoap.org/soap/envelope/">
          |<soap:Body><top_nationRequest>
          |<limit>&x;</limit>
          |</top_nationRequest></soap:Body></soap:Envelope>""".stripMargin
      val (dc, db, _) = send("/query/top_nation", body = xxe,
        contentType = "text/xml")
      // parse is rejected → no params → default limit; never the entity value
      assert(dc == 200 && !db.contains("Exception"))
    } finally pub.stopServing()
  }

  test("a form body with a malformed escape answers 400 with the error " +
      "envelope") {
    val pub = new graft.serve.Published(spark)
    pub.publish("top_nation") { (s, stored) =>
      import s.implicits._
      Seq((1, "KENYA"), (2, "PERU")).toDF("k", "n")
        .limit(stored.long("limit", 2L).toInt)
    }
    val port = pub.serve(0)
    try {
      def post(body: String): (Int, String) = {
        val conn = new java.net.URI(s"http://127.0.0.1:$port/query/top_nation")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setRequestProperty("Content-Type",
          "application/x-www-form-urlencoded")
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(body.getBytes("UTF-8")) finally os.close()
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        (code, scala.io.Source.fromInputStream(is, "UTF-8").mkString)
      }
      for (body <- Seq("key=%zz", "limit=1%")) {
        val (code, text) = post(body)
        assert(code == 400 && text.startsWith("{\"error\":\"malformed"),
          s"$body -> $code $text")
      }
      // the server keeps serving well-formed requests
      val (ok, text) = post("limit=1")
      assert(ok == 200 && text.contains("\"rowCount\":1"), text)
    } finally pub.stopServing()
  }

  test("a GET whose query string holds a malformed escape gets the JDK " +
      "server's own 400, and the next GET on a new connection answers 200") {
    val pub = new graft.serve.Published(spark)
    pub.publish("top_nation") { (s, stored) =>
      import s.implicits._
      Seq((1, "KENYA"), (2, "PERU")).toDF("k", "n")
        .limit(stored.long("limit", 2L).toInt)
    }
    val port = pub.serve(0)
    // the JDK's URI refuses to build `%zz` client-side: write the request
    // line on a raw socket and read the whole reply
    def raw(target: String): String = {
      val socket = new java.net.Socket("127.0.0.1", port)
      try {
        socket.setSoTimeout(30000)
        socket.getOutputStream.write((s"GET $target HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          "Connection: close\r\n\r\n").getBytes("US-ASCII"))
        new String(socket.getInputStream.readAllBytes(), "UTF-8")
      } finally socket.close()
    }
    try {
      val bad = raw("/query/top_nation?key=%zz")
      assert(bad.startsWith("HTTP/1.1 400"), bad)
      val good = raw("/query/top_nation?limit=1")
      assert(good.startsWith("HTTP/1.1 200") && good.contains("\"rowCount\":1"), good)
    } finally pub.stopServing()
  }

  test("workunits: record/exists/list filters/timestamps/files/messages") {
    val wu = new graft.serve.Workunits(spark)
    val dir = "/root/repo/target/graft_io/wu_spec"
    Seq((1, "x"), (2, "y")).toDF("k", "v").write.mode("overwrite").parquet(dir)
    val w1 = wu.record("daily_rollup", owner = "alice",
      messages = Seq("ok")) { spark.read.parquet(dir).filter(col("k") > 0) }
    val w2 = wu.record("adhoc_probe", owner = "bob") {
      spark.read.parquet(dir).limit(1)
    }
    assert(wu.workunitExists(w1) && !wu.workunitExists("W99999999"))
    // wildcard filters, rows + elapsed recorded
    val all = wu.workunitList().collect()
    assert(all.map(_.getString(1)).toSeq == Seq("daily_rollup", "adhoc_probe"))
    assert(wu.workunitList(ownerPattern = "ali*").count() == 1)
    assert(wu.workunitList(namePattern = "*_probe").count() == 1)
    assert(all.head.getAs[Long]("rows") == 2)
    // timestamps bracket the run; files-read names the scanned parquet
    val ts = wu.workunitTimeStamps(w1).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(ts("started") <= ts("finished"))
    val files = wu.workunitFilesRead(w1).collect().map(_.getString(1))
    assert(files.exists(_.contains("wu_spec")), files.mkString(","))
    assert(wu.workunitMessages(w1).collect().map(_.getString(1)).toSeq ==
      Seq("ok"))
    // failed runs stay inspectable with state=failed
    intercept[RuntimeException] {
      wu.record("boom")(throw new RuntimeException("no plan"))
    }
    assert(wu.workunitList(statePattern = "failed").count() == 1)
    assert(wu.workunitList(statePattern = "completed").count() == 2)
    assert(wu.workunitExists(w2))
  }

  test("workunits: timings, plan statistics, files written, app values, " +
      "WUID date math") {
    val wu = new graft.serve.Workunits(spark)
    val dir = s"/root/repo/target/graft_io/wu_spec2-${System.nanoTime()}"
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val w = wu.record("stats_run") {
      spark.read.parquet(dir).filter(col("k") > 1)
    }
    // timings: the three edges exist and total >= parts
    val t = wu.workunitTimings(w).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(t.keySet == Set("create", "execute", "total"))
    assert(t("total") >= t("execute"))
    // statistics: real executed-plan metrics — the scan's output rows
    val stats = wu.workunitStatistics(w).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(stats.exists { case (_, k, v) =>
      k == "numOutputRows" && v >= 2 }, stats.mkString(","))
    assert(wu.workunitStatistics(w, filter = "numOutput*").count() > 0)
    assert(wu.workunitStatistics(w, filter = "zzz*").count() == 0)
    // files written registers explicitly (OUTPUT-helper hook)
    assert(wu.addFileWritten(w, s"$dir/out"))
    assert(wu.workunitFilesWritten(w).collect().map(_.getString(1)).toSeq ==
      Seq(s"$dir/out"))
    // app values: overwrite flag honored
    assert(wu.setWorkunitAppValue(w, "etl", "batch", "42"))
    assert(!wu.setWorkunitAppValue(w, "etl", "batch", "43", overwrite = false))
    assert(wu.workunitAppValue(w, "etl", "batch").contains("42"))
    // wuid shape + date math: today's floor wuid precedes the run's wuid;
    // a future date's succeeds it; 0-days-ago == today's floor
    assert(w.startsWith("W") && w.length == "Wyyyymmdd-hhmmss-nnnnnn".length)
    assert(wu.wuidDaysAgo(0) <= w)
    assert(wu.wuidOnDate(2099, 1, 1) > w)
    assert(wu.wuidOnDate(2020, 1, 1) < w)
  }

  test("workunits: files read and scan statistics come from below an " +
      "adaptive query stage (a recorded aggregate with an exchange)") {
    val wu = new graft.serve.Workunits(spark)
    val dir = s"target/graft_io/wu_spec3-${System.nanoTime()}"
    Seq((1, "x"), (2, "y"), (1, "z")).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val w = wu.record("grouped") {
      spark.read.parquet(dir).groupBy("k").agg(count(lit(1)).as("n"))
    }
    val files = wu.workunitFilesRead(w).collect().map(_.getString(1))
    assert(files.exists(_.contains("wu_spec3")), files.mkString(","))
    val stats = wu.workunitStatistics(w).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(stats.exists { case (act, k, v) =>
      act.startsWith("Scan") && k == "numOutputRows" && v == 3 },
      stats.mkString(","))
    // a keyed read through an INDEX's top-level key names the index dir
    val idx = s"target/graft_io/wu_spec3_idx-${System.nanoTime()}"
    graft.sources.IndexedTable.build(Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v"),
      Seq("k"), idx, numPartitions = 2)
    val keyed = wu.record("keyed") {
      graft.sources.IndexedTable.keyedRead(spark, idx, col("k") === 3)
    }
    val indexFiles = wu.workunitFilesRead(keyed).collect().map(_.getString(1))
    assert(indexFiles.toSeq == Seq("file:" + new java.io.File(idx).getAbsolutePath),
      indexFiles.mkString(","))
  }

  test("query timeout: a runaway Spark job is job-group-cancelled at the " +
      "deadline and the client gets a 503 timeout envelope, not a hung " +
      "worker") {
    val pub = new Published(spark).withRequestTimeout(500)
    pub.publish("hang_q") { (s, _) =>
      import s.implicits._
      // the sleep lives INSIDE a Spark task so interruptOnCancel can bite
      // (driver-side compute is documented as not interruptible)
      s.range(2).map { i => Thread.sleep(60000); i }.toDF("v")
    }
    pub.publish("fast_q") { (s, _) =>
      import s.implicits._
      Seq("ok").toDF("v")
    }
    val port = pub.serve(0, 10)
    def get(name: String): (Int, String, Double) = {
      val t0 = System.nanoTime()
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/$name").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = try scala.io.Source.fromInputStream(is, "UTF-8").mkString
        finally is.close()
      (code, body, (System.nanoTime() - t0) / 1e6)
    }
    try {
      val (code, body, ms) = get("hang_q")
      assert(code == 503 && body.contains("query timeout"),
        s"code=$code body=$body")
      // the 60 s task was aborted near the 500 ms deadline (wide budget
      // for VM noise, still 10x under the runaway duration)
      assert(ms < 6000.0, f"timeout response took $ms%.0f ms")
      assert(pub.timeoutStats == 1)
      // the worker is free and the session healthy: a fast query still runs
      val (c2, b2, _) = get("fast_q")
      assert(c2 == 200 && b2.contains("\"v\":\"ok\""), s"$c2 $b2")
      assert(pub.timeoutStats == 1)
    } finally pub.stopServing()
  }

  test("timeout x collapsing compose: concurrent identical requests on a " +
      "runaway query all get the winner's 503 — one evaluation, one abort") {
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    // 1.5 s deadline: the collapse window must absorb a VM-stalled client
    // thread (a waiter arriving after the winner finished would start a
    // second evaluation and flake the evals==1 pin)
    val pub = new Published(spark).withRequestTimeout(1500)
    pub.publish("hang2_q") { (s, _) =>
      import s.implicits._
      evals.incrementAndGet()
      s.range(2).map { i => Thread.sleep(60000); i }.toDF("v")
    }
    val port = pub.serve(0, 10, cacheTtlMs = 600000) // collapsing on
    def get(): Int = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/hang2_q").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try { scala.io.Source.fromInputStream(is, "UTF-8").mkString; () }
      finally is.close()
      code
    }
    try {
      val clients = 8
      val barrier = new java.util.concurrent.CyclicBarrier(clients)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
      val codes = try {
        (0 until clients).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = { barrier.await(); get() }
          })
        }.map(_.get())
      } finally pool.shutdown()
      assert(codes.forall(_ == 503), s"codes=$codes")
      assert(evals.get() == 1, s"evals=${evals.get()}")
      assert(pub.timeoutStats == 1, s"timeouts=${pub.timeoutStats}")
      // a timeout envelope must NOT be cached: the next request re-evaluates
      get()
      assert(evals.get() == 2, "timeout response was served from the cache")
    } finally pub.stopServing()
  }

  test("cache stampede: 16 identical concurrent misses evaluate ONCE " +
      "(in-flight request collapsing, the Roxie identical-query posture)") {
    val pub = new Published(spark)
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    val oneRow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.StringType)))
    pub.publish("stampede_q") { (s, _) =>
      evals.incrementAndGet()
      Thread.sleep(400) // window wide enough that barrier-aligned clients
      // all arrive while the first evaluation is in flight, even when the
      // VM stalls a thread (SCALE_NOTES noise windows)
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row("v1")), oneRow)
    }
    val port = pub.serve(0, 10, cacheTtlMs = 600000)
    def get(): String = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/stampede_q").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val is = conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
    }
    try {
      val clients = 16
      val barrier = new java.util.concurrent.CyclicBarrier(clients)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
      val bodies = try {
        (0 until clients).map { _ =>
          pool.submit(new java.util.concurrent.Callable[String] {
            def call(): String = { barrier.await(); get() }
          })
        }.map(_.get())
      } finally pool.shutdown()
      assert(bodies.toSet.size == 1 && bodies.head.contains("\"n\":\"v1\""),
        s"divergent collapsed responses: ${bodies.toSet}")
      // the defining assertion: one evaluation, not sixteen
      assert(evals.get() == 1,
        s"stampede ran ${evals.get()} evaluations for one key")
      assert(pub.collapsedStats == clients - 1,
        s"collapsed=${pub.collapsedStats}, want ${clients - 1}")
      assert(pub.cacheStats._2 == 1, s"misses=${pub.cacheStats._2}")
      // and afterwards the rendered response serves from the cache
      val hitsBefore = pub.cacheStats._1
      get()
      assert(pub.cacheStats._1 == hitsBefore + 1)
    } finally pub.stopServing()
  }

  test("workunit mutators are lost-update-safe under concurrency (CAS " +
      "read-copy-update, not get->put)") {
    // a serving layer's request threads append messages/statistics to the
    // same run concurrently; before r14 a racing get->copy->put dropped
    // whichever append lost the race silently
    val wu = new graft.serve.Workunits(spark)
    val w = wu.record("race_run") { Seq(1).toDF("x") }
    val threads = 8
    val perThread = 50
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    try {
      (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            barrier.await()
            (0 until perThread).foreach { i =>
              assert(wu.addStatistic(w, "op", s"stat_${t}_$i", i.toLong))
              assert(wu.addMessage(w, "info", s"msg_${t}_$i"))
              assert(wu.addFileWritten(w, s"f_${t}_$i"))
            }
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    assert(wu.workunitStatistics(w, "stat_*").count() ==
      threads.toLong * perThread)
    assert(wu.workunitMessages(w).filter(col("message").contains("msg_"))
      .count() == threads.toLong * perThread)
    assert(wu.workunitFilesWritten(w).count() == threads.toLong * perThread)
  }

  test("WeightedAvgMicros matches the closed-form ratio exactly") {
    val df = Seq((10L, 2L), (30L, 4L), (20L, 4L)).toDF("pq", "q")
    val wavg = udaf(Aggregators.WeightedAvgMicros)
    val got = df.agg(wavg(col("pq"), col("q"))).head.getDouble(0)
    assert(got == 60.0 / 10.0)
  }

  test("BestByScore keeps the max-score id with deterministic ties") {
    val df = Seq((1.0, 5L), (3.0, 9L), (3.0, 2L), (2.0, 1L)).toDF("s", "id")
    val best = udaf(Aggregators.BestByScore)
    val got = df.agg(best(col("s"), col("id"))).head.getLong(0)
    assert(got == 2L) // score tie at 3.0 → smaller id wins
  }

  test("response cache: TTL hit skips re-execution, redeploy invalidates") {
    val pub = new Published(spark)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    def deploy(tag: String): Unit = pub.publish("counted") { (s, stored) =>
      hits.incrementAndGet()
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row(s"$tag-${stored("p", "")}")),
        org.apache.spark.sql.types.StructType.fromDDL("r STRING"))
    }
    deploy("v1")
    val port = pub.serve(0, 100, cacheTtlMs = 60000)
    def get(q: String): String = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/counted?$q").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val is = conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
    }
    try {
      assert(get("p=a").contains("v1-a") && hits.get() == 1)
      assert(get("p=a").contains("v1-a") && hits.get() == 1) // cache hit
      assert(get("p=b").contains("v1-b") && hits.get() == 2) // param miss
      deploy("v2") // redeploy invalidates the name's entries
      assert(get("p=a").contains("v2-a") && hits.get() == 3)
      assert(get("p=a").contains("v2-a") && hits.get() == 3)
    } finally pub.stopServing()
  }

  // r16 verdict #6: the response cache keyed on name+params+TTL alone
  // serves stale rows after a catalog promote until the TTL expires, and
  // nothing pins a served query to a data version. Roxie pins data at
  // query load and switches on explicit reload; the Spark analog folds the
  // catalog's manifest sequence into the cache key (promote → next request
  // re-evaluates) and adds /control/reload for the explicit-drop posture.
  test("data-version keying: a catalog promote mid-TTL reaches the NEXT " +
      "request; /control/reload drops the cache explicitly") {
    val cat = new graft.sources.FileCatalog(spark,
      s"target/graft_io/serve_dv-${System.nanoTime()}")
    cat.write("gen::one", Seq("v1").toDF("r"))
    cat.write("gen::two", Seq("v2").toDF("r"))
    cat.createSuperFile("live")
    cat.addSuperFile("live", "gen::one")
    val pub = new Published(spark)
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    pub.publish("live_rows") { (_, _) =>
      evals.incrementAndGet(); cat.readSuper("live")
    }
    pub.withDataVersion(() => cat.dataVersion.toString)
    val port = pub.serve(0, 100, cacheTtlMs = 600000)
    def get(path: String): String = {
      val conn = new java.net.URI(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val is = conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
    }
    try {
      assert(get("/query/live_rows").contains("v1") && evals.get() == 1)
      assert(get("/query/live_rows").contains("v1") && evals.get() == 1) // hit
      // the promote: generation swap, two manifest commits → version bump
      cat.removeSuperFile("live", "gen::one")
      cat.addSuperFile("live", "gen::two")
      // mid-TTL: the new data version changes the key → fresh evaluation
      assert(get("/query/live_rows").contains("v2") && evals.get() == 2)
      assert(get("/query/live_rows").contains("v2") && evals.get() == 2) // re-cached
      // explicit reload drops every cached response at an UNCHANGED version
      assert(get("/control/reload").contains("\"reloaded\":true"))
      assert(get("/query/live_rows").contains("v2") && evals.get() == 3)
    } finally pub.stopServing()
  }

  test("serve survives 16+ concurrent clients: isolated responses, " +
      "exact cache-hit accounting (roxie ccdlistener thread-pool posture)") {
    val pub = new Published(spark)
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    def deployEcho(name: String, tag: String): Unit =
      pub.publish(name) { (s, stored) =>
        execs.incrementAndGet()
        s.createDataFrame(java.util.Collections.singletonList(
          org.apache.spark.sql.Row(s"$tag-${stored("p", "")}")),
          org.apache.spark.sql.types.StructType.fromDDL("r STRING"))
      }
    deployEcho("sq", "sq")
    deployEcho("cu", "cu")
    val port = pub.serve(0, 100, cacheTtlMs = 600000)
    def get(name: String, p: String): String = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/$name?p=$p").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val is = conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
    }
    try {
      // warm 8 shared keys sequentially — deterministic misses
      val warmKeys = for (n <- Seq("sq", "cu"); p <- 0 to 3) yield (n, p.toString)
      warmKeys.foreach { case (n, p) => assert(get(n, p).contains(s"$n-$p")) }
      assert(pub.cacheStats == (0L, 8L) && execs.get() == 8)

      // storm: 16 clients × 20 requests. Even iterations hit the warmed
      // keys; odd iterations request a key UNIQUE to (client, iteration),
      // so expected misses are exact (no same-key miss races). Every
      // client checks every body against ITS OWN request — any response
      // cross-talk under contention fails the run.
      val clients = 16
      val iters = 20
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          (0 until iters).foreach { i =>
            val (name, p) =
              if (i % 2 == 0) warmKeys((c + i) % warmKeys.size)
              else (if (c % 2 == 0) "sq" else "cu", s"u$c-$i")
            val body = try get(name, p) catch {
              case e: Exception => s"EX:${e.getMessage}"
            }
            if (!body.contains(s""""r":"$name-$p"""))
              errors.add(s"client $c iter $i: want $name-$p got $body")
          }
        }, s"serve-client-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, s"cross-talk/errors: ${errors}")
      val total = 8 + clients * iters
      val uniqueKeys = clients * (iters / 2) // one per odd iteration
      val (hits, misses) = pub.cacheStats
      assert(hits + misses == total, s"lost requests: $hits+$misses != $total")
      assert(misses == 8 + uniqueKeys, s"misses $misses != ${8 + uniqueKeys}")
      // every miss executed the query exactly once — no double-execution
      // under contention, no execution ever served a hit
      assert(execs.get() == misses.toInt, s"execs ${execs.get()} != $misses")
    } finally pub.stopServing()
  }

  test("Roxie signature pattern: published INDEX-backed point lookup over " +
      "HTTP — keyed pruning under the listener, cache-accelerated repeats") {
    // Roxie's defining deployment: a published query whose body is a keyed
    // index read, answering point lookups at interactive latency. The
    // Spark analog: IndexedTable (range-partitioned sorted parquet) under
    // Published.serve — the scan prunes to the key's row group, and the
    // response cache answers repeats without re-planning.
    val idx = s"/root/repo/target/graft_io/serve_idx-${System.nanoTime()}"
    graft.sources.IndexedTable.build(
      Tables.customer(spark, sf).select("c_custkey", "c_name", "c_acctbal"),
      Seq("c_custkey"), idx, numPartitions = 4)
    // the keyed plan prunes: pushed key predicate reaches the scan
    val probe = graft.sources.IndexedTable.keyedRead(spark, idx,
      col("c_custkey") === 42)
    val fm = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fm.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)"),
      s"key predicate not pushed:\n$fm")

    val pub = new Published(spark)
    pub.publish("customer_by_key") { (s, stored) =>
      graft.sources.IndexedTable.keyedRead(s, idx,
        col("c_custkey") === stored.long("key", -1L))
    }
    val port = pub.serve(0, 100, cacheTtlMs = 600000)
    def get(key: Long): String = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/customer_by_key?key=$key").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val is = conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
    }
    try {
      val expect = Tables.customer(spark, sf)
        .filter(col("c_custkey") === 42).select("c_name")
        .head.getString(0)
      assert(get(42).contains(s""""c_name":"$expect""""))
      assert(get(7).contains(""""c_custkey":7"""))
      val missBefore = pub.cacheStats._2
      // repeats answer from the response cache — no new misses
      (1 to 5).foreach(_ => assert(get(42).contains(expect)))
      assert(pub.cacheStats._2 == missBefore,
        "repeat point lookups must be cache hits")
    } finally pub.stopServing()
  }

  test("latency SLO: index-backed point lookups under 16 concurrent " +
      "clients — pinned p50/p99 budgets, cached and uncached") {
    // Roxie's defining trait is not just correct concurrent answers
    // (certified above) but interactive LATENCY under load
    // (roxie/ccd/ccdlistener.cpp — the agent pool exists to bound tail
    // latency). Pin budgets: cached responses come from the LRU map and
    // must stay in single-digit-ms territory; uncached responses run a
    // pruned keyed scan per request and get a Spark-job-sized budget.
    val idx = s"/root/repo/target/graft_io/serve_slo-${System.nanoTime()}"
    graft.sources.IndexedTable.build(
      Tables.customer(spark, sf).select("c_custkey", "c_name", "c_acctbal"),
      Seq("c_custkey"), idx, numPartitions = 4)
    val pub = new Published(spark)
    pub.publish("slo_lookup") { (s, stored) =>
      graft.sources.IndexedTable.keyedRead(s, idx,
        col("c_custkey") === stored.long("key", -1L))
    }
    val port = pub.serve(0, 100, cacheTtlMs = 600000)

    def get(key: Long): Unit = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/slo_lookup?key=$key").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val is = conn.getInputStream
      try { scala.io.Source.fromInputStream(is, "UTF-8").mkString; () }
      finally is.close()
    }

    /** Drive `perClient` requests from 16 threads; per-request millis. */
    def drive(perClient: Int)(keyFor: (Int, Int) => Long): Seq[Double] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val futures = (0 until 16).map { c =>
          pool.submit(new java.util.concurrent.Callable[Seq[Double]] {
            def call(): Seq[Double] = (0 until perClient).map { i =>
              val t0 = System.nanoTime()
              get(keyFor(c, i))
              (System.nanoTime() - t0) / 1e6
            }
          })
        }
        futures.flatMap(_.get())
      } finally pool.shutdown()
    }
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
    }

    try {
      // UNCACHED: every request a distinct key — each runs the pruned
      // keyed scan. 16 clients × 10 keys on the shared 4-core test
      // session: the budget is Spark-job-sized, the assertion is that
      // tail latency stays bounded under full concurrency (no
      // convoy/serialization in the listener).
      val uncached = drive(10)((c, i) => 1 + c * 10 + i)
      val (up50, up99) = (pct(uncached, 0.50), pct(uncached, 0.99))
      info(f"uncached: p50=$up50%.1f ms p99=$up99%.1f ms")
      assert(up99 < 5000.0, f"uncached p99 $up99%.1f ms breaches 5 s budget")

      // CACHED: one warm call, then every client hammers the same key —
      // all hits, served from the response cache without touching Spark.
      // Allow one re-measure: the VM shows multi-minute noisy-neighbor
      // windows (SCALE_NOTES), and a latency SLO spec must not convict
      // the engine for the neighbor's GC.
      get(42)
      System.gc()
      def cachedRound(): (Double, Double) = {
        val xs = drive(30)((_, _) => 42L)
        (pct(xs, 0.50), pct(xs, 0.99))
      }
      val rounds = Iterator.continually(cachedRound()).take(2)
        .find { case (p50, p99) => p50 < 10.0 && p99 < 50.0 }
      val (cp50, cp99) = rounds.getOrElse(cachedRound())
      info(f"cached: p50=$cp50%.2f ms p99=$cp99%.2f ms")
      assert(cp50 < 10.0, f"cached p50 $cp50%.2f ms breaches 10 ms budget")
      assert(cp99 < 50.0, f"cached p99 $cp99%.2f ms breaches 50 ms budget")
    } finally pub.stopServing()
  }

  test("sustained-throughput SLO: >=500 qps cached under 16 clients for " +
      "10 seconds (Roxie's other defining metric — queries/second under " +
      "sustained load, not just per-request latency)") {
    val idx = s"/root/repo/target/graft_io/serve_qps-${System.nanoTime()}"
    graft.sources.IndexedTable.build(
      Tables.customer(spark, sf).select("c_custkey", "c_name", "c_acctbal"),
      Seq("c_custkey"), idx, numPartitions = 4)
    val pub = new Published(spark)
    pub.publish("qps_lookup") { (s, stored) =>
      graft.sources.IndexedTable.keyedRead(s, idx,
        col("c_custkey") === stored.long("key", -1L))
    }
    val port = pub.serve(0, 100, cacheTtlMs = 600000)
    def get(key: Long): Unit = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/qps_lookup?key=$key").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val is = conn.getInputStream
      try { scala.io.Source.fromInputStream(is, "UTF-8").mkString; () }
      finally is.close()
    }
    try {
      val warmKeys = (1L to 8L).toArray
      warmKeys.foreach(get) // populate the response cache
      def round(seconds: Int): Double = {
        val done = new java.util.concurrent.atomic.AtomicLong(0)
        val deadline = System.nanoTime() + seconds * 1000000000L
        val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
        val t0 = System.nanoTime()
        try {
          val fs = (0 until 16).map { c =>
            pool.submit(new Runnable {
              def run(): Unit = {
                var i = 0
                while (System.nanoTime() < deadline) {
                  get(warmKeys((c + i) % warmKeys.length))
                  done.incrementAndGet()
                  i += 1
                }
              }
            })
          }
          fs.foreach(_.get())
        } finally pool.shutdown()
        done.get().toDouble / ((System.nanoTime() - t0) / 1e9)
      }
      // one re-measure allowed: the VM shows noisy-neighbor windows
      // (SCALE_NOTES) and a throughput floor must not convict the
      // engine for the neighbor's CPU
      val qps = Iterator.continually(round(10)).take(2).find(_ >= 500.0)
        .getOrElse(round(10))
      info(f"sustained cached throughput: $qps%.0f qps over 10 s, 16 clients")
      assert(qps >= 500.0,
        f"sustained throughput $qps%.0f qps breaches the 500 qps floor " +
          "(10 s, 16 concurrent clients, cached point lookups)")
    } finally pub.stopServing()
  }

  test("admission control under overload: 64 clients vs a 16-worker pool " +
      "with a 16-deep queue — bounded p99 for ACCEPTED requests, clean " +
      "immediate 503s beyond the bound (never unbounded queueing)") {
    // Roxie's listener bounds its worker pool and pending queue and sheds
    // what it cannot absorb (roxie/ccd/ccdlistener.cpp) — under overload
    // an unbounded queue makes EVERY response late, while shedding keeps
    // accepted latency ≤ (1 + queue/workers) waves of service time.
    val serviceMs = 80L
    val (workers, maxQueue, clients) = (16, 16, 64)
    val pub = new Published(spark)
    val oneRow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ok",
        org.apache.spark.sql.types.StringType)))
    pub.publish("slow_q") { (s, _) =>
      Thread.sleep(serviceMs) // a deliberately slow served evaluation
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row("y")), oneRow)
    }
    val port = pub.serveBounded(0, 10, cacheTtlMs = 0,
      workers = workers, maxQueue = maxQueue)
    def doCall(): (Int, Double) = {
      val t0 = System.nanoTime()
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/slow_q").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try { scala.io.Source.fromInputStream(is, "UTF-8").mkString; () }
      finally is.close()
      (code, (System.nanoTime() - t0) / 1e6)
    }
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
    }
    try {
      // warm the serving path first (JIT + HTTP stack): the gate measures
      // steady-state admission behavior, not first-request compilation
      (1 to 8).foreach(_ => doCall())
      // all 64 clients fire simultaneously (barrier-aligned)
      def storm(): Seq[(Int, Double)] = {
        val barrier = new java.util.concurrent.CyclicBarrier(clients)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
        try {
          (0 until clients).map { _ =>
            pool.submit(new java.util.concurrent.Callable[(Int, Double)] {
              def call(): (Int, Double) = { barrier.await(); doCall() }
            })
          }.map(_.get())
        } finally pool.shutdown()
      }
      // one re-measure allowed (the SCALE_NOTES noise policy): shedding
      // requires >32 clients genuinely concurrent, and a VM stall that
      // staggers the storm can drain it without overload
      val results = Iterator.continually(storm()).take(2)
        .find(r => r.exists(_._1 == 503)).getOrElse(storm())
      val accepted = results.filter(_._1 == 200).map(_._2)
      val shed = results.filter(_._1 == 503).map(_._2)
      assert(results.forall(r => r._1 == 200 || r._1 == 503),
        s"unexpected status codes: ${results.map(_._1).distinct}")
      // capacity wave accepted; overload genuinely shed
      assert(accepted.size >= workers && shed.nonEmpty,
        s"accepted=${accepted.size} shed=${shed.size} — admission " +
          "control did not engage")
      // >= because the noise-policy re-measure may have shed in an earlier
      // storm too; the counter must at least account for this storm's 503s
      assert(pub.shedStats >= shed.size.toLong,
        s"server shed counter ${pub.shedStats} < observed ${shed.size}")
      // accepted requests: at most (1 + maxQueue/workers) service waves
      // plus scheduling overhead — pin 10× that ideal bound as the budget
      // (VM noise), still an order under what a 64-deep unbounded queue
      // would produce for the tail on a slow service
      val boundMs = serviceMs * (1 + maxQueue / workers) * 10.0
      val ap99 = pct(accepted, 0.99)
      val sp99 = if (shed.nonEmpty) pct(shed, 0.99) else 0.0
      info(f"accepted=${accepted.size} p99=$ap99%.0f ms (budget $boundMs%.0f); " +
        f"shed=${shed.size} p99=$sp99%.0f ms")
      assert(ap99 <= boundMs,
        f"accepted p99 $ap99%.0f ms breaches the bounded-queue budget " +
          f"$boundMs%.0f ms (accepted=${accepted.size}, shed=${shed.size})")
      // rejections are immediate (no queue wait before the 503)
      assert(sp99 < serviceMs * 10.0,
        f"503s were queued, not shed: p99 $sp99%.0f ms")
    } finally pub.stopServing()
  }

  test("PriorityGate: a freed worker goes to the waiting high lane; low " +
      "acquires only while no high waits (deterministic preemption)") {
    val g = new graft.serve.PriorityGate(1)
    assert(g.tryAcquire(high = false, 60000)) // occupy the only permit
    val highGot = new java.util.concurrent.atomic.AtomicBoolean(false)
    val lowGot = new java.util.concurrent.atomic.AtomicBoolean(false)
    def parked(t: Thread): Boolean =
      t.getState == Thread.State.WAITING ||
        t.getState == Thread.State.TIMED_WAITING
    val th = new Thread {
      override def run(): Unit = highGot.set(g.tryAcquire(high = true, 60000))
    }
    th.start()
    while (!parked(th)) Thread.sleep(1)
    val tl = new Thread {
      override def run(): Unit = lowGot.set(g.tryAcquire(high = false, 60000))
    }
    tl.start()
    while (!parked(tl)) Thread.sleep(1)
    g.release() // the occupier finishes: exactly one permit frees
    th.join(5000)
    assert(highGot.get, "freed permit did not go to the waiting high lane")
    Thread.sleep(50)
    assert(!lowGot.get,
      "low lane acquired while the high waiter had claim to the permit")
    g.release() // the high request finishes
    tl.join(5000)
    assert(lowGot.get, "low lane starved after the high lane drained")
  }

  test("priority lanes under mixed overload: 32 high + 32 low clients vs " +
      "4 workers — the low lane sheds first, zero high sheds, high p99 " +
      "inside its own queue's computable bound") {
    // Roxie runs separate high/low-priority queues so interactive queries
    // are not starved by batch ones (roxie/ccd/ccdlistener.cpp worker
    // pools; ccdqueue.ipp per-channel queues): per-class admission bounds
    // plus high-priority preemption of every freed worker.
    val serviceMs = 40L
    val (workers, highQueue, lowQueue) = (4, 60, 4)
    val (nHigh, nLow) = (32, 32)
    val pub = new Published(spark)
    val oneRow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ok",
        org.apache.spark.sql.types.StringType)))
    def slowFn: (org.apache.spark.sql.SparkSession,
        graft.workflow.Workflow.Stored) => org.apache.spark.sql.DataFrame =
      (s, _) => {
        Thread.sleep(serviceMs)
        s.createDataFrame(java.util.Collections.singletonList(
          org.apache.spark.sql.Row("y")), oneRow)
      }
    pub.publish("hi_q")(slowFn)
    pub.publish("lo_q")(slowFn)
    pub.setPriority("hi_q", "high") // lo_q defaults to the low lane
    val port = pub.servePrioritized(0, 10, cacheTtlMs = 0,
      workers = workers, highQueue = highQueue, lowQueue = lowQueue)
    def doCall(q: String): (Int, Double) = {
      val t0 = System.nanoTime()
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/$q").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try { scala.io.Source.fromInputStream(is, "UTF-8").mkString; () }
      finally is.close()
      (code, (System.nanoTime() - t0) / 1e6)
    }
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
    }
    try {
      (1 to 4).foreach(_ => doCall("hi_q")) // warm JIT + HTTP stack
      def storm(): (Seq[(Int, Double)], Seq[(Int, Double)]) = {
        val barrier = new java.util.concurrent.CyclicBarrier(nHigh + nLow)
        val pool =
          java.util.concurrent.Executors.newFixedThreadPool(nHigh + nLow)
        try {
          val hs = (0 until nHigh).map { _ =>
            pool.submit(new java.util.concurrent.Callable[(Int, Double)] {
              def call(): (Int, Double) = { barrier.await(); doCall("hi_q") }
            })
          }
          val ls = (0 until nLow).map { _ =>
            pool.submit(new java.util.concurrent.Callable[(Int, Double)] {
              def call(): (Int, Double) = { barrier.await(); doCall("lo_q") }
            })
          }
          (hs.map(_.get()), ls.map(_.get()))
        } finally pool.shutdown()
      }
      // one re-measure allowed (noise policy): low-lane shedding needs the
      // storm genuinely concurrent; a VM stall can stagger it to a drain
      val (highs, lows) = Iterator.continually(storm()).take(2)
        .find(_._2.exists(_._1 == 503)).getOrElse(storm())
      // the high lane NEVER sheds at this load (its queue absorbs all 32)
      assert(highs.forall(_._1 == 200),
        s"high-priority requests shed: ${highs.map(_._1).distinct}")
      val lowShed = lows.count(_._1 == 503)
      assert(lowShed > 0,
        s"low lane did not shed under 8x its admission bound (lowShed=0)")
      val (shedHigh, shedLow) = pub.shedStatsByClass
      assert(shedHigh == 0, s"high-lane shed counter: $shedHigh")
      assert(shedLow >= lowShed.toLong,
        s"low shed counter $shedLow < observed $lowShed")
      // high p99: at most its own backlog's waves over the worker pool —
      // 32/4 waves + one residual low wave, x10 for VM noise
      val budget = serviceMs * (nHigh.toDouble / workers + 2) * 10.0
      val hp99 = pct(highs.map(_._2), 0.99)
      info(f"high p99=$hp99%.0f ms (budget $budget%.0f); " +
        f"low shed=$lowShed/${nLow}, accepted=${lows.count(_._1 == 200)}")
      assert(hp99 <= budget,
        f"high-priority p99 $hp99%.0f ms breaches $budget%.0f ms — the " +
          "high lane is being starved by low-priority load")
    } finally pub.stopServing()
  }

  test("collapsed waiters are BOUNDED: a driver-side evaluation that " +
      "outlives the wait deadline sheds the waiter 503 instead of parking " +
      "its handler thread indefinitely") {
    val pub = new Published(spark)
    val oneRow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ok",
        org.apache.spark.sql.types.StringType)))
    pub.publish("molasses") { (s, _) =>
      // driver-side sleep: job-group cancellation cannot interrupt it, so
      // the winner's render outlives BOTH the request timeout and the
      // collapsed-wait deadline (timeout + 5 s slack)
      Thread.sleep(7000)
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row("y")), oneRow)
    }
    pub.withRequestTimeout(500)
    val port = pub.serve(0, 10, cacheTtlMs = 60000)
    def doCall(): Int = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/molasses").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setReadTimeout(30000)
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
      code
    }
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val winner = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = doCall()
      })
      // wait until the winner has actually REGISTERED as in-flight — a
      // fixed sleep is load-sensitive (a cold-JIT run can take >400 ms to
      // reach putIfAbsent, turning the waiter into its own evaluation and
      // flaking collapsedTimeoutStats)
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (pub.inFlightCount == 0 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(pub.inFlightCount == 1, "winner never registered in-flight")
      val t0 = System.nanoTime()
      val waiter = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = doCall()
      })
      val waiterCode = waiter.get()
      val waitedSec = (System.nanoTime() - t0) / 1e9
      assert(waiterCode == 503, s"waiter got $waiterCode")
      // bounded: ~timeout(0.5 s) + 5 s slack, NOT the winner's 7 s sleep
      assert(waitedSec < 6.8,
        f"waiter parked $waitedSec%.1f s — the bounded join did not fire")
      assert(pub.collapsedTimeoutStats == 1,
        s"collapsedTimeoutStats=${pub.collapsedTimeoutStats}")
      winner.get() // drain; the winner's own verdict is its own business
      pool.shutdown()
    } finally pub.stopServing()
  }

  test("X-Query-Priority header (opted in) overrides the published class: " +
      "a header-high request rides the high lane while a plain low sheds") {
    val pub = new Published(spark)
    val oneRow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ok",
        org.apache.spark.sql.types.StringType)))
    pub.publish("lane_q") { (s, _) =>
      Thread.sleep(1500)
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row("y")), oneRow)
    }
    // one worker, NO low queue: the occupying request saturates the low
    // lane's admission entirely; the high lane still has queue room
    val port = pub.servePrioritized(0, 10, cacheTtlMs = 0,
      workers = 1, highQueue = 4, lowQueue = 0, allowHeaderOverride = true)
    def doCall(header: Option[String]): Int = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/lane_q").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setReadTimeout(30000)
      header.foreach(h => conn.setRequestProperty("X-Query-Priority", h))
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
      code
    }
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val occupier = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = doCall(None)
      })
      Thread.sleep(400) // occupier holds the only worker (low lane full)
      val shedLow = doCall(None) // second plain-low: admission 503
      assert(shedLow == 503, s"low request not shed: $shedLow")
      val headerHigh = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = doCall(Some("high"))
      })
      assert(headerHigh.get() == 200,
        "header-high request was not admitted through the high lane")
      assert(occupier.get() == 200)
      val (shedH, shedL) = pub.shedStatsByClass
      assert(shedH == 0 && shedL >= 1, s"shed=($shedH, $shedL)")
      pool.shutdown()
    } finally pub.stopServing()
  }

  test("X-Query-Priority is IGNORED unless opted in, and an invalid value " +
      "is a 400 when opted in — self-elevation is not client-controlled") {
    val pub = new Published(spark)
    val oneRow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ok",
        org.apache.spark.sql.types.StringType)))
    pub.publish("lane_q2") { (s, _) =>
      Thread.sleep(1200)
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row("y")), oneRow)
    }
    // default servePrioritized: allowHeaderOverride = false
    val port = pub.servePrioritized(0, 10, cacheTtlMs = 0,
      workers = 1, highQueue = 4, lowQueue = 0)
    def doCall(header: Option[String]): Int = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port/query/lane_q2").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setReadTimeout(30000)
      header.foreach(h => conn.setRequestProperty("X-Query-Priority", h))
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
      code
    }
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val occupier = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = doCall(None)
      })
      Thread.sleep(400) // occupier holds the only worker; low lane is full
      // header-high with the override DISABLED: still a low request →
      // the saturated low lane sheds it (with the override honored it
      // would queue in the high lane and return 200, as the opt-in test
      // above proves)
      val pretender = doCall(Some("high"))
      assert(pretender == 503,
        s"header elevated a lane despite override disabled: $pretender")
      val (shedH, shedL) = pub.shedStatsByClass
      assert(shedH == 0 && shedL >= 1, s"shed=($shedH, $shedL)")
      assert(occupier.get() == 200)
      pool.shutdown()
    } finally pub.stopServing()
    // opted in, a malformed value is rejected loudly — "HIGH" or a typo
    // must never silently demote a published-high query to the low lane
    val pub2 = new Published(spark)
    pub2.publish("lane_q3") { (s, _) =>
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row("y")), oneRow)
    }
    pub2.setPriority("lane_q3", "high")
    val port2 = pub2.servePrioritized(0, 10, cacheTtlMs = 0,
      workers = 1, highQueue = 1, lowQueue = 1, allowHeaderOverride = true)
    def call2(header: Option[String]): Int = {
      val conn = new java.net.URI(
        s"http://127.0.0.1:$port2/query/lane_q3").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      header.foreach(h => conn.setRequestProperty("X-Query-Priority", h))
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try scala.io.Source.fromInputStream(is, "UTF-8").mkString
      finally is.close()
      code
    }
    try {
      assert(call2(Some("HIGH")) == 400, "case-mangled value not rejected")
      assert(call2(Some("urgent")) == 400, "unknown value not rejected")
      assert(call2(Some("low")) == 200, "valid demotion rejected")
      assert(call2(None) == 200)
    } finally pub2.stopServing()
  }

  test("PriorityGate.tryAcquire expires: a parked lane waiter unblocks at " +
      "its deadline instead of parking forever") {
    val g = new graft.serve.PriorityGate(1)
    assert(g.tryAcquire(high = false, 1000), "free permit not acquired")
    // low waiter under an occupied gate: expires at its deadline
    val t0 = System.nanoTime()
    assert(!g.tryAcquire(high = false, 250), "expired wait reported success")
    val waitedMs = (System.nanoTime() - t0) / 1000000
    assert(waitedMs >= 200, s"returned before the deadline: ${waitedMs}ms")
    // a waiting high ALSO blocks low past the deadline path, then expires
    assert(!g.tryAcquire(high = true, 250), "high expired wait succeeded")
    g.release()
    // after release both lanes acquire within the deadline again
    assert(g.tryAcquire(high = true, 1000))
    g.release()
  }

  test("an admitted low request that cannot reach a worker before the lane " +
      "deadline is shed 503, freeing its handler thread (no unbounded park)") {
    val oneRow = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ok",
        org.apache.spark.sql.types.StringType)))
    // serveBounded is the single-class form of servePrioritized: with no
    // setPriority call its requests take the low lane and share its deadline
    val servers = Seq[(String, Published => Int)](
      "servePrioritized" -> (_.servePrioritized(0, 10, cacheTtlMs = 0,
        workers = 1, highQueue = 2, lowQueue = 2)),
      "serveBounded" -> (_.serveBounded(0, 10, cacheTtlMs = 0,
        workers = 1, maxQueue = 2)))
    servers.foreach { case (how, startServing) =>
      val pub = new Published(spark)
      pub.publish("park_q") { (s, _) =>
        // driver-side sleep: job-group cancellation cannot interrupt it, so
        // the single worker stays occupied PAST the lane-wait deadline
        Thread.sleep(6500)
        s.createDataFrame(java.util.Collections.singletonList(
          org.apache.spark.sql.Row("y")), oneRow)
      }
      pub.withRequestTimeout(200) // lane wait = 200 + 5000 ms slack
      val port = startServing(pub)
      def doCall(): Int = {
        val conn = new java.net.URI(
          s"http://127.0.0.1:$port/query/park_q").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setReadTimeout(30000)
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        try scala.io.Source.fromInputStream(is, "UTF-8").mkString
        finally is.close()
        code
      }
      try {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val occupier = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = doCall()
        })
        Thread.sleep(400) // occupier holds the only worker
        val t0 = System.nanoTime()
        val queued = doCall() // admitted (queue of 2) → parks at the gate
        val waitedMs = (System.nanoTime() - t0) / 1000000
        // shed at the lane deadline (~5.2 s), NOT after the occupier's 6.5 s
        assert(queued == 503, s"$how: queued low request not shed: $queued")
        assert(waitedMs >= 5000 && waitedMs < 6300,
          s"$how: shed outside the lane-deadline window: ${waitedMs}ms")
        val (_, shedL) = pub.shedStatsByClass
        assert(shedL >= 1, s"$how: lane-deadline shed not counted: $shedL")
        assert(pub.shedStats >= 1, s"$how: shed not counted: ${pub.shedStats}")
        occupier.get() // the occupier's own verdict is its own business
        pool.shutdown()
      } finally pub.stopServing()
    }
  }

  test("SOAPCALL drives real per-row HTTP against the published loopback") {
    import graft.sources.Soapcall
    val url = Published.loopbackEchoUrl(spark)
    try {
      val in = Seq("abc", "NOT SPECIFIED", "x&y=z").toDF("t")
        .select(col("t"),
          concat(lit("v="), url_encode(col("t"))).as("payload"))
        .coalesce(1) // leave slots for the loopback's server-side jobs
      val out = Soapcall.callPerRow(in,
        Soapcall.Config(url, parallelism = 4), "payload", "raw")(
        Soapcall.httpTransport())
        .select(col("t"), get_json_object(col("raw"),
          "$.echoResponse.Results.rows[0].r").as("r"))
        .as[(String, String)].collect().toMap
      assert(out("abc") == "cba")
      assert(out("NOT SPECIFIED") == "DEIFICEPS TON") // '+'-encoding roundtrips
      assert(out("x&y=z") == "z=y&x") // form metachars survive the encode
      // a genuine HTTP error status propagates as a task failure
      val bad = Soapcall.callPerRow(
        Seq("v=1").toDF("payload").coalesce(1),
        Soapcall.Config(url.stripSuffix("echo") + "nope", retries = 0),
        "payload", "raw")(Soapcall.httpTransport())
      assertThrows[org.apache.spark.SparkException] { bad.collect() }
    } finally Published.stopLoopbackEcho()
  }

  test("Std.Audit: entries append, escape, read back; bad type fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_audit").toString
    // an empty trail is an empty frame with the declared schema, not an error
    val empty = Audit.read(spark, root)
    assert(empty.isEmpty && empty.columns.toSeq ==
      Seq("at", "audit_type", "msg", "data"))
    assert(Audit.audit(root, "ACCESS_SUCCESS", "user \"bob\" logged in",
      Array[Byte](1, 2, 3)))
    assert(Audit.audit(root, "ERROR", "line1\nline2"))
    val rows = Audit.read(spark, root)
      .select(col("audit_type"), col("msg"), col("data"))
      .as[(String, String, String)].collect()
    assert(rows.length == 2)
    assert(rows(0) == (("ACCESS_SUCCESS", "user \"bob\" logged in", "AQID")))
    assert(rows(1)._2 == "line1\nline2")
    assertThrows[IllegalArgumentException] {
      Audit.audit(root, "FATAL", "not a reference audit type")
    }
  }
}
