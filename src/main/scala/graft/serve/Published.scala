package graft.serve

import graft.workflow.Workflow.Stored
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Published parameterized queries — the capability shape of Roxie's
  * pub/sub serving layer (SURVEY §3 entry point 3: queries are compiled,
  * published under a name, then invoked with parameters over SOAP/JSON;
  * `roxie/ccd/ccdprotocol.cpp:565-614`). Spark-side: a registry of
  * pre-built plan factories over a long-running SparkSession; a thin HTTP
  * front end would call [[run]]. STORED parameters (`no_stored`) arrive as
  * the `Stored` map exactly like Roxie request parameters.
  */
final class Published(spark: SparkSession) {

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, (SparkSession, Stored) => DataFrame]

  /** Publish a query under a name (idempotent redeploy like Roxie;
    * redeploy invalidates the name's cached responses).
    */
  def publish(name: String)(fn: (SparkSession, Stored) => DataFrame): Unit = {
    registry.put(name, fn)
    cacheInvalidate(name)
  }

  def unpublish(name: String): Unit = {
    registry.remove(name)
    cacheInvalidate(name)
  }

  def list: Seq[String] = registry.keys.toSeq.sorted

  /** Invoke a published query with request parameters. */
  def run(name: String, params: Map[String, String] = Map.empty): DataFrame =
    registry.get(name) match {
      case Some(fn) => fn(spark, Stored(params))
      case None => throw new NoSuchElementException(s"query not published: $name")
    }

  // ---- HTTP/JSON protocol endpoint (ccdprotocol.cpp:565-614 JSON shape) --

  private var server: Option[com.sun.net.httpserver.HttpServer] = None

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Driver-side row → JSON (null fields omitted, matching `toJSON`).
    * Serving answers are maxRows-capped, so rendering on the driver is
    * answer-sized work — and it keeps two kinds of response entirely
    * job-free, because `take` reaches the plan's own `executeTake`: a
    * LocalRelation-backed one (e.g. the loopback echo, through
    * `LocalTableScanExec`) and a keyed lookup whose index read is one file
    * split (through `graft.sources.IndexLookupExec`, which reads it on the
    * handler thread). Neither schedules a Spark job per request.
    */
  private def jsonVal(v: Any): String = v match {
    case s: String => jsonStr(s)
    case b: Array[Byte] =>
      jsonStr(java.util.Base64.getEncoder.encodeToString(b))
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.underlying.toPlainString
    case t: java.sql.Timestamp => jsonStr(t.toInstant.toString)
    case t: java.time.Instant => jsonStr(t.toString)
    case d: java.sql.Date => jsonStr(d.toString)
    case d: java.time.LocalDate => jsonStr(d.toString)
    case r: org.apache.spark.sql.Row => jsonRow(r)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jsonStr(String.valueOf(k)) + ":" + jsonVal(x) }
        .mkString("{", ",", "}")
    case seq: scala.collection.Seq[_] =>
      seq.map(jsonVal).mkString("[", ",", "]")
    case other => String.valueOf(other) // boolean / numeric
  }

  private def jsonRow(r: org.apache.spark.sql.Row): String =
    r.schema.fields.indices.filterNot(r.isNullAt)
      .map(i => jsonStr(r.schema.fields(i).name) + ":" + jsonVal(r.get(i)))
      .mkString("{", ",", "}")

  /** Serve the registry over HTTP — the Roxie listener analog
    * (`roxie/ccd/ccdlistener.cpp` accept loop; response envelopes per
    * `ccdprotocol.cpp:565-614`, which speaks BOTH JSON and XML/SOAP). JDK
    * built-in server, no new dependencies:
    *
    *  - `GET /queries`                 → published names (JSON array)
    *  - `GET /query/<name>?p=v&…`      → run with STORED params, rows as
    *    `{"<name>Response":{"Results":{"rowCount":N,"rows":[…]}}}`
    *  - XML protocol: `Accept: text/xml` (or `?format=xml`) switches the
    *    envelope to `<nameResponse><Results><Dataset name="Result 1">
    *    <Row>…</Row></Dataset></Results></nameResponse>`.
    *  - `POST /query/<name>` accepts form-encoded bodies AND the Roxie
    *    SOAP shape (`Envelope/Body/<name>Request/<param>value`); a SOAP
    *    request gets a SOAP-enveloped XML response.
    *
    * `maxRows` caps the driver-side collect — a serving endpoint returns
    * answer-sized results (Roxie's mindset), not exports; bigger results
    * belong in OUTPUT/superfiles. Returns the bound port (pass 0 for an
    * ephemeral one).
    *
    * A malformed %-escape in a POST body gets this handler's own 400
    * envelope. In a GET's query string it never reaches the handler: the
    * JDK `HttpServer` refuses the request URI itself and answers a 400 with
    * its own `text/html` body, so that client gets neither the JSON nor the
    * XML error envelope, and no serving counter moves.
    *
    * Response cache: Roxie keeps compiled queries hot and caches results
    * server-side; the Spark analog caches the RENDERED response per
    * (name, params, format), and a cache hit skips the evaluation
    * entirely. A miss plans and runs the query: an uncached point lookup
    * on a 4-part sf0.1 customer index took a median 18 ms of engine time
    * on a 4-core host (planning included, read on the handler thread with
    * no Spark job, no broadcast and a cached parsed TLK), where it took
    * 34 ms when each read broadcast its Hadoop conf and 62 ms as a one-task
    * Spark job; an aggregate or a read of several splits runs Spark jobs.
    * Bounded LRU + TTL; publish/unpublish invalidate the name's entries.
    *
    * Production posture (all Roxie analogs, each ServeSpec-gated):
    *  - admission control ([[serveBounded]]): bounded workers + queue,
    *    immediate 503 shedding beyond the bound;
    *  - in-flight request collapsing (with caching on): identical
    *    concurrent misses evaluate ONCE ([[collapsedStats]]);
    *  - per-request timeout ([[withRequestTimeout]]): runaway Spark work
    *    is job-group-cancelled at the deadline → 503, never cached, and
    *    collapsed waiters inherit the winner's verdict.
    */
  private val cacheCap = 256
  private val cache =
    new java.util.LinkedHashMap[String, (Long, Int, String, String)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Int, String, String)]): Boolean =
        size() > cacheCap
    }
  // @volatile: configuration may be applied around serve() startup on a
  // different thread than the pooled handler threads that read it — plain
  // vars have no visibility guarantee and a post-start reconfiguration
  // could otherwise never be observed by a running handler
  @volatile private var cacheTtlMs = 0L

  // hit/miss accounting (Roxie publishes the same counters per query via
  // its metrics interface) — AtomicLongs, safe under the server's
  // cached-thread-pool concurrency
  private val cacheHitCount = new java.util.concurrent.atomic.AtomicLong(0)
  private val cacheMissCount = new java.util.concurrent.atomic.AtomicLong(0)
  private val collapsedCount = new java.util.concurrent.atomic.AtomicLong(0)

  // in-flight request collapsing (cache-stampede guard): one future per
  // cacheKey being computed; concurrent identical requests join it
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[(Int, String, String)]]()

  /** (hits, misses) since construction — only counted while caching is
    * enabled (`cacheTtlMs > 0`), so hits + misses + [[collapsedStats]]
    * == requests served with the cache on. A miss means ONE evaluation
    * ran; collapsed requests reused a concurrent miss's evaluation.
    */
  def cacheStats: (Long, Long) = (cacheHitCount.get(), cacheMissCount.get())

  /** Number of evaluations currently in flight (Roxie publishes the same
    * active-query gauge); also lets specs synchronize on "the winner has
    * registered" instead of sleeping a guessed interval.
    */
  def inFlightCount: Int = inFlight.size()

  /** Requests that joined an identical in-flight evaluation instead of
    * running their own (Roxie evaluates identical concurrent queries once).
    */
  def collapsedStats: Long = collapsedCount.get()

  private val collapsedTimeoutCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Collapsed waiters that gave up (503) when the in-flight evaluation
    * outlived the bounded wait.
    */
  def collapsedTimeoutStats: Long = collapsedTimeoutCount.get()

  // ---- per-request query timeout (Roxie aborts slow queries — one
  // runaway request must not occupy a worker forever). Each request's
  // Spark work runs under its own job group with interruptOnCancel; a
  // shared watchdog cancels the group at the deadline and the client
  // gets a 503 timeout envelope. Driver-side compute inside a published
  // fn is not interruptible — the bound covers Spark jobs, which is
  // where data-proportional work lives. A keyed lookup read on the
  // handler thread (`graft.sources.IndexLookupExec`) runs no job, so it
  // is not job-group-cancellable either; its gate bounds its work to one
  // file split of one index.
  @volatile private var requestTimeoutMs = 0L
  private val timeoutCount = new java.util.concurrent.atomic.AtomicLong(0)
  private lazy val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-publish-watchdog")
      t.setDaemon(true)
      t
    }

  /** Requests aborted at the deadline since construction. */
  def timeoutStats: Long = timeoutCount.get()

  /** Is this failure the watchdog's own cancellation surfacing? A request
    * that fails AFTER the deadline fired may still have died of an
    * unrelated cause — attributing any racing failure to the timeout would
    * mask the real error as a 503. Only interruption / cancellation /
    * Spark job-kill shapes (anywhere in the cause chain) classify.
    */
  private def isCancellation(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 16) {
      cur match {
        case _: InterruptedException => return true
        case _: java.util.concurrent.CancellationException => return true
        case e: org.apache.spark.SparkException =>
          val m = String.valueOf(e.getMessage).toLowerCase
          if (m.contains("cancel") || m.contains("killed")) return true
        case _ =>
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Bound each request's Spark work to `ms` milliseconds (0 disables).
    * The deadline cancels Spark jobs; a keyed lookup read on the handler
    * thread runs none, so it runs to its end, bounded by its one-split gate.
    */
  def withRequestTimeout(ms: Long): this.type = {
    requestTimeoutMs = ms
    this
  }

  // ---- data-version pinning (r16 verdict #6) --------------------------
  // Roxie pins a query's data at load and switches on an explicit reload
  // (roxie/ccd/ccdlistener.cpp control messages). The Spark analog offers
  // both halves: (a) a data-version supplier folded into the cache key —
  // wire it to FileCatalog.dataVersion and a promote/superfile swap
  // mid-TTL changes the key, so the next request re-evaluates against the
  // new generation instead of serving stale rows until the TTL runs out;
  // (b) an explicit /control/reload endpoint that drops every cached
  // response (the ccdlistener "reload" analog) for deployments without a
  // catalog to key on. The supplier runs once per request — keep it cheap
  // (FileCatalog's manifest chainInfo is cached between commits).
  @volatile private var dataVersion: () => String = () => ""

  /** Fold a data-version reading into every cache key. */
  def withDataVersion(f: () => String): this.type = {
    dataVersion = f
    this
  }

  /** Explicit full-cache drop (the Roxie control:reload analog). Returns
    * the number of entries dropped.
    */
  def reload(): Int = cache.synchronized {
    val n = cache.size(); cache.clear(); n
  }

  private def cacheGet(key: String): Option[(Int, String, String)] =
    cache.synchronized {
      Option(cache.get(key)).collect {
        case (at, code, body, ct)
          if System.currentTimeMillis() - at <= cacheTtlMs => (code, body, ct)
      }
    }

  private def cachePut(key: String, code: Int, body: String,
      ct: String): Unit =
    cache.synchronized {
      cache.put(key, (System.currentTimeMillis(), code, body, ct))
    }

  private def cacheInvalidate(name: String): Unit = cache.synchronized {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(name + " ")) it.remove()
  }

  /** Serve with response caching: `cacheTtlMs > 0` answers repeated
    * identical requests from the LRU within the TTL (the Roxie posture —
    * a served query is read-only over published state, so staleness is
    * bounded by the TTL the operator chooses; 0 disables).
    */
  def serve(port: Int, maxRows: Int, cacheTtlMs: Long): Int = {
    this.cacheTtlMs = cacheTtlMs
    serve(port, maxRows)
  }

  // ---- admission control (Roxie's listener runs a FIXED worker pool over
  // a bounded pending queue and sheds what it cannot absorb —
  // roxie/ccd/ccdlistener.cpp — because under overload an unbounded queue
  // turns every response late, while shedding keeps ACCEPTED requests
  // inside a computable latency bound: queued/workers × service time).
  // Excess gets an immediate 503 + Retry-After, never a blocked socket.
  private val shedCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Requests shed with 503 since construction. */
  def shedStats: Long = shedCount.get()

  // ---- priority lanes (Roxie runs SEPARATE high/low-priority queues so
  // interactive queries are not starved by batch ones — per-priority
  // worker pools in roxie/ccd/ccdlistener.cpp, per-channel priority
  // queues in ccdqueue.ipp). Two-class admission: each class has its own
  // bounded admit semaphore (workers + that class's queue — a clean
  // per-class 503 shed bound), and the shared worker gate PREEMPTS: a
  // waiting high-priority request blocks low-priority acquisition, so a
  // freed worker always goes to the high lane first.
  private final case class PriorityAdmission(
      admitHigh: java.util.concurrent.Semaphore,
      admitLow: java.util.concurrent.Semaphore,
      gate: PriorityGate)
  @volatile private var priorityAdmission: Option[PriorityAdmission] = None
  private val shedHighCount = new java.util.concurrent.atomic.AtomicLong(0)
  private val shedLowCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** (high, low) requests shed with 503 under [[servePrioritized]]. */
  def shedStatsByClass: (Long, Long) = (shedHighCount.get(), shedLowCount.get())

  // query → priority class, assigned at publish time like Roxie's
  // @priority query attribute; requests may also carry X-Query-Priority
  private val queryPriority =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Assign a published query's priority class ("high" | "low"; queries
    * default to low — the Roxie posture where batch is the default and
    * interactive lanes are opted in).
    */
  def setPriority(name: String, priority: String): Unit = {
    require(priority == "high" || priority == "low",
      s"priority must be high|low: $priority")
    queryPriority.put(name, priority)
    ()
  }

  // the X-Query-Priority override is OPT-IN (r15 verdict #4 / advice):
  // Roxie's priority is a publish-time query attribute; letting any
  // client self-elevate would make the low-lane shed guarantee advisory
  // against untrusted clients. Disabled (the default) the header is
  // ignored entirely; enabled, only the exact values "high"|"low" are
  // accepted and anything else is a 400, never a silent demotion.
  @volatile private var headerOverrideEnabled = false

  /** Left(badValue) → reject 400; Right(isHigh) → admit to that lane. */
  private def priorityOf(name: String,
      ex: com.sun.net.httpserver.HttpExchange): Either[String, Boolean] = {
    val published = queryPriority.get(name).contains("high")
    Option(ex.getRequestHeaders.getFirst("X-Query-Priority")) match {
      case Some(v) if headerOverrideEnabled =>
        if (v == "high" || v == "low") Right(v == "high") else Left(v)
      case _ => Right(published)
    }
  }

  /** Serve with TWO admission classes: at most `workers` requests evaluate
    * concurrently (shared pool, high-priority preemption on every freed
    * worker); each class queues up to its own bound beyond that and sheds
    * 503 past it. Under mixed overload the low lane sheds first and the
    * high lane's latency stays within its own queue's computable bound
    * (queuedHigh / workers × service time) — ServeSpec gates this with
    * observed per-class numbers. `allowHeaderOverride` opts in to the
    * X-Query-Priority request header; by default lane assignment is the
    * publish-time class alone.
    */
  def servePrioritized(port: Int, maxRows: Int, cacheTtlMs: Long,
      workers: Int, highQueue: Int, lowQueue: Int,
      allowHeaderOverride: Boolean = false): Int = {
    require(workers > 0 && highQueue >= 0 && lowQueue >= 0,
      "workers > 0, queues >= 0")
    headerOverrideEnabled = allowHeaderOverride
    priorityAdmission = Some(PriorityAdmission(
      new java.util.concurrent.Semaphore(workers + highQueue),
      new java.util.concurrent.Semaphore(workers + lowQueue),
      new PriorityGate(workers)))
    serve(port, maxRows, cacheTtlMs)
  }

  /** Serve with a bounded worker pool: at most `workers` requests evaluate
    * concurrently, at most `maxQueue` more wait; beyond that the listener
    * responds 503 immediately (clean rejection, not unbounded queueing).
    * The single-class form of [[servePrioritized]]: a query with no
    * [[setPriority]] takes the low lane, and a queued request that cannot
    * reach a worker before the lane deadline is shed 503 too.
    */
  def serveBounded(port: Int, maxRows: Int, cacheTtlMs: Long,
      workers: Int, maxQueue: Int): Int =
    servePrioritized(port, maxRows, cacheTtlMs, workers,
      highQueue = maxQueue, lowQueue = maxQueue)

  def serve(port: Int = 0, maxRows: Int = 10000): Int = synchronized {
    require(server.isEmpty, "already serving")
    // TCP_NODELAY on accepted sockets: headers and body go out as separate
    // small writes, and with Nagle on, the second waits out the peer's
    // delayed ACK — ~40ms PER REQUEST on loopback. Must be set before the
    // first HttpServer.create loads the JDK's ServerConfig.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    // parallel request handling on daemon threads: SOAPCALL's bounded
    // per-row pool issues concurrent calls, and a serving endpoint must
    // not serialize them through the accept loop
    srv.setExecutor(java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-publish-http")
      t.setDaemon(true)
      t
    })
    def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int,
        body: String, contentType: String = "application/json"): Unit = {
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    def xmlEsc(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case c => c.toString
    }
    // SOAP/XML request body → (params, isSoap): child elements of the
    // first *Request element (or of Body/root when none) become params
    def xmlParams(body: String): (Map[String, String], Boolean) = {
      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      dbf.setNamespaceAware(true) // getLocalName is null otherwise
      // request bodies are untrusted: no DOCTYPE (kills both XXE file
      // read/SSRF and billion-laughs expansion), no external entities
      dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      dbf.setFeature("http://xml.org/sax/features/external-general-entities", false)
      dbf.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
      dbf.setXIncludeAware(false)
      dbf.setExpandEntityReferences(false)
      val doc = dbf.newDocumentBuilder()
        .parse(new org.xml.sax.InputSource(new java.io.StringReader(body)))
      val isSoap = doc.getDocumentElement.getLocalName == "Envelope"
      def elems(n: org.w3c.dom.Node): Seq[org.w3c.dom.Element] = {
        val kids = n.getChildNodes
        (0 until kids.getLength).map(kids.item)
          .collect { case e: org.w3c.dom.Element => e }
      }
      // descend Envelope/Body if present: the params are the children of
      // its first element (the *Request wrapper), else of the root
      var cur: org.w3c.dom.Element = doc.getDocumentElement
      if (isSoap) elems(cur).find(_.getLocalName == "Body")
        .flatMap(b => elems(b).headOption).foreach(cur = _)
      (elems(cur).map(e => e.getLocalName -> e.getTextContent).toMap, isSoap)
    }
    // urlencoded `k=v&...` params (query string or form body); a malformed
    // escape throws IllegalArgumentException
    def formParams(encoded: String): Map[String, String] =
      encoded.split('&').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    srv.createContext("/queries",
      (ex: com.sun.net.httpserver.HttpExchange) =>
        respond(ex, 200, list.map(jsonStr).mkString("[", ",", "]")))
    srv.createContext("/control/reload",
      (ex: com.sun.net.httpserver.HttpExchange) =>
        respond(ex, 200, s"""{"reloaded":true,"cleared":${reload()}}"""))
    srv.createContext("/query/",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val name = ex.getRequestURI.getPath.stripPrefix("/query/")
        def handle(): Unit = {
        val bodyText =
          if (ex.getRequestMethod == "POST")
            scala.io.Source.fromInputStream(ex.getRequestBody, "UTF-8").mkString
          else ""
        val contentType = Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .getOrElse("")
        var soapIn = false
        val params = try {
          formParams(Option(ex.getRequestURI.getRawQuery).getOrElse("")) ++ (
            if (bodyText.isEmpty) Map.empty[String, String]
            else if (contentType.contains("xml")) {
              try { val (p, s) = xmlParams(bodyText); soapIn = s; p }
              catch { case _: Exception => Map.empty[String, String] }
            } else formParams(bodyText))
        } catch {
          // a malformed %-escape is the client's error: answer it, never
          // let the handler throw (the server would drop the connection)
          case e: IllegalArgumentException =>
            respond(ex, 400, s"""{"error":${jsonStr(
              s"malformed urlencoded parameters: ${e.getMessage}")}}""")
            return
        }
        val accept = Option(ex.getRequestHeaders.getFirst("Accept"))
          .getOrElse("")
        val wantXml = soapIn || accept.contains("xml") ||
          params.get("format").contains("xml")
        // cache key: name + format + sorted params (the space separator
        // cannot occur in a query name path segment)
        val cacheKey = s"$name ${if (wantXml) "x" else "j"}:$soapIn " +
          s"dv:${dataVersion()} " + params.toSeq.sorted.mkString("&")
        // full evaluation + rendering as a (code, body, contentType)
        // triple — never throws (errors render as 404/500/timeout
        // envelopes), so an in-flight future built on it always completes
        def render(): (Int, String, String) = {
          val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
          val guard = if (requestTimeoutMs <= 0) None else {
            val g = s"graft-pub-${java.lang.Long.toHexString(System.nanoTime())}"
            spark.sparkContext.setJobGroup(g, s"published:$name",
              interruptOnCancel = true)
            Some((g, watchdog.schedule(new Runnable {
              def run(): Unit = {
                timedOut.set(true)
                spark.sparkContext.cancelJobGroup(g)
              }
            }, requestTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)))
          }
          try {
            val df = run(name, params - "format")
            if (wantXml) {
              // to_xml keeps row rendering distributed (same machinery as
              // OUTPUT,XML); only capped answer-sized strings hit the driver
              import org.apache.spark.sql.functions.{col, regexp_replace, struct, to_xml}
              val rows = df.select(regexp_replace(
                  to_xml(struct(df.columns.map(col): _*),
                    java.util.Map.of("rowTag", "Row")),
                  "\\n\\s*", "").as("xml"))
                .take(maxRows).map(_.getString(0)).toSeq
              val core = s"""<${name}Response xmlns="urn:hpccsystems:ecl:$name">""" +
                s"""<Results><Dataset name="Result 1">${rows.mkString}""" +
                s"""</Dataset></Results></${name}Response>"""
              val xml = if (soapIn)
                """<?xml version="1.0" encoding="UTF-8"?>""" +
                  """<soap:Envelope xmlns:soap="http://schemas.xmlsoap.org/soap/envelope/">""" +
                  s"<soap:Body>$core</soap:Body></soap:Envelope>"
              else s"""<?xml version="1.0" encoding="UTF-8"?>$core"""
              (200, xml, "text/xml; charset=utf-8")
            } else {
              val rows = df.take(maxRows).map(jsonRow)
              val body =
                s"""{${jsonStr(name + "Response")}:{"Results":{"rowCount":${rows.length},"rows":[${rows.mkString(",")}]}}}"""
              (200, body, "application/json")
            }
          } catch {
            // fatal VM errors must propagate, never render as an envelope
            case e: VirtualMachineError => throw e
            // deadline abort FIRST: the cancelled Spark job surfaces as a
            // generic SparkException that must not read as a server error —
            // but ONLY the cancellation itself classifies (an unrelated
            // failure racing the watchdog keeps its own 500 envelope)
            case t: Throwable if timedOut.get() && isCancellation(t) =>
              timeoutCount.incrementAndGet()
              val msg = s"query timeout after ${requestTimeoutMs} ms"
              if (wantXml) (503,
                s"""<Exception><Message>${xmlEsc(msg)}</Message></Exception>""",
                "text/xml; charset=utf-8")
              else (503, s"""{"error":${jsonStr(msg)}}""", "application/json")
            case _: NoSuchElementException if !registry.contains(name) =>
              if (wantXml) (404,
                s"""<Exception><Message>${xmlEsc(s"query not published: $name")}</Message></Exception>""",
                "text/xml; charset=utf-8")
              else (404,
                s"""{"error":${jsonStr(s"query not published: $name")}}""",
                "application/json")
            case t: Throwable =>
              if (wantXml) (500,
                s"""<Exception><Message>${xmlEsc(String.valueOf(t.getMessage))}</Message></Exception>""",
                "text/xml; charset=utf-8")
              else (500,
                s"""{"error":${jsonStr(String.valueOf(t.getMessage))}}""",
                "application/json")
          } finally guard.foreach { case (_, scheduled) =>
            scheduled.cancel(false)
            // per-thread local property — clear so a pooled handler
            // thread's NEXT request doesn't inherit this group
            spark.sparkContext.clearJobGroup()
          }
        }
        val cached = if (cacheTtlMs > 0) cacheGet(cacheKey) else None
        cached match {
          case Some((code, body, ct)) =>
            cacheHitCount.incrementAndGet()
            respond(ex, code, body, ct)
          case None if cacheTtlMs > 0 =>
            // in-flight request collapsing (the Roxie posture: identical
            // concurrent queries evaluate ONCE — a cache miss hammered by
            // N clients must not run N Spark jobs, the cache-stampede
            // trap). First requester computes and completes the future;
            // the rest block on it and reuse the rendered response.
            val fresh =
              new java.util.concurrent.CompletableFuture[(Int, String, String)]()
            val prior = inFlight.putIfAbsent(cacheKey, fresh)
            if (prior != null) {
              collapsedCount.incrementAndGet()
              // BOUNDED join: with the request timeout disabled, one slow
              // evaluation must not park unbounded handler threads (and,
              // under serveBounded, worker permits) on a single cache key —
              // waiters give up after the request deadline plus scheduling
              // slack (or 60 s) and answer 503 so their threads free up
              val waitMs =
                if (requestTimeoutMs > 0) requestTimeoutMs + 5000 else 60000L
              try {
                val (code, body, ct) =
                  prior.get(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS)
                respond(ex, code, body, ct)
              } catch {
                case _: java.util.concurrent.TimeoutException =>
                  collapsedTimeoutCount.incrementAndGet()
                  respond(ex, 503,
                    """{"error":"server busy: in-flight wait timed out"}""")
              }
            } else {
              cacheMissCount.incrementAndGet()
              try {
                val r = render()
                if (r._1 == 200) cachePut(cacheKey, r._1, r._2, r._3)
                fresh.complete(r)
                respond(ex, r._1, r._2, r._3)
              } finally {
                inFlight.remove(cacheKey)
                // defensive: render() never throws, but a waiter must
                // never hang if that invariant is ever broken
                fresh.complete((500,
                  """{"error":"internal: render aborted"}""",
                  "application/json"))
              }
            }
          case None =>
            val (code, body, ct) = render()
            respond(ex, code, body, ct)
        }
        }
        // shed: reject NOW (the client can retry) rather than stretch every
        // accepted request's latency with an unbounded backlog. The request
        // body is drained first: an undrained POST body can surface
        // client-side as a connection abort instead of a clean 503
        // (com.sun.net.httpserver closes the exchange with unread bytes
        // still in flight).
        def shed(msg: String): Unit = {
          shedCount.incrementAndGet()
          try {
            val in = ex.getRequestBody
            val buf = new Array[Byte](8192)
            while (in.read(buf) >= 0) {}
            in.close()
          } catch { case _: java.io.IOException => }
          ex.getResponseHeaders.set("Retry-After", "1")
          respond(ex, 503, s"""{"error":${jsonStr(msg)}}""")
        }
        priorityAdmission match {
          case Some(pa) => priorityOf(name, ex) match {
            case Left(bad) =>
              // reject, never silently demote: "HIGH", a typo, etc. would
              // otherwise drop a published-high query into the low lane
              respond(ex, 400, s"""{"error":${jsonStr(
                s"invalid X-Query-Priority (want high|low): $bad")}}""")
            case Right(high) =>
              val admit = if (high) pa.admitHigh else pa.admitLow
              if (!admit.tryAcquire()) {
                (if (high) shedHighCount else shedLowCount).incrementAndGet()
                shed(s"server busy: ${if (high) "high" else "low"}-priority " +
                  "lane full")
              } else try {
                // deadline-bounded worker wait: an admitted request may
                // queue, but never parks its handler thread indefinitely
                // (the request deadline plus scheduling slack, or 60 s —
                // the same bound as the collapsed-join wait)
                val laneWaitMs =
                  if (requestTimeoutMs > 0) requestTimeoutMs + 5000 else 60000L
                if (!pa.gate.tryAcquire(high, laneWaitMs)) {
                  (if (high) shedHighCount else shedLowCount).incrementAndGet()
                  shed(s"server busy: ${if (high) "high" else "low"}-priority " +
                    "request timed out waiting for a worker")
                } else try handle() finally pa.gate.release()
              } finally admit.release()
          }
          case None => handle()
        }
      })
    srv.start()
    server = Some(srv)
    srv.getAddress.getPort
  }

  /** Stop the listener (published queries stay registered). */
  def stopServing(): Unit = synchronized {
    server.foreach(_.stop(0))
    server = None
  }
}

/** The shared worker gate of [[Published.servePrioritized]]: `permits`
  * workers, and a freed permit ALWAYS goes to a waiting high-priority
  * acquirer first — a low-priority request can only take a permit while no
  * high waits (the Roxie listener's per-priority worker-pool behavior,
  * expressed as one preempting gate). Package-visible so the preemption
  * contract is unit-tested deterministically, not only statistically.
  */
private[graft] final class PriorityGate(permits: Int) {
  private var free = permits
  private var highWaiting = 0
  def acquire(high: Boolean): Unit = synchronized {
    if (high) {
      highWaiting += 1
      try { while (free == 0) wait() } finally highWaiting -= 1
      free -= 1
    } else {
      while (free == 0 || highWaiting > 0) wait()
      free -= 1
    }
  }

  /** Deadline-bounded acquire (r15 advice): an admitted request must
    * never park a handler thread indefinitely — under sustained
    * high-priority load the low lane would otherwise accumulate up to
    * workers+lowQueue parked threads forever (the same unbounded-park
    * hazard the bounded collapsed-join closed). Returns false on expiry;
    * the caller answers 503 + Retry-After.
    */
  def tryAcquire(high: Boolean, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def leftMs: Long = (deadline - System.nanoTime()) / 1000000L
    if (high) {
      highWaiting += 1
      try {
        while (free == 0) {
          val ms = leftMs
          if (ms <= 0) return false
          wait(ms)
        }
      } finally highWaiting -= 1
      free -= 1; true
    } else {
      while (free == 0 || highWaiting > 0) {
        val ms = leftMs
        if (ms <= 0) return false
        wait(ms)
      }
      free -= 1; true
    }
  }
  def release(): Unit = synchronized { free += 1; notifyAll() }
}

object Published {

  private var loopback: Option[Published] = None
  private var loopbackUrl: String = _

  /** In-process echo service for exercising SOAPCALL/HTTPCALL over a REAL
    * socket with zero egress: publishes `echo` (param `v` → one row
    * `r = reverse(v)`) and serves it on an ephemeral loopback port, once
    * per JVM. The listener stops when the SparkContext ends (or via
    * [[stopLoopbackEcho]]). This is the local-mode harness for the
    * transport; on a cluster SOAPCALL targets an external service URL —
    * and note the served query runs driver-side Spark jobs, so callers
    * inside a local-mode dataflow must leave task slots free (a fixed
    * outbound-call window on one partition, as q134 does).
    */
  def loopbackEchoUrl(spark: SparkSession): String = synchronized {
    if (loopback.isEmpty) {
      val pub = new Published(spark)
      // schema precomputed once: per-request `toDF` would re-derive the
      // encoder through ScalaReflection (a global lock, tens of ms) —
      // serving latency must not pay reflection per call
      val echoSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.StringType)))
      pub.publish("echo") { (s, stored) =>
        s.createDataFrame(java.util.Collections.singletonList(
          org.apache.spark.sql.Row(stored("v", "").reverse)), echoSchema)
      }
      val port = pub.serve(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            stopLoopbackEcho()
        })
      loopback = Some(pub)
      loopbackUrl = s"http://127.0.0.1:$port/query/echo"
    }
    loopbackUrl
  }

  def stopLoopbackEcho(): Unit = synchronized {
    loopback.foreach(_.stopServing())
    loopback = None
  }
}
