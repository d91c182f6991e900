package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit engine for driver-side metadata — the [[FileCatalog]] and
  * the [[Store]] KV service — so every metadata service shares one proven
  * concurrency story. Dali serves catalog load from an
  * incrementally-updated in-memory SDS tree (`dali/base/dadfs.hpp:493`);
  * this is the crash-safe file-backed analog.
  *
  * State is a chain of version files under `dir`, `v<seq>.txt`, each
  * terminated by an `#END` line. A commit atomically CLAIMS the next
  * sequence number WITH its content ([[ManifestIo.claimAndWrite]]: POSIX
  * `link(2)` on local filesystems — atomic AND exclusive;
  * `FileSystem.create(overwrite=false)` elsewhere) and a lost
  * race re-runs the commit function against the fresher state. Readers
  * take the newest `#END`-complete chain, so a crashed half-written claim
  * is invisible; committers expire such claims after `staleClaimMs` and
  * claim past them. Each version file is either
  *
  *  - `#FULL` — a complete state snapshot (also every legacy untagged,
  *    `#END`-terminated snapshot written by the retired full-snapshot
  *    engine, so existing `_catalog` and `_store` dirs read unchanged), or
  *  - `#DELTA` — the committed operation records, one per line, replayed
  *    over the previous chain state.
  *
  * A reader reconstructs state by walking back from the newest valid
  * version to the nearest `#FULL` and replaying forward; an in-process
  * cache (the Dali in-memory-tree analog) makes warm loads O(new records)
  * — one directory listing plus the records committed since the cached
  * sequence. Compaction is automatic: a commit writes `#FULL` instead of
  * `#DELTA` once the ops replayed since the last snapshot reach
  * `max(compactEvery, stateSize/8)`, so replay depth stays bounded AND a
  * huge catalog is not re-rendered every few commits (single-op commits at
  * 1 M names stay O(delta); CatalogProbe measures this).
  *
  * This is an optimistic-concurrency design for LOW-RATE metadata commits
  * (file registrations, KV config writes) — not a data path.
  *
  * One delta-specific sharpening of the claim protocol: on non-local
  * filesystems a committer that stalls longer than `staleClaimMs` between
  * claiming and finishing its stream may have its claim expired and its
  * record completed LATE — into a chain built without it. Each `#DELTA`
  * therefore carries the sequence number of the record its ops were
  * applied against (`#DELTA <parent>`), and readers skip any delta whose
  * parent does not match the replay cursor: the late completion degrades
  * to the documented non-durable (lost) commit instead of replaying into
  * every future read — where a conflicting op
  * (e.g. a duplicate AddSub, ops re-validate on replay) would otherwise
  * make `load()` throw for ALL readers, a permanently poisoned chain. On
  * local filesystems `link(2)` makes claim and content one atomic event,
  * so the hazard cannot arise; the parent guard costs nothing there.
  */
private[graft] final class LogManifest[S, O](
    spark: SparkSession,
    dirPath: String,
    emptyState: => S,
    parseState: String => S,
    renderState: S => String,
    parseOp: String => O,
    renderOp: O => String,
    applyOp: (S, O) => S,
    sizeOf: S => Int,
    compactEvery: Int = 16) {

  private val dir = new Path(dirPath)
  private def fs: FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val EndMarker = "#END"
  private val FullTag = "#FULL"
  private val DeltaTag = "#DELTA"
  private val staleClaimMs = 60000L

  /** Claim files older than the newest snapshot's chain kept for readers
    * that listed versions just before a burst of commits; a reader whose
    * chain is GC'd mid-read detects the MISSING file (distinct from an
    * invalid crashed claim) and retries from a fresh listing.
    */
  private val gcKeepVersions = 32L

  /** (newest scanned sequence, snapshot-base sequence, ops replayed since
    * base, last APPLIED sequence — the replay cursor, which lags the scan
    * cursor when orphaned late deltas were skipped — and state). CAS-
    * guarded so a slow committer can never regress the cache below a
    * faster peer's newer entry (a regressed cache would replay committed
    * ops twice, and validating ops are not idempotent).
    */
  private val cached =
    new java.util.concurrent.atomic.AtomicReference[
      (Long, Long, Int, Long, S)](null)

  private def versionFile(v: Long) = ManifestIo.versionFile(dir, v)

  /** All claimed version numbers, descending (valid or not). */
  private def claimedVersions(): Seq[Long] =
    ManifestIo.claimedVersions(fs, dir)

  /** `Right((isFull, parent, body))` iff the file is complete
    * (`#END`-terminated); `parent` is the delta's declared parent sequence
    * (None for `#FULL` and for pre-r16 parentless deltas, which replay
    * unconditionally). `Left(false)` is a crashed claim (skip),
    * `Left(true)` means the file was GC'd after listing (caller re-lists).
    */
  private def readRecord(
      v: Long): Either[Boolean, (Boolean, Option[Long], String)] = {
    // a file GC'd after listing may vanish before (or at) the open
    val in = try fs.open(versionFile(v))
      catch { case _: java.io.FileNotFoundException => return Left(true) }
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val t = text.stripLineEnd
    if (!(t == EndMarker || t.endsWith("\n" + EndMarker))) Left(false)
    else {
      val body = t.stripSuffix(EndMarker).stripSuffix("\n")
      if (body.startsWith(DeltaTag)) {
        val afterTag = body.stripPrefix(DeltaTag)
        val (hdr, rest) = afterTag.indexOf('\n') match {
          case -1 => (afterTag, "")
          case i => (afterTag.take(i), afterTag.drop(i + 1))
        }
        Right((false, hdr.trim match {
          case "" => None
          case s => s.toLongOption
        }, rest))
      } else if (body.startsWith(FullTag))
        Right((true, None, body.stripPrefix(FullTag).stripPrefix("\n")))
      else Right((true, None, body)) // legacy untagged snapshot
    }
  }

  private def opsOf(deltaBody: String): Seq[O] =
    if (deltaBody.isEmpty) Nil
    else deltaBody.split("\n").toSeq.filter(_.nonEmpty).map(parseOp)

  /** Newest state + bookkeeping: (newestSeq, baseSeq, opsSinceBase,
    * lastAppliedSeq, state). Warm path replays only records committed
    * since the cached sequence.
    */
  private def loadFull(): (Long, Long, Int, Long, S) = {
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 50, "manifest load: GC race retry limit exceeded")
      reconstructOnce() match {
        case Some(r) => return r
        case None => () // chain file GC'd between list and read — re-list
      }
    }
    sys.error("unreachable")
  }

  private def reconstructOnce(): Option[(Long, Long, Int, Long, S)] = {
    val versions = claimedVersions() // descending
    val cachedNow = cached.get()
    // records newer than the cache (or the whole chain when cold), newest
    // first, stopping at a #FULL or at the cached sequence
    var records = // ascending when done
      List.empty[(Long, Boolean, Option[Long], String)]
    var newest = -1L
    var base = -1L
    var stopped = false
    var vanished = false
    val it = versions.iterator
    while (it.hasNext && !stopped) {
      val v = it.next()
      if (cachedNow != null && v <= cachedNow._1) { stopped = true }
      else readRecord(v) match {
        case Right((isFull, parent, body)) =>
          if (newest < 0) newest = v
          records = (v, isFull, parent, body) :: records
          if (isFull) { base = v; stopped = true }
        case Left(true) if newest >= 0 =>
          // a file BELOW an already-read newer record vanished: GC race —
          // unless the cache covers it, the chain is unreconstructible
          // from this listing; retry
          if (cachedNow == null || v > cachedNow._1) return None
          stopped = true
        case Left(true) => vanished = true // listed file gone before read
        case Left(_) => () // crashed claim: skip
      }
    }
    if (newest < 0) {
      // a non-empty listing whose files ALL vanished before any read is a
      // GC race, not an empty catalog — a silent emptyState here would be
      // a wrong answer; re-list (the retry loop's attempt bound backstops)
      if (vanished) return None
      // nothing newer than the cache: the cache IS the state (or empty)
      return Some(
        if (cachedNow != null) cachedNow else (-1L, -1L, 0, -1L, emptyState))
    }
    // fold: from the in-range #FULL if present, else from the cache, else
    // from empty (a fully-GC'd pre-history can only sit below a #FULL)
    var state = emptyState
    var opsSince = 0
    var effBase = base
    var cursor = -1L // last APPLIED sequence
    if (base < 0 && cachedNow != null) {
      state = cachedNow._5; opsSince = cachedNow._3; effBase = cachedNow._2
      cursor = cachedNow._4
    }
    records.foreach { case (v, isFull, parent, body) =>
      if (isFull) {
        effBase = v; state = parseState(body); opsSince = 0; cursor = v
      } else if (parent.forall(_ == cursor)) {
        val ops = opsOf(body)
        state = ops.foldLeft(state)(applyOp)
        opsSince += ops.size
        cursor = v
      }
      // else: an expired claim completed LATE into a chain built without
      // it (its parent is not the record the chain applied last) — skip:
      // the documented non-durable commit, never a replayed conflict
    }
    val result = (newest, effBase, opsSince, cursor, state)
    cacheAdvance(result)
    Some(result)
  }

  private def cacheAdvance(entry: (Long, Long, Int, Long, S)): Unit = {
    var done = false
    while (!done) {
      val cur = cached.get()
      done = (cur != null && cur._1 >= entry._1) ||
        cached.compareAndSet(cur, entry)
    }
  }

  /** Newest complete state. */
  def load(): S = loadFull()._5

  /** (newest sequence, snapshot base sequence, ops since base) — probe /
    * spec observability.
    */
  def chainInfo(): (Long, Long, Int) = {
    val (n, b, o, _, _) = loadFull(); (n, b, o)
  }

  private def terminate(content: String): String =
    if (content.isEmpty) EndMarker else content + "\n" + EndMarker

  /** Load-modify-commit loop: `f` reads the current state and returns the
    * operation records to commit; ops are validated/applied by `applyOp`
    * (throws abort the commit, nothing is written) and a lost claim race
    * re-runs `f` against the fresher state. Returns the committed state.
    */
  def commit(f: S => Seq[O]): S = {
    fs.mkdirs(dir)
    // two budgets: lost claim RACES are genuine contention and count
    // against the 1000-attempt bound; waiting out a peer's mid-write claim
    // is NOT contention and is bounded by its own deadline just past
    // staleClaimMs — counting 20 ms sleeps against the race budget would
    // exhaust it (~20 s) before the 60 s expiry ever fired, turning one
    // crashed non-local committer into hard commit failures for all peers
    var attempts = 0
    val waitDeadline = System.currentTimeMillis() + staleClaimMs + 10000
    while (true) {
      val newest = claimedVersions().headOption.getOrElse(-1L)
      val newestIsMidWrite = newest >= 0 && (readRecord(newest) match {
        case Left(false) =>
          // claim without content: mid-write (wait — committing past it
          // would build on a stale base and drop its update) or crashed
          // (expire after staleClaimMs and claim past)
          val age = System.currentTimeMillis() -
            fs.getFileStatus(versionFile(newest)).getModificationTime
          if (age < staleClaimMs) {
            require(System.currentTimeMillis() < waitDeadline,
              "manifest commit: mid-write claim never completed nor expired")
            Thread.sleep(20); true
          } else false
        case _ => false
      })
      if (!newestIsMidWrite) {
        attempts += 1
        require(attempts <= 1000, "manifest commit: contention limit exceeded")
        val (curSeq, curBase, opsSince, lastApplied, cur) = loadFull()
        val ops = f(cur)
        val next = ops.foldLeft(cur)(applyOp)
        // compact when replay depth reaches the snapshot-amortized bound:
        // a small catalog snapshots every compactEvery ops; a 1 M-name one
        // every ~sizeOf/8 ops, keeping single-op commits O(delta) while
        // bounding cold-load replay at a fraction of the snapshot parse
        val compactAt = math.max(compactEvery, sizeOf(next) / 8)
        val asFull = curBase < 0 || opsSince + ops.size >= compactAt
        // a delta declares the record its ops were applied against (the
        // replay CURSOR, not the raw newest — an orphaned late delta at
        // the chain head is scanned but not applied, and a new commit
        // must not inherit its sequence as parent)
        val content = terminate(
          if (asFull) FullTag + "\n" + renderState(next)
          else DeltaTag + " " + lastApplied + (if (ops.isEmpty) ""
            else "\n" + ops.map(renderOp).mkString("\n")))
        val seq = math.max(curSeq, newest) + 1
        if (ManifestIo.claimAndWrite(fs, versionFile(seq), content)) {
          val base = if (asFull) seq else curBase
          cacheAdvance((seq, base,
            if (asFull) 0 else opsSince + ops.size, seq, next))
          // GC: keep the live chain (>= base) plus a reader margin
          claimedVersions()
            .filter(v => v < base && v < seq - gcKeepVersions)
            .foreach(v => fs.delete(versionFile(v), false))
          return next
        }
      }
    }
    sys.error("unreachable")
  }
}
