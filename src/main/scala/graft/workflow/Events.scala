package graft.workflow

/** Event workflow primitives (ref `ecl/schedulectrl/eventqueue.cpp`
  * CScheduleEventPusher/CSchedulePuller; `WFTypeWait`
  * `common/workunit/workunit.hpp:581`): NOTIFY pushes a named event with a
  * text payload, WHEN registers a job fired on matching events, WAIT blocks
  * a workflow step until a matching event arrives. Event names compare
  * case-insensitively and the text filter uses the reference's
  * filename-style wildcards (`*`/`?` — jregexp in the event pusher).
  *
  * Driver-side by design — events coordinate *jobs*, not rows, exactly as
  * the reference routes them through Dali rather than Thor. Beyond the
  * reference: WHEN subscriptions replay events notified before the
  * subscription existed (the reference drops events with no subscriber,
  * which loses work when job B deploys moments after job A notifies);
  * each subscription consumes each matching event exactly once, tracked by
  * a per-subscription cursor into the ordered event log. CRON scheduling
  * maps to Structured Streaming triggers ([[graft.streaming.Streams]]) —
  * the reference's CRON pseudo-event is a timer pushing into this same
  * queue.
  */
object Events {

  final case class Event(name: String, text: String, seq: Long)

  /** `*`/`?` wildcard match (anchored) — the event-filter dialect, also
    * the LogicalFileList name-pattern dialect ([[graft.sources.FileCatalog]]).
    */
  def wildcardMatch(pattern: String, s: String): Boolean = {
    val rx = pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    }
    s.matches(rx)
  }

  final class Scheduler {
    private final class Sub(val name: String, val textPattern: String,
        val job: Event => Unit) {
      var cursor: Long = 0L // next log seq this subscription will examine
    }

    private val log = scala.collection.mutable.ArrayBuffer.empty[Event]
    private val subs = scala.collection.mutable.ArrayBuffer.empty[Sub]
    private val lock = new Object

    private def matches(e: Event, name: String, textPattern: String): Boolean =
      e.name.equalsIgnoreCase(name) && wildcardMatch(textPattern, e.text)

    /** NOTIFY(EVENT(name, text)): append to the log and dispatch to every
      * matching subscription. Jobs run on the notifying thread, after the
      * lock is released — a failing job surfaces to the notifier, where
      * a SUCCESS/FAILURE handler is the caller's try/catch.
      */
    def notify(name: String, text: String = ""): Unit = {
      val toRun = lock.synchronized {
        val e = Event(name, text, log.length.toLong)
        log += e
        lock.notifyAll()
        subs.toSeq.flatMap { s =>
          if (matches(e, s.name, s.textPattern) && s.cursor <= e.seq) {
            s.cursor = e.seq + 1
            Some(() => s.job(e))
          } else None
        }
      }
      toRun.foreach(_.apply())
    }

    /** `job : WHEN(EVENT(name, filter))`: register a handler. Events
      * already in the log that this subscription has not consumed are
      * REPLAYED immediately (missed-event delivery), then future notifies
      * dispatch as they arrive.
      */
    def when(name: String, textPattern: String = "*")(job: Event => Unit)
        : Unit = {
      val replay = lock.synchronized {
        val s = new Sub(name, textPattern, job)
        val missed = log.filter(e => matches(e, name, textPattern)).toSeq
        s.cursor = log.length.toLong
        subs += s
        missed
      }
      replay.foreach(job)
    }

    /** WAIT(EVENT(name, filter)) (`WFTypeWait`): block until an event
      * notified AFTER this call matches (the reference's WAIT parks the
      * workflow item for future events; use [[when]] for replay
      * semantics). Returns None on timeout.
      */
    def waitFor(name: String, textPattern: String = "*",
        timeoutMs: Long = 60000L): Option[Event] = lock.synchronized {
      val from = log.length.toLong
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var found: Option[Event] = None
      var remaining = timeoutMs
      while (found.isEmpty && remaining > 0) {
        found = log.iterator.filter(_.seq >= from)
          .find(e => matches(e, name, textPattern))
        if (found.isEmpty) {
          lock.wait(remaining)
          remaining = (deadline - System.nanoTime()) / 1000000L
          found = log.iterator.filter(_.seq >= from)
            .find(e => matches(e, name, textPattern))
        }
      }
      found
    }

    /** The ordered event history (diagnostic, workunitservices-style). */
    def history: Seq[Event] = lock.synchronized(log.toSeq)

    /** CRON pseudo-event (`schedulectrl`'s CRON pushes timer ticks into
      * the SAME event queue as NOTIFY; `job : WHEN(CRON('…'))`): a daemon
      * timer notifying `name` every `intervalMs` until the returned handle
      * closes. A throwing WHEN job must not kill the schedule — the tick
      * loop survives and the failure surfaces to the job's own
      * SUCCESS/FAILURE handling (a try/catch in the job), as in the
      * reference.
      */
    def cron(name: String, intervalMs: Long): AutoCloseable = {
      @volatile var live = true
      val t = new Thread(() => {
        while (live) {
          try notify(name)
          catch { case scala.util.control.NonFatal(_) => () }
          Thread.sleep(intervalMs)
        }
      }, s"graft-cron-$name")
      t.setDaemon(true)
      t.start()
      () => live = false
    }
  }
}
