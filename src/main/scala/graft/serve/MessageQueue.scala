package graft.serve

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sources.ManifestIo

/** Message-queue service — the `plugins/sqs` analog (`sqs.ecllib:35-42`
  * SQSPublisher.{CreateQueue,IsQueueExist,PublishMessage,
  * PublishOrderedMessage}; `sqs.cpp:244` receiveMessage single-message
  * claim, deleteQueue/deleteMessage). The reference wraps AWS SQS; this
  * is a clean-room local queue with the SAME delivery contract —
  * at-least-once, per-message visibility timeout, ack-to-delete — so
  * landing-zone and workflow jobs can coordinate through a queue with
  * zero egress, exactly as [[Email]] speaks real SMTP to a loopback
  * listener.
  *
  * Layout: one directory per queue; one file per message named
  * `m<seq16>-<uuid>.msg` (the seq prefix gives FIFO order — PublishMessage
  * stamps a timestamp-derived seq, PublishOrderedMessage an explicit one,
  * mirroring the reference's ordered variant). A claim is
  * `<message>.claim` holding the visibility expiry; claims are won by
  * an atomic claim WITH content (`ManifestIo.claimLocal`, the same
  * winner-election primitive as [[graft.sources.LogManifest]]), so a
  * claim never exists without its expiry and concurrent consumers never
  * double-deliver inside a visibility window. Driver-side by design:
  * queues coordinate JOBS, not rows — row traffic belongs in
  * OUTPUT/superfiles.
  */
final class MessageQueue(root: String) {

  new File(root).mkdirs()

  private def qDir(queue: String): File = {
    require(queue.nonEmpty && !queue.contains('/') && !queue.contains('\\'),
      s"invalid queue name: $queue")
    new File(root, queue)
  }

  /** `CreateQueue()`: true if created, false if it already existed
    * (SQS create is idempotent).
    */
  def createQueue(queue: String): Boolean = qDir(queue).mkdir()

  /** `IsQueueExist()`. */
  def queueExists(queue: String): Boolean = qDir(queue).isDirectory

  def deleteQueue(queue: String): Unit = {
    val d = qDir(queue)
    Option(d.listFiles()).foreach(_.foreach(_.delete()))
    d.delete()
  }

  def listQueues(): Seq[String] =
    Option(new File(root).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isDirectory).map(_.getName).sorted

  /** A received message: ack with [[deleteMessage]] before the visibility
    * expiry or it redelivers (the at-least-once contract).
    */
  final case class Received(queue: String, receiptHandle: String,
      body: String)

  private val seqCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** `PublishMessage(message)`: durable append in arrival order. */
  def publish(queue: String, message: String): Boolean =
    publishOrdered(queue,
      // time-major seq preserves arrival order across JVMs; the counter
      // disambiguates same-millisecond publishes from this one
      (System.currentTimeMillis() << 20) | (seqCounter.incrementAndGet() & 0xFFFFFL),
      message)

  /** `PublishOrderedMessage(message, messagecount)`: explicit sequence —
    * consumers drain in seq order regardless of publish interleaving.
    */
  def publishOrdered(queue: String, seq: Long, message: String): Boolean = {
    require(queueExists(queue), s"no such queue: $queue")
    val name = f"m$seq%016x-${java.util.UUID.randomUUID()}.msg"
    // write-then-rename: a concurrent receiver never sees a torn body
    val tmp = new File(qDir(queue), s".$name.tmp")
    Files.write(tmp.toPath, message.getBytes(UTF_8))
    Files.move(tmp.toPath, new File(qDir(queue), name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    true
  }

  /** `receiveMessage()` (sqs.cpp:244 — max 1 message, claim-based):
    * returns the oldest visible message and makes it INVISIBLE to other
    * consumers for `visibilityMs`. Delete before expiry for exactly-once;
    * otherwise it redelivers (at-least-once).
    */
  def receive(queue: String, visibilityMs: Long = 30000L): Option[Received] = {
    require(queueExists(queue), s"no such queue: $queue")
    val now = System.currentTimeMillis()
    val msgs = Option(qDir(queue).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("m") && f.getName.endsWith(".msg"))
      .sortBy(_.getName)
    msgs.iterator.flatMap { m =>
      val claim = new File(qDir(queue), m.getName + ".claim")
      val live = claimExpiry(claim).exists { expiry =>
        expiry > now || !claim.delete() // expired claims removed in place
      }
      // winner election: exactly one claimer links its claim into place;
      // losers move on to the next message
      if (live ||
          !ManifestIo.claimLocal(claim, (now + visibilityMs).toString)) None
      else {
        try {
          // the message may have been deleted between listing and claiming
          if (!m.exists()) { claim.delete(); None }
          else Some(Received(queue, m.getName,
            new String(Files.readAllBytes(m.toPath), UTF_8)))
        } catch {
          case _: java.nio.file.NoSuchFileException => None
        }
      }
    }.nextOption()
  }

  /** The visibility expiry a claim holds, or None when there is no claim
    * (never claimed, acked, or removed by a peer since the listing).
    */
  private def claimExpiry(claim: File): Option[Long] =
    try Some(new String(Files.readAllBytes(claim.toPath), UTF_8).trim.toLong)
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Ack: delete the message (and its claim) — completes the delivery. */
  def deleteMessage(queue: String, receiptHandle: String): Boolean = {
    val m = new File(qDir(queue), receiptHandle)
    val ok = m.delete()
    new File(qDir(queue), receiptHandle + ".claim").delete()
    ok
  }

  /** Approximate visible depth (monitoring; SQS's ApproximateNumberOfMessages). */
  def depth(queue: String): Int = {
    val now = System.currentTimeMillis()
    Option(qDir(queue).listFiles()).getOrElse(Array.empty)
      .count { f =>
        f.getName.endsWith(".msg") && {
          claimExpiry(new File(qDir(queue), f.getName + ".claim"))
            .forall(_ <= now)
        }
      }
  }
}
