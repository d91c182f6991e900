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
  * mirroring the reference's ordered variant). Claims are versioned,
  * `<message>.claim.<n>`, each holding a visibility expiry; the newest
  * version is the claim. Version n+1 is won by an atomic claim WITH
  * content (`ManifestIo.claimLocal`, the same winner-election primitive
  * as [[graft.sources.LogManifest]]), and only when version n is absent
  * or expired, so a claim never exists without its expiry. An expired
  * claim is never deleted in place: a consumer acting on a stale read of
  * it loses the link of n+1 to the peer that took it over, instead of
  * deleting that peer's live claim, so concurrent consumers never
  * double-deliver inside a visibility window. The winner prunes older
  * versions. Driver-side by design:
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
    val names = listing(queue)
    val newest = claims(names).view.mapValues(_.last).toMap
    val msgs = names.filter(n => n.startsWith("m") && n.endsWith(".msg")).sorted
      .map(new File(qDir(queue), _))
    msgs.iterator.flatMap { m =>
      val n = newest.getOrElse(m.getName, 0L)
      val free = n == 0L ||
        claimExpiry(claimFile(queue, m.getName, n)).exists(_ <= now)
      // winner election on version n+1: exactly one claimer links it;
      // losers (and readers of a claim a peer has since taken over) move
      // on to the next message
      val mine = claimFile(queue, m.getName, n + 1)
      if (!free || !ManifestIo.claimLocal(mine, (now + visibilityMs).toString))
        None
      else {
        val versions = claims(listing(queue)).getOrElse(m.getName, Nil)
        // a newer version means n+1 was taken over and pruned before this
        // stale link landed: the peer holding the newest version owns it
        if (versions.exists(_ > n + 1)) { mine.delete(); None }
        else {
          versions.filter(_ <= n).foreach(v => claimFile(queue, m.getName, v).delete())
          try {
            // the message may have been deleted between listing and claiming
            if (!m.exists()) { mine.delete(); None }
            else Some(Received(queue, m.getName,
              new String(Files.readAllBytes(m.toPath), UTF_8)))
          } catch {
            case _: java.nio.file.NoSuchFileException => None
          }
        }
      }
    }.nextOption()
  }

  private def claimFile(queue: String, msg: String, version: Long): File =
    new File(qDir(queue), s"$msg.claim.$version")

  private def listing(queue: String): Seq[String] =
    Option(qDir(queue).list()).map(_.toSeq).getOrElse(Nil)

  /** Every claim version in a queue dir listing, ascending, per message. */
  private def claims(names: Seq[String]): Map[String, Seq[Long]] =
    names.flatMap { name =>
      val i = name.lastIndexOf(".claim.")
      if (i < 0) None
      else name.substring(i + 7).toLongOption.map(name.substring(0, i) -> _)
    }.groupMap(_._1)(_._2).view.mapValues(_.sorted).toMap

  /** The visibility expiry a claim holds, or None when there is no claim
    * (never claimed, acked, or pruned by a peer since the listing).
    */
  private def claimExpiry(claim: File): Option[Long] =
    try Some(new String(Files.readAllBytes(claim.toPath), UTF_8).trim.toLong)
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Ack: delete the message and every version of its claim — completes
    * the delivery.
    */
  def deleteMessage(queue: String, receiptHandle: String): Boolean = {
    val m = new File(qDir(queue), receiptHandle)
    val ok = m.delete()
    claims(listing(queue)).getOrElse(receiptHandle, Nil)
      .foreach(v => claimFile(queue, receiptHandle, v).delete())
    ok
  }

  /** Approximate visible depth (monitoring; SQS's ApproximateNumberOfMessages). */
  def depth(queue: String): Int = {
    val now = System.currentTimeMillis()
    val names = listing(queue)
    val versions = claims(names)
    names.count { n =>
      n.endsWith(".msg") && versions.get(n).forall { vs =>
        claimExpiry(claimFile(queue, n, vs.last)).forall(_ <= now)
      }
    }
  }
}
