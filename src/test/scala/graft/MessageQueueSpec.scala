package graft

import graft.serve.MessageQueue

/** plugins/sqs analog: queue lifecycle, FIFO-by-seq delivery, the
  * at-least-once visibility contract, and claim winner-election under
  * concurrent consumers.
  */
class MessageQueueSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def fresh(): MessageQueue = new MessageQueue(
    s"/root/repo/target/graft_io/mq_spec/${System.nanoTime()}")

  test("queue lifecycle: create idempotent, exists, list, delete") {
    val mq = fresh()
    assert(mq.createQueue("jobs"))
    assert(!mq.createQueue("jobs")) // idempotent second create
    assert(mq.queueExists("jobs") && !mq.queueExists("nope"))
    mq.createQueue("alpha")
    assert(mq.listQueues() == Seq("alpha", "jobs"))
    mq.deleteQueue("alpha")
    assert(mq.listQueues() == Seq("jobs"))
    intercept[IllegalArgumentException] { mq.publish("nope", "x") }
  }

  test("ordered publish drains in seq order; ack removes; depth tracks") {
    val mq = fresh()
    mq.createQueue("q")
    // publish out of order — consumers must still see seq order
    Seq(3L, 1L, 2L).foreach(i => mq.publishOrdered("q", i, s"msg$i"))
    assert(mq.depth("q") == 3)
    val got = Iterator.continually(mq.receive("q"))
      .takeWhile(_.isDefined).map(_.get).toSeq
    assert(got.map(_.body) == Seq("msg1", "msg2", "msg3"))
    assert(mq.depth("q") == 0) // all claimed (invisible), none deleted
    got.foreach(r => assert(mq.deleteMessage("q", r.receiptHandle)))
    assert(mq.receive("q").isEmpty && mq.depth("q") == 0)
  }

  test("visibility: unacked message redelivers after expiry, acked never") {
    val mq = fresh()
    mq.createQueue("q")
    mq.publish("q", "a")
    mq.publish("q", "b")
    val r1 = mq.receive("q", visibilityMs = 150).get
    val r2 = mq.receive("q", visibilityMs = 150).get
    assert(Set(r1.body, r2.body) == Set("a", "b"))
    assert(mq.receive("q").isEmpty) // both invisible
    mq.deleteMessage("q", r1.receiptHandle) // ack one
    Thread.sleep(300) // let the other's visibility lapse
    val re = mq.receive("q", visibilityMs = 150)
    assert(re.map(_.body) == Some(r2.body), "unacked must redeliver")
    assert(mq.receive("q").isEmpty, "acked must not redeliver")
  }

  test("8 concurrent consumers: every message delivered exactly once " +
      "when acked inside the visibility window, none lost") {
    val mq = fresh()
    mq.createQueue("work")
    val n = 200
    (1 to n).foreach(i => mq.publishOrdered("work", i.toLong, s"task$i"))
    val seen = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val consumers = (0 until 8).map { c =>
      new Thread(() => {
        var idle = 0
        while (idle < 20) {
          mq.receive("work", visibilityMs = 60000) match {
            case Some(r) =>
              idle = 0
              seen.computeIfAbsent(r.body,
                _ => new java.util.concurrent.atomic.AtomicInteger(0))
                .incrementAndGet()
              mq.deleteMessage("work", r.receiptHandle)
            case None =>
              idle += 1; Thread.sleep(5)
          }
        }
      }, s"consumer-$c")
    }
    consumers.foreach(_.start()); consumers.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(seen.size == n, s"lost: ${n - seen.size} of $n")
    val dups = seen.asScala.filter(_._2.get() > 1)
    assert(dups.isEmpty, s"double deliveries: $dups")
    assert(mq.depth("work") == 0 && mq.receive("work").isEmpty)
  }

  test("a consumer acting on a stale read of an expired claim never takes " +
      "over the claim a peer has since won (no double delivery)") {
    import java.io.{File, FileInputStream, FileOutputStream}
    import java.nio.file.Files
    import java.util.concurrent.{Executors, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = s"target/graft_io/mq_spec/${System.nanoTime()}"
    val mq = new MessageQueue(root)
    mq.createQueue("q")
    mq.publish("q", "only")
    val dir = new File(root, "q")
    // a first delivery that expires unacked leaves an expired claim
    assert(mq.receive("q", visibilityMs = 1).map(_.body) == Some("only"))
    Thread.sleep(20)
    val Array(claim) = dir.listFiles().filterNot(_.getName.endsWith(".msg"))
    val expired = Files.readString(claim.toPath)
    // Replay the interleaving: consumer A reads the expired claim, peer B
    // takes the message over, then A acts on what it read. The claim is
    // swapped for a FIFO so A's read blocks until the test releases it.
    claim.delete()
    assert(new ProcessBuilder("mkfifo", claim.getPath).start().waitFor() == 0)
    val pool = Executors.newCachedThreadPool { r =>
      val t = new Thread(r); t.setDaemon(true); t
    }
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future(new MessageQueue(root).receive("q", visibilityMs = 60000))
      // opening the FIFO's write end returns once A has opened it to read
      val opened = Future(new FileOutputStream(claim))
      val writer = try Await.result(opened, 30.seconds) catch {
        case e: java.util.concurrent.TimeoutException =>
          new FileInputStream(claim).close() // unblock the pending open
          throw e
      }
      // A now holds the expired claim open; the path gets the same expired
      // content as a plain file, and B wins the message through it
      claim.delete()
      Files.writeString(claim.toPath, expired)
      val b = new MessageQueue(root).receive("q", visibilityMs = 60000)
      assert(b.map(_.body) == Some("only"))
      writer.write(expired.getBytes("UTF-8")); writer.close()
      val gotA = Await.result(a, 30.seconds)
      assert(gotA.isEmpty,
        "A deleted B's live claim and received the message inside B's window")
      assert(mq.depth("q") == 0 && mq.receive("q").isEmpty)
      assert(mq.deleteMessage("q", b.get.receiptHandle))
      assert(dir.listFiles().isEmpty, dir.listFiles().map(_.getName).toSeq)
    } finally pool.shutdownNow()
  }
}
