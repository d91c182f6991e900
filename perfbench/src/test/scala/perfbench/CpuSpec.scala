package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CpuSpec extends AnyFunSuite {
  private def ms(ns: Long): Double = ns / 1e6

  private def spin(millis: Long): Unit = {
    val end = System.nanoTime() + millis * 1000000L
    var x = 0L
    while (System.nanoTime() < end) x += 1
  }

  test("a thread's busy time counts, its sleep does not") {
    val from = Harness.cpuSnapshot()
    spin(200)
    Thread.sleep(300)
    val engine = Harness.cpuSince(from).counted
    assert(ms(engine) >= 150.0, s"counted ${ms(engine)} ms")
    assert(ms(engine) < 450.0, s"counted ${ms(engine)} ms")
  }

  test("a thread that started after the snapshot counts from zero") {
    val from = Harness.cpuSnapshot()
    val spun = new java.util.concurrent.CountDownLatch(1)
    val measured = new java.util.concurrent.CountDownLatch(1)
    val busy = new Thread(() => { spin(200); spun.countDown(); measured.await() })
    busy.start()
    spun.await()
    val engine = Harness.cpuSince(from).counted
    measured.countDown()
    busy.join()
    assert(ms(engine) >= 150.0, s"counted ${ms(engine)} ms")
  }

  test("a thread that has ended drops out") {
    val busy = new Thread(() => spin(200))
    val from = Harness.cpuSnapshot()
    busy.start()
    busy.join()
    assert(ms(Harness.cpuSince(from).counted) < 150.0)
  }

  test("a snapshot lists the threads of this process") {
    val snap = Harness.cpuSnapshot()
    assert(snap.nonEmpty)
    assert(snap.values.forall(_ >= 0L))
  }
}
