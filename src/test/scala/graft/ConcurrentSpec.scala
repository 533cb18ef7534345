package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Concurrent

/** The concurrency helper's contract: order-preserving results,
  * fail-fast propagation, single-item short-circuit (no pool), the join
  * bound, and genuine overlap (the property the Spark callers buy). */
class ConcurrentSpec extends AnyFunSuite {

  test("results keep item order") {
    val out = Concurrent.mapInParallel(Seq(3, 1, 2)) { i =>
      Thread.sleep(i * 20L); i * 10
    }
    assert(out == Seq(30, 10, 20))
  }

  test("a chain failure propagates to the caller") {
    val ex = intercept[IllegalStateException] {
      Concurrent.mapInParallel(Seq(1, 2, 3)) { i =>
        if (i == 2) throw new IllegalStateException(s"chain $i")
        i
      }
    }
    assert(ex.getMessage == "chain 2")
  }

  test("single item runs on the calling thread (no pool)") {
    val caller = Thread.currentThread()
    val ran = Concurrent.mapInParallel(Seq(42)) { i =>
      assert(Thread.currentThread() eq caller); i + 1
    }
    assert(ran == Seq(43))
  }

  test("empty input returns empty") {
    assert(Concurrent.mapInParallel(Seq.empty[Int])(identity).isEmpty)
  }

  test("maxWaitSec bound: a wedged chain throws a diagnostic NAMING it") {
    System.setProperty("graft.concurrent.waitLogSec", "1")
    System.setProperty("graft.concurrent.maxWaitSec", "2")
    try {
      val ex = intercept[java.util.concurrent.TimeoutException] {
        Concurrent.mapInParallel(Seq("fast-chain", "wedged-chain")) { s =>
          if (s == "wedged-chain") {
            // a chain that never completes on its own (interruptible, so
            // the bound's shutdownNow cleans it up)
            try Thread.sleep(3600000L)
            catch { case _: InterruptedException => () }
          }
          s.length
        }
      }
      assert(ex.getMessage.contains("maxWaitSec=2"))
      assert(ex.getMessage.contains("wedged-chain"),
        s"diagnostic must name the stuck chain: ${ex.getMessage}")
      assert(!ex.getMessage.contains("fast-chain"),
        s"finished chains must not be listed: ${ex.getMessage}")
    } finally {
      System.clearProperty("graft.concurrent.waitLogSec")
      System.clearProperty("graft.concurrent.maxWaitSec")
    }
  }

  test("a chain that ends after the bound fired is not sent to the closed pool") {
    // The bound's shutdownNow interrupts the wedged chain, which then
    // returns. Its completion must not dispatch anything to the pool:
    // a rejected dispatch is reported on stderr, not thrown. The fast
    // chain finishes only after the join is set up, so that report is
    // certain (a join callback on an already-finished chain would fail
    // silently instead).
    System.setProperty("graft.concurrent.waitLogSec", "1")
    System.setProperty("graft.concurrent.maxWaitSec", "1")
    val exited = new CountDownLatch(1)
    val captured = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    try {
      intercept[java.util.concurrent.TimeoutException] {
        Concurrent.mapInParallel(Seq("fast-chain", "wedged-chain")) { s =>
          if (s == "wedged-chain") {
            try Thread.sleep(3600000L)
            catch { case _: InterruptedException => () }
            exited.countDown()
          } else Thread.sleep(300L)
          s.length
        }
      }
      assert(exited.await(30, TimeUnit.SECONDS), "wedged chain never exited")
      // the chain's completion runs on its own thread right after the
      // countDown; the pool's threads end once it has
      val deadline = System.nanoTime() + 30L * 1000000000L
      def poolAlive = Thread.getAllStackTraces.keySet.asScala
        .exists(t => t.getName.startsWith("graft-concurrent-") && t.isAlive)
      while (poolAlive && System.nanoTime() < deadline) Thread.sleep(10L)
      assert(!poolAlive, "pool threads still alive")
    } finally {
      System.setErr(err)
      System.clearProperty("graft.concurrent.waitLogSec")
      System.clearProperty("graft.concurrent.maxWaitSec")
    }
    assert(!captured.toString.contains("RejectedExecutionException"),
      s"a late completion was sent to the closed pool:\n$captured")
  }

  test("chains overlap: all four are in flight at once") {
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    // every chain waits until all four have started: on a serializing
    // pool the first chain's await would time out
    val started = new CountDownLatch(4)
    val met = Concurrent.mapInParallel(1 to 4) { _ =>
      val cur = inFlight.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, cur))
      started.countDown()
      val ok = started.await(60, TimeUnit.SECONDS)
      inFlight.decrementAndGet()
      ok
    }
    assert(maxSeen.get() >= 2, s"no overlap observed (max in-flight ${maxSeen.get()})")
    assert(met.forall(identity), s"not all 4 chains were in flight at once: $met")
  }
}
