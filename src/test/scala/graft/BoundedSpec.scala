package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bounded

/** The bounded driver pool every drain, runner and compaction pass shares. */
class BoundedSpec extends AnyFunSuite {

  test("results come back in input order even when calls finish out of order") {
    val items = (0 until 12).toIndexedSeq
    val out = Bounded.map(items, 4) { i =>
      Thread.sleep(((12 - i) % 5) * 5L)
      i * 10
    }
    assert(out == items.map(_ * 10))
  }

  test("maxParallel <= 1 (or a single item) runs every call on the caller's thread") {
    val caller = Thread.currentThread()
    for (n <- Seq(-1, 0, 1)) {
      val threads = Bounded.map(1 to 6, n)(_ => Thread.currentThread())
      assert(threads.forall(_ eq caller), s"maxParallel=$n left the caller's thread")
    }
    assert(Bounded.map(Seq(1), 8)(_ => Thread.currentThread()) == Seq(caller))
  }

  test("no more than maxParallel calls are ever in flight") {
    val active = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    Bounded.map(1 to 24, 3) { _ =>
      peak.getAndAccumulate(active.incrementAndGet(), Math.max(_, _))
      Thread.sleep(10)
      active.decrementAndGet()
    }
    assert(peak.get() <= 3, s"peak ${peak.get()} calls in flight")
    assert(peak.get() >= 2, "the pool never overlapped calls")
  }

  test("after one call throws no queued call starts, running calls finish, and the first failure is rethrown") {
    val started = new ConcurrentLinkedQueue[Int]()
    val secondRunning = new CountDownLatch(1)
    val secondDone = new AtomicInteger(0)
    val first = new IllegalStateException("first")
    val thrown = intercept[IllegalStateException] {
      Bounded.map(0 until 20, 2) { i =>
        started.add(i)
        i match {
          case 0 =>
            // fail only once the other worker is inside call 1
            assert(secondRunning.await(10, TimeUnit.SECONDS))
            throw first
          case 1 =>
            secondRunning.countDown()
            Thread.sleep(200)
            secondDone.incrementAndGet()
            throw new IllegalStateException("second, later")
          case _ => i
        }
      }
    }
    assert(thrown eq first)
    assert(secondDone.get() == 1, "a running call was abandoned")
    assert(started.asScala.toSet == Set(0, 1),
      s"queued calls started after the failure: ${started.asScala.toSeq.sorted}")
  }
}
