package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Overlap

/** Overlap.awaitAll's failure path, Spark-free: a failed action must not
  * leave a sibling write running behind the caller's back. */
class OverlapSpec extends AnyFunSuite {

  test("a failure is rethrown only after every sibling action has finished") {
    val siblingDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("action 0")
    val thrown = intercept[IllegalStateException] {
      Overlap.awaitAll(Seq(
        () => throw boom,
        () => { Thread.sleep(500); siblingDone.set(true) },
        () => throw new RuntimeException("action 2")))
    }
    assert(siblingDone.get(), "the sleeping sibling must finish before awaitAll throws")
    assert(thrown eq boom, "the first failure in action order is rethrown")
    assert(thrown.getSuppressed.map(_.getMessage).toSeq === Seq("action 2"))
  }

  test("the success path runs every action once") {
    val ran = new java.util.concurrent.atomic.AtomicInteger
    Overlap.awaitAll(Seq.fill(6)(() => { ran.incrementAndGet(); () }))
    assert(ran.get() === 6)
    Overlap.awaitAll(Seq(() => { ran.incrementAndGet(); () }))
    assert(ran.get() === 7)
  }
}
