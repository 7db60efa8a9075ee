package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext

import graft.streaming.Overlap

/** Overlap.awaitAll: a failed action must not leave a sibling write
  * running behind the caller's back, and every action's Spark jobs run
  * under the caller's local properties as they are at the call. */
class OverlapSpec extends SparkSpec {

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

  test("every action's jobs carry the caller's local properties as of each call") {
    val sc = spark.sparkContext
    val key = "graft.test.overlap.prop"
    // the property each of four overlapped actions' tasks ran under
    def seenByActions(): Set[String] = {
      val seen = new ConcurrentLinkedQueue[String]
      Overlap.awaitAll(Seq.fill(4)(() => {
        seen.addAll(sc.parallelize(Seq(1), 1)
          .map(_ => Option(TaskContext.get.getLocalProperty(key)).getOrElse("unset"))
          .collect().toSeq.asJava)
        ()
      }))
      seen.asScala.toSet
    }
    try {
      sc.setLocalProperty(key, "first")
      assert(seenByActions() === Set("first"))
      // a pool whose threads outlived the first call would still carry
      // "first": local properties are cloned when a thread is created
      sc.setLocalProperty(key, "second")
      assert(seenByActions() === Set("second"))
    } finally sc.setLocalProperty(key, null)
  }
}
