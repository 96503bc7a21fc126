package graft.util

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class OverlapSpec extends AnyFunSuite with SparkTestBase {

  private def slowSide(done: AtomicBoolean): Unit = {
    Thread.sleep(300)
    done.set(true)
  }

  test("a failing side is rethrown only after the other side finishes") {
    // Either placement: the failure on the fresh thread or on the caller's.
    val onThreadFails = new IllegalStateException("thread side failed")
    val threadDone = new AtomicBoolean(false)
    val e1 = intercept[IllegalStateException] {
      Overlap.both("spec-side")(throw onThreadFails)(slowSide(threadDone))
    }
    assert((e1 eq onThreadFails) && threadDone.get)
    assert(e1.getSuppressed.isEmpty)

    val onCallerFails = new IllegalStateException("caller side failed")
    val callerDone = new AtomicBoolean(false)
    val e2 = intercept[IllegalStateException] {
      Overlap.both("spec-side")(slowSide(callerDone))(throw onCallerFails)
    }
    assert((e2 eq onCallerFails) && callerDone.get,
      "returned before the running side finished")
    assert(e2.getSuppressed.isEmpty)
  }

  test("when both sides fail the second error is suppressed, not lost") {
    val a = new RuntimeException("a")
    val b = new RuntimeException("b")
    val thrown = intercept[RuntimeException] {
      Overlap.both("spec-side")(throw a) { Thread.sleep(100); throw b }
    }
    assert(Set[Throwable](thrown) ++ thrown.getSuppressed.toSet == Set[Throwable](a, b))
    assert(thrown.getSuppressed.length == 1)
  }

  test("both sides see the caller's current Spark local properties") {
    val sc = spark.sparkContext
    val key = "graft.spec.owner"
    try {
      // Twice with different values: a pooled thread would keep the
      // value it was created with and see the first one on the second call.
      Seq("first-call", "second-call").foreach { v =>
        sc.setLocalProperty(key, v)
        val onThread = new AtomicReference[String]()
        val onCaller = new AtomicReference[String]()
        Overlap.both("spec-side")(onThread.set(sc.getLocalProperty(key)))(
          onCaller.set(sc.getLocalProperty(key)))
        assert(onThread.get == v && onCaller.get == v)
      }
    } finally sc.setLocalProperty(key, null)
  }
}
