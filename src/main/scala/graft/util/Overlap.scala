package graft.util

import java.util.concurrent.atomic.AtomicReference

/** Two independent blocking actions run side by side on the driver — the
  * ETL's rating load beside its shop → product load, an ingest batch's
  * survivors write beside its index write. */
object Overlap {

  /** Run `onThread` on a fresh thread named `threadName` and `onCaller`
    * on the caller's thread, and return only after both have finished —
    * a running write is never abandoned mid-flight. The first failure is
    * rethrown with the other attached as suppressed. A fresh thread, not
    * a pooled one, inherits Spark's thread-local properties (job group,
    * scheduler pool, stream query id) as the caller holds them now,
    * rather than as they were when some pool thread was created. */
  def both(threadName: String)(onThread: => Unit)(onCaller: => Unit): Unit = {
    val failure = new AtomicReference[Throwable]()
    def record(e: Throwable): Unit =
      if (!failure.compareAndSet(null, e) && (failure.get ne e))
        failure.get.addSuppressed(e)
    val side = new Thread(() =>
      try onThread catch { case e: Throwable => record(e) }, threadName)
    side.start()
    try onCaller catch { case e: Throwable => record(e) }
    finally side.join()
    Option(failure.get).foreach(e => throw e)
  }
}
