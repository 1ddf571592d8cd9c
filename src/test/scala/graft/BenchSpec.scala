package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s per-query task time must land on the query that spent it.
  * An action returns before its task-end events reach the listeners, so
  * a read taken right after it can miss the query's trailing tasks and
  * bill them to the next query. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("task time stays with the slow query, not the trivial one after it") {
    val sc = spark.sparkContext
    // A listener ahead of the clock on the bus that is slow to take task
    // ends stands in for a busy bus: without a drain, the slow query's
    // task ends are still queued when its action returns.
    val busy = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(200)
    }
    sc.addSparkListener(busy)
    val clock = new Bench.TaskClock(sc)
    try {
      spark.range(1).count() // untimed: first-run codegen is not the point
      val (_, slowTaskS) = Bench.timeOnce(clock) {
        spark.range(0, 4, 1, 4).foreachPartition(
          (_: Iterator[java.lang.Long]) => Thread.sleep(300))
      }
      val (_, trivialTaskS) = Bench.timeOnce(clock) { spark.range(1).count() }
      assert(slowTaskS >= 4 * 0.3 * 0.9, s"slow query billed $slowTaskS s")
      // less than one slow task's 0.3 s: none of them leaked forward
      assert(trivialTaskS < 0.3, s"trivial query billed $trivialTaskS s")
    } finally {
      sc.removeSparkListener(clock)
      sc.removeSparkListener(busy)
    }
  }
}
