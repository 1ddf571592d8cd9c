package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftBridge

/** One shared local session for all suites (spark_guide.md: one session
  * per suite via lazy val; sharing across suites is fine since config is
  * identical and immutable). Built through the production builder, so the
  * suite runs the conf `Bench` and `Verify` run (see SessionSpec). */
object SparkTestSession {
  lazy val spark: SparkSession = graft.core.Session.local(4, 4)

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body`'s result and the Spark jobs started in this thread's job
    * group while it runs. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobs during")
    try {
      val r = body
      GraftBridge.drainListenerBus(sc)
      (r, n.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}
