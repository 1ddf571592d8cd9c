package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One Spark job as the tracer saw it. `op` is the harness op that ran it
  * (from the job tag the op set), `batch` the micro-batch that ran it
  * (`queryId/batchId` from the job properties the stream engine sets). */
final class JobRec(val id: Int, val op: Option[String], val batch: Option[String],
    val desc: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
}

/** Per-layer tracer of the traced run. Work is attributed by identity,
  * never by a timing window: a job belongs to the op whose job tag it
  * carries, or to the micro-batch named by its `streaming.sql.batchId` /
  * `sql.streaming.queryId` properties; a task belongs to its stage's job;
  * a SQL execution's span and its Catalyst phases (analysis,
  * optimization, planning of the QueryExecution its end event carries)
  * belong to the op whose tag the execution carried, and its scans'
  * file bytes to the micro-batch its jobs ran for. [[drain]] empties the
  * listener bus before an op's figures are read, so trailing task events
  * are counted. Trigger phase times come from the stream's own progress
  * reports. */
final class Tracer private (sc: SparkContext) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execOp = new ConcurrentHashMap[Long, String]()
  private val execStartMs = new ConcurrentHashMap[Long, Long]()
  private val execEndMs = new ConcurrentHashMap[Long, Long]()
  private val execCatalyst = new ConcurrentHashMap[Long, Seq[(Long, Long)]]()
  private val execBatch = new ConcurrentHashMap[Long, String]()
  private val execScans = new ConcurrentHashMap[Long, Seq[(Int, Long)]]()
  private val callbackNs = new AtomicLong()
  private val drainNs = new AtomicLong()

  /** Seconds the tracer itself cost: listener callbacks plus bus drains. */
  def overheadS: Double = (callbackNs.get + drainNs.get) / 1e9

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private def tag(op: String) = "pb-op-" + op.replaceAll("[^A-Za-z0-9_.-]", "_")

  /** Run `body` as op `op`: its jobs carry the op's tag. */
  def op[T](name: String)(body: => T): T = {
    sc.addJobTag(tag(name))
    try body finally sc.removeJobTag(tag(name))
  }

  def drain(): Unit = {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.Bus.drain(sc)
    drainNs.addAndGet(System.nanoTime() - t0)
  }

  def jobsOfOp(name: String): Seq[JobRec] = {
    val t = Some(tag(name))
    jobs.values.asScala.filter(j => j.op == t && j.batch.isEmpty).toSeq.sortBy(_.id)
  }
  def jobsOfBatch(queryId: String, batchId: Long): Seq[JobRec] = {
    val b = Some(s"$queryId/$batchId")
    jobs.values.asScala.filter(_.batch == b).toSeq.sortBy(_.id)
  }
  /** On-disk bytes of the files the micro-batch's distinct scans opened. */
  def scanBytesOfBatch(queryId: String, batchId: Long): Long = {
    val b = s"$queryId/$batchId"
    execBatch.asScala.toSeq.collect { case (id, x) if x == b => execScans.getOrDefault(id, Nil) }
      .flatten.toMap.values.sum
  }
  private def execsOfOp(name: String): Seq[Long] = {
    val t = tag(name)
    execOp.asScala.collect { case (id, o) if o == t => id }.toSeq
  }
  /** Seconds of Catalyst phases in the op's SQL executions. */
  def catalystS(name: String): Double =
    execsOfOp(name).flatMap(id => execCatalyst.getOrDefault(id, Nil))
      .map { case (s, e) => e - s }.sum / 1000.0
  /** The op's SQL execution spans and their Catalyst phases, as epoch-ms
    * intervals. */
  def sqlSpansOfOp(name: String): Seq[(Long, Long)] = execsOfOp(name).flatMap { id =>
    execCatalyst.getOrDefault(id, Nil) ++
      Option(execEndMs.get(id)).map(e => (execStartMs.get(id), e)).toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val op = prop("spark.job.tags").toSeq
      .flatMap(_.split(",")).find(_.startsWith("pb-op-"))
    val batch = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
      yield s"$q/$b"
    val rec = new JobRec(e.jobId, op, batch, prop("spark.job.description").getOrElse(""), e.time)
    jobs.put(e.jobId, rec)
    for (b <- batch; x <- prop("spark.sql.execution.id")) execBatch.put(x.toLong, b)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized { j.stages += 1 })
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      s.jobTags.find(_.startsWith("pb-op-")).foreach { t =>
        execOp.put(s.executionId, t)
        execStartMs.put(s.executionId, s.time)
      }
    }
    case e: SparkListenerSQLExecutionEnd => timed {
      if (execBatch.containsKey(e.executionId))
        execScans.put(e.executionId, SqlEvents.fileScans(e))
      if (execOp.containsKey(e.executionId)) {
        execEndMs.put(e.executionId, e.time)
        execCatalyst.put(e.executionId, SqlEvents.catalystPhases(e))
      }
    }
    case _ =>
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Seconds inside at least one of `js` (union of job intervals). */
  def inJobS(js: Seq[JobRec]): Double = unionS(js.map(j => (j.startMs, j.endMs)))

  /** Seconds covered by the union of epoch-ms intervals, each clipped to
    * `[lo, hi]`. */
  def unionS(spans: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue)
      : Double = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._1 < x._2)
      .sorted.foreach { case (s, e) =>
        if (s > curE) { if (curE > Long.MinValue) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > Long.MinValue) total += curE - curS
    total / 1000.0
  }
}

/** Attribution self-test: a deliberately slow op (4 tasks sleeping
  * 600 ms) followed at once by a fast op. A stalling listener holds each
  * of the slow op's task events on the bus for 200 ms, so they are still
  * queued when the fast op starts — a tracer that attributed by timing
  * would hand them to the fast op. Returns the task seconds that did not
  * land on the op that ran them. */
object SelfTest {
  private val sleepMs = 600

  def leak(spark: SparkSession, t: Tracer): Double = {
    val n = 4
    val stall = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(stall)
    try {
      t.op("selftest-slow") {
        spark.sparkContext.parallelize(0 until n, n).map { i => Thread.sleep(sleepMs); i }.count()
      }
      t.op("selftest-fast") { spark.sparkContext.parallelize(0 until n, n).count() }
      t.drain()
    } finally spark.sparkContext.removeSparkListener(stall)
    val slow = t.jobsOfOp("selftest-slow").map(_.runMs).sum / 1000.0
    val fast = t.jobsOfOp("selftest-fast").map(_.runMs).sum / 1000.0
    val expected = n * sleepMs / 1000.0
    math.max(0.0, expected - slow) + (if (fast > 0.5 * sleepMs / 1000.0) fast else 0.0)
  }
}
