package perfbench

import graft.core.{GraftQuery, Registry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

/** The `bench = true` Registry queries over seeded tables imitating sf0.1
  * (`perfbench/sfgen.py`). One op = one query, built and fully materialized
  * through the `noop` sink as `graft.Bench` does. A pass runs all queries,
  * in an order the seed permutes per pass. The output check rides each
  * op's own job: an observation of the row count and an order-free hash
  * sum, which must equal the set-up pass on every pass. Measured against
  * the same query without it, the observation cost 0.45% of a pass. */
final class HeadlineQueries(seed: Long, work: String) extends Workload {
  private val dir = s"$work/sf"
  private val queries: Seq[GraftQuery] =
    Layers.queryNames.map(n => Registry.allQueries.find(_.name == n)
      .getOrElse(throw new IllegalStateException(s"bench query $n is not registered")))
  require(Registry.allQueries.filter(_.bench).map(_.name).toSet == Layers.queryNames.toSet,
    "the bench query set changed; update Layers.queryNames")
  private var expected = Map.empty[String, (Long, java.math.BigDecimal)]
  private var shuffleBytes = 0L
  private val rng = new scala.util.Random(seed)

  /** One timed op: epoch-ms at its start, at the end of `q.build`, and at
    * its end, its nanosecond wall time, and its (row count, hash sum). */
  final case class Op(wallS: Double, startMs: Long, builtMs: Long, endMs: Long,
      sum: (Long, java.math.BigDecimal))

  /** Writes the tables, then runs the set-up pass, which warms the JVM,
    * records each query's checksum and counts the bytes the queries'
    * shuffles write. Its queries run concurrently, one per Spark thread,
    * to keep set-up short. */
  def setup(spark: SparkSession): Unit = {
    val gen = new ProcessBuilder("python3", "perfbench/sfgen.py", "--seed", seed.toString,
      "--out", dir).redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    require(gen.waitFor() == 0, "perfbench/sfgen.py failed")
    val bytes = new AtomicLong()
    val shuffles = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(shuffles)
    val pool = Executors.newFixedThreadPool(Main.threads)
    try expected = queries.map(q => q.name -> pool.submit(() => run(spark, q).sum))
      .map { case (n, f) => n -> f.get }.toMap
    finally {
      pool.shutdown()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(shuffles)
    }
    shuffleBytes = bytes.get
  }

  private def run(spark: SparkSession, q: GraftQuery): Op = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = q.build(spark, dir)
    val builtMs = System.currentTimeMillis()
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")).as("h"))
      .write.format("noop").mode("overwrite").save()
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val m = obs.get
    Op((t1 - t0) / 1e9, startMs, builtMs, endMs,
      (m("n").asInstanceOf[Long], m("h").asInstanceOf[java.math.BigDecimal]))
  }

  private def opName(q: GraftQuery, pass: Int) = s"${q.name}@$pass"

  private val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Op]]

  def measure(spark: SparkSession, seconds: Int, tracer: Option[Tracer]): Measured = {
    val t0 = System.nanoTime()
    while (passes.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p = passes.size
      passes += rng.shuffle(queries).map { q =>
        q.name -> tracer.fold(run(spark, q))(_.op(opName(q, p))(run(spark, q)))
      }.toMap
    }
    val ops = passes.flatMap(_.toSeq)
    val bad = ops.filter { case (n, o) => o.sum != expected(n) }
    bad.foreach { case (n, o) => System.err.println(
      s"headline_queries check failed: $n set-up ${expected(n)} pass ${o.sum}") }
    Measured(passes.map(p => queries.map(q => p(q.name).wallS)).toSeq,
      passes.map(_.values.map(_.wallS).sum).sum, ops.map(_._2.sum._1).sum,
      ops.size.toLong, bad.size.toLong, shuffleBytes.toDouble / inputRows)
  }

  /** Rows of the generated input tables (sfgen.py). */
  private val inputRows = 5L + 25 + 15000 + 1000 + 20000 + 150000 + 600000 + 100000 + 5000 + 2000

  def describe: Seq[(String, Any)] = Seq("shuffle_bytes" -> shuffleBytes,
    "checksums" -> Json.obj(expected.toSeq.sortBy(_._1).map { case (k, (n, h)) => k -> s"$n:$h" }))

  /** Per query and pass: its wall time is covered by spans the tracer and
    * the harness measure — `q.build` on the driver, the SQL executions the
    * op's tag carried with their Catalyst phases, and its jobs. The driver
    * gap is the covered time outside jobs; what no span covers is
    * `tracing.unaccounted_share`. */
  def layerMetrics(t: Tracer): Map[String, Double] = {
    t.drain()
    val n = passes.size.toDouble
    final case class Acct(wallS: Double, jobs: Seq[JobRec], inJobS: Double, coveredS: Double,
        clockS: Double, catalystS: Double)
    val accts = passes.toSeq.zipWithIndex.flatMap { case (p, i) => queries.map { q =>
      val op = p(q.name)
      val name = opName(q, i)
      val jobs = t.jobsOfOp(name)
      val jobSpans = jobs.map(j => (j.startMs, j.endMs))
      val spans = (op.startMs, op.builtMs) +: (t.sqlSpansOfOp(name) ++ jobSpans)
      q.name -> Acct(op.wallS, jobs, Tracer.unionS(jobSpans, op.startMs, op.endMs),
        Tracer.unionS(spans, op.startMs, op.endMs), (op.endMs - op.startMs) / 1000.0,
        t.catalystS(name))
    }}
    val all = accts.map(_._2)
    accts.groupBy(_._1).toSeq.flatMap { case (q, as) =>
      val a = as.map(_._2)
      Seq(s"queries.$q.wall_s" -> a.map(_.wallS).sum / n,
        s"queries.$q.jobs" -> a.map(_.jobs.size).sum / n,
        s"queries.$q.driver_gap_s" -> a.map(x => x.coveredS - x.inJobS).sum / n)
    }.toMap ++ Map(
      "queries.catalyst_s" -> all.map(_.catalystS).sum / n,
      "queries.in_job_s" -> all.map(_.inJobS).sum / n,
      "queries.task_s" -> all.flatMap(_.jobs).map(_.runMs).sum / 1000.0 / n,
      "queries.shuffle_bytes" -> all.flatMap(_.jobs).map(_.shuffleBytes).sum / n,
      "queries.spill_bytes" -> all.flatMap(_.jobs).map(_.spillBytes).sum / n,
      "tracing.unaccounted_share" ->
        all.map(x => x.clockS - x.coveredS).sum / all.map(_.clockS).sum)
  }
}
