package graft

import graft.core.{Registry, Session}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.GraftBridge

import java.util.concurrent.atomic.AtomicLong

/** Benchmark main: times the headline (`bench = true`) queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Each query is fully materialized through the `noop` sink — a plain
  * `count()` would let Catalyst prune the projections we mean to measure.
  * One warm-up pass on the smallest SF primes the JVM/codegen so the
  * timings reflect steady-state execution, matching how a long-lived
  * cluster would run.
  */
object Bench {
  /** Summed executor run time of every task that has ended. `readMs`
    * drains the listener bus first: an action returns before its
    * task-end events reach the listeners, so an undrained read right
    * after one query misses its trailing tasks and bills them to the
    * next query. */
  final class TaskClock(sc: SparkContext) extends SparkListener {
    private val ms = new AtomicLong
    sc.addSparkListener(this)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) ms.addAndGet(t.taskMetrics.executorRunTime)
    def readMs(): Long = { GraftBridge.drainListenerBus(sc); ms.get() }
  }

  /** Runs `action` once: (wall seconds, executor task seconds). The bus
    * drains sit outside the wall window. */
  def timeOnce(clock: TaskClock)(action: => Unit): (Double, Double) = {
    val tm0 = clock.readMs()
    val t0 = System.nanoTime()
    action
    val wallS = (System.nanoTime() - t0) / 1e9
    (wallS, (clock.readMs() - tm0) / 1000.0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Diagnostics knob: decouple shuffle width from executor threads.
    // Measured on this host class: with a quiet host all widths within
    // noise (6.3-6.5 s total at sf0.1); under hypervisor contention
    // narrow widths are far more stable (8 threads ~6.9 s while 32
    // swings to ~9.5 s). Default stays cores=width per the deployment
    // guidance; the knob exists so a drifting BENCH number can be
    // bisected into host-vs-plan in one run.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = Session.local(cpus.toInt, shuffle.toInt)
    // Per-query executor task time beside each wall figure, so a reader
    // can tell WAVE-bound (task_time ≪ wall × cores — adding cores cannot
    // help; the flat 8-vs-32-core ratios at sf0.1 are this, not an
    // ignored knob) from COMPUTE-bound.
    val clock = new TaskClock(spark.sparkContext)

    // Host-health probe (same fixed workload as tools/ScaleSweep): time
    // h2 at the synthesized sf1 before and after the measured passes and
    // stamp both into the JSON line. This host drifts through multi-hour
    // degraded hypervisor windows (same-commit h2-at-sf1 reads ~1.2 s in
    // a good window, >= 6 s in a degraded one; 3 s is the decision
    // bound), so a BENCH artifact without its window is untrustworthy as
    // an absolute — the r9 driver artifact's +24% took a review hour to
    // disambiguate as host noise. Probe dir missing → "unknown" (the
    // driver's container has no data/sf1), keys still present.
    def hostProbe(): Option[Double] = {
      val probeDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR", "data/sf1")
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(probeDir))) None
      else Registry.allQueries.find(_.name == "h2_star_join_broadcast").map { q =>
        val secs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          q.build(spark, probeDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        spark.catalog.clearCache(); System.gc()
        secs.min
      }
    }
    def hostState(sec: Option[Double]): String =
      sec.fold("unknown")(s => if (s < 3.0) "good" else "degraded")
    val probeStart = hostProbe()

    val benchQueries = Registry.allQueries.filter(_.bench)

    def runOnce(dir: String): Unit = benchQueries.foreach { q =>
      try q.build(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench-warmup] ${q.name}: ${e.getMessage}") }
    }
    // JIT/codegen warm-up on the small SF, plus one untimed pass at the
    // measured SF so one-time costs for these exact plans (file listing,
    // codegen cache, shuffle buffers) don't land in measured pass 1 —
    // min-of-3 then reflects steady state only.
    runOnce("/root/testdata/sf0.001")
    runOnce(sfDir)

    // four measured passes, keep the per-query minimum (steady state —
    // the first pass still pays one-time file listing/codegen for this
    // SF, and the host shows multi-x noise swings between passes). A
    // throwing query records None, not its (near-zero) elapsed time — a
    // broken query must fail the bench, never shrink the reported total.
    def timed(): Seq[(String, Option[(Double, Double)])] = benchQueries.map { q =>
      try q.name -> Some(timeOnce(clock)(
        q.build(spark, sfDir).write.format("noop").mode("overwrite").save()))
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name}: ${e.getMessage}")
        q.name -> None
      }
    }
    val passes = Seq(timed(), timed(), timed(), timed())
    // per-query minimum wall, with THAT pass's summed task time beside it
    val results = benchQueries.map(_.name).zipWithIndex.map { case (n, i) =>
      val ok = passes.flatMap(_(i)._2)
      if (ok.isEmpty) { System.err.println(s"[bench] $n failed all passes"); sys.exit(1) }
      n -> ok.minBy(_._1)
    }

    val qs = results.map { case (k, (w, _)) => "\"" + k + "\":" + w }.mkString("{", ",", "}")
    val taskTimes = results.map { case (k, (_, ts)) =>
      "\"" + k + "\":" + f"$ts%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2._1).sum

    // Streaming envelope figure (VERDICT r5 #5): the batch set says
    // nothing about the reference's actual operating mode — a streaming
    // writer bounded by 500-msg drains and <=10 s latency (BASELINE.md
    // rows 1-2). One rate-controlled run through the REAL path
    // (WsSource WAL -> transform -> versioned upsert) reports rows/s and
    // worst-row latency percentiles next to the batch numbers. `value`
    // stays the batch total (the driver's tracked metric); stream
    // figures ride as extra keys. SPARK_GRAFT_STREAM=0 skips.
    def streamJson(mode: String): String = try {
      // Settle before each mode: the batch passes (and the previous
      // stream mode's 60k-row churn) leave the heap/page cache hot in a
      // way that lands entirely inside the first measured micro-batches
      // (BENCH_r07: stateful fell behind into a 2-batch/19.5 s shape
      // right after the upsert run, vs 13 batches/1.7 s quiet-host).
      spark.catalog.clearCache(); System.gc(); Thread.sleep(3000)
      val r = StreamBench.run(spark,
        rate = sys.env.getOrElse("SPARK_GRAFT_STREAM_RATE", "5000").toInt,
        durationS = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "12").toInt,
        mode = mode)
      // per_batch = the (latency, rows) series in commit order. A
      // window-inflated p95 is then self-evident in the artifact (one
      // oversized catch-up batch vs a monotone within-run slope) — the
      // r11 driver artifact read upsert p95 at 99% of the envelope and
      // the series that would have proven it benign wasn't in the JSON.
      val lats = r.perBatch.map(b => f"${b._1}%.3f").mkString("[", ",", "]")
      val rows = r.perBatch.map(_._2).mkString("[", ",", "]")
      f"""{"rows":${r.rows},"rows_per_s":${r.rowsPerS}%.0f,"p50_latency_s":${r.p50S}%.2f,"p95_latency_s":${r.p95S}%.2f,"max_latency_s":${r.maxS}%.2f,"batches":${r.batches},"per_batch_lat_s":$lats,"per_batch_rows":$rows}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench-stream] $mode: ${e.getMessage}"); "null"
    }
    val stream =
      if (sys.env.getOrElse("SPARK_GRAFT_STREAM", "1") == "0") ""
      // upsert = reference-parity sink (merge-bound); stateful = the
      // scale path (in-state dedup/version + blind append); gate = the
      // LM admission gate (s12's online face): decisions/s + latency
      else s""","stream_upsert":${streamJson("upsert")},"stream_stateful":${streamJson("stateful")},"stream_gate":${streamJson("gate")}"""

    val probeEnd = hostProbe()
    val probes = f""","probe_start_sec":${probeStart.getOrElse(-1.0)}%.3f,"probe_end_sec":${probeEnd.getOrElse(-1.0)}%.3f,"host_start":"${hostState(probeStart)}","host_end":"${hostState(probeEnd)}""""
    // additions-only fields: cpus echoes the honored $SPARK_GRAFT_CPUS;
    // query_task_time_s is the min-pass executor task-time per query
    // (wall is the existing `queries` map) — together they let the
    // driver's scaling heuristic separate "knob ignored" from
    // "wave-bound at this SF" without re-deriving anything.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cpus":$cpus,"query_task_time_s":$taskTimes$stream$probes,"sf":"$sfDir"}""")
    spark.stop()
  }
}
