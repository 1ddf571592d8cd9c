package graft.tools

import graft.core.Registry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only per-query cost breakdown for the bench set (guide §1: decide
  * whether time goes to scheduling, compute, GC or shuffle BEFORE touching
  * a plan). Runs each query exactly like [[graft.Bench]] (same session
  * conf, same warm-up, noop sink, min-of-N) and attributes Spark-internal
  * metrics to the measured pass via a listener:
  *
  *   jobs / stages / tasks   — scheduling-floor proxies (a 0.5 s query
  *                             spending 6 jobs is floor-bound, not
  *                             compute-bound)
  *   task_time_ms            — sum of executor task run time; divide by
  *                             cores for the perfectly-parallel lower
  *                             bound on wall
  *   gc_ms                   — sum of per-task JVM GC time
  *   shuf_r/w_mb             — shuffle bytes (what an Exchange costs)
  *
  * wall − task_time/cores ≈ driver overhead (planning + scheduling +
  * stage barriers) — the part no plan change below the sink can fix.
  *
  * Usage: scripts/run_main.sh graft.tools.LabProfile [sfDir] [name...]
  * Env: SPARK_GRAFT_CPUS (default 32), GRAFT_LAB_PASSES (default 4).
  */
object LabProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("GRAFT_LAB_PASSES", "4").toInt
    val spark = graft.core.Session.local(cpus.toInt, cpus.toInt)

    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val gcMs = new AtomicLong; val shufR = new AtomicLong; val shufW = new AtomicLong
    // GRAFT_LAB_JOBS=1: per-job trace (start offset + description) so a
    // jobs=N reading can be attributed to the exact waves a query pays.
    val traceJobs = sys.env.get("GRAFT_LAB_JOBS").contains("1")
    @volatile var traceT0 = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (traceJobs) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val off = (System.nanoTime() - traceT0) / 1e9
          println(f"[job] +$off%6.3fs id=${j.jobId}%3d stages=${j.stageIds.length} $desc")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (traceJobs) {
          val i = s.stageInfo
          val rt = Option(i.taskMetrics).map(_.executorRunTime).getOrElse(0L)
          val off = (System.nanoTime() - traceT0) / 1e9
          println(f"[stage] +$off%8.3fs id=${i.stageId}%3d tasks=${i.numTasks}%4d " +
            f"task_s=${rt / 1000.0}%8.2f ${i.name.take(60)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); gcMs.set(0); shufR.set(0); shufW.set(0) }
    def snap(): Map[String, Long] = Map(
      "jobs" -> jobs.get.toLong, "stages" -> stages.get.toLong, "tasks" -> tasks.get.toLong,
      "task_ms" -> taskMs.get, "gc_ms" -> gcMs.get,
      "shuf_r_kb" -> shufR.get / 1024, "shuf_w_kb" -> shufW.get / 1024)

    val wanted = {
      val all = Registry.allQueries
      if (names.isEmpty) all.filter(_.bench) else all.filter(q => names(q.name))
    }
    // same two warm-up passes as Bench: JIT/codegen on the small SF, then
    // one untimed pass at the measured SF (file listing, codegen cache)
    def runOnce(dir: String): Unit = wanted.foreach { q =>
      try q.build(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile-warmup] ${q.name}: ${e.getMessage}") }
    }
    runOnce("/root/testdata/sf0.001")
    runOnce(sfDir)

    wanted.foreach { q =>
      var best: Option[(Double, Map[String, Long])] = None
      (1 to passes).foreach { _ =>
        reset()
        val t0 = System.nanoTime()
        traceT0 = t0
        q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (best.forall(_._1 > sec)) best = Some((sec, snap()))
      }
      val (sec, m) = best.get
      val ideal = m("task_ms") / 1000.0 / cpus.toInt
      println(f"[profile] ${q.name}%-28s wall=${sec}%7.3f ideal=${ideal}%6.3f overhead=${sec - ideal}%6.3f " +
        f"jobs=${m("jobs")}%2d stages=${m("stages")}%3d tasks=${m("tasks")}%4d task_s=${m("task_ms") / 1000.0}%7.2f " +
        f"gc_ms=${m("gc_ms")}%4d shufR=${m("shuf_r_kb")}%6dKB shufW=${m("shuf_w_kb")}%6dKB")
    }
    spark.stop()
  }
}
