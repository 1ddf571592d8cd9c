package graft.tools

import graft.core.{GraftQuery, Registry, Session}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

/** Empirical scale-sweep runner: times registry queries at an arbitrary
  * data dir (sf0.1 vs the synthesized sf1) so 10x scaling ratios are
  * measured, not argued from plan shape.
  *
  * Usage:
  *   sbt "runMain graft.tools.ScaleSweep <dir> [passes] [timeoutSec] [name...]"
  * With no names, runs the whole registry. Each query runs in its own job
  * group; a query exceeding the timeout has its jobs cancelled and is
  * recorded as "timeout" instead of wedging the sweep. Prints one JSON
  * line per query and a final summary line.
  *
  * Two honesty rules learned from forged "regressions" (r7/r10/r11):
  *
  *   - A dead SparkContext ABORTS the sweep. Executor-side OOM spirals
  *     kill the context asynchronously; the r11 sf10 leg kept looping
  *     after x67's death and recorded three garbage "errors"
  *     (x36/d2/d6) indistinguishable in the jsonl from real query
  *     failures. Post-death queries are now SKIPPED and the summary
  *     carries the abort reason + skip count.
  *
  *   - Sibling Spark/sbt JVMs are stamped into the artifact. The h2
  *     host probe brackets a sweep but cannot see a JVM that starts
  *     mid-run, and concurrent compiles/gates have inflated sweep rows
  *     4-40x three rounds running (e21 read 8.8x its clean number in
  *     the r11 sf10 leg that overlapped the driver's gate JVMs). One
  *     `ps` scan at start and end lands next to the probe in the
  *     summary; a nonzero count means the absolute numbers are suspect.
  */
object ScaleSweep {

  /** Other JVMs on this host doing Spark/sbt-class work (the measured
    * contention class): `ps` lines whose EXECUTABLE is java (first
    * token is `java` or ends in `/java` — a shell wrapper whose
    * COMMAND STRING merely mentions java must not match; the first
    * r12 scans false-positived on the launcher shells watching the
    * sweep) and whose args mention sbt/spark/graft, excluding
    * `selfPid`. Returns the pid plus a short main-class-ish tag per
    * match. Pure parser — the spec feeds it canned ps output. */
  def siblingJvms(psLines: Seq[String], selfPid: Long): Seq[String] =
    psLines.flatMap { line =>
      val t = line.trim
      val sp = t.indexOf(' ')
      if (sp < 0) None
      else {
        val pid = t.take(sp).toLongOption
        val cmd = t.drop(sp + 1).trim
        val exe = cmd.takeWhile(!_.isWhitespace)
        val lower = cmd.toLowerCase
        val isJava = exe == "java" || exe.endsWith("/java")
        val isWork = lower.contains("sbt") || lower.contains("spark") ||
          lower.contains("graft") || lower.contains("pyspark")
        pid match {
          case Some(p) if p != selfPid && isJava && isWork =>
            // tag = last token that looks like a main class / launcher,
            // else the first 60 chars — enough to identify the culprit
            val tag = cmd.split("\\s+").reverseIterator
              .find(tok => tok.contains("sbt") || tok.contains("graft.") ||
                tok.contains("spark") || tok.endsWith(".jar"))
              .getOrElse(cmd.take(60))
            Some(s"$p:${tag.take(80)}")
          case _ => None
        }
      }
    }

  /** Live `ps` scan (empty on any failure — a broken ps must not kill
    * a measurement run). */
  def siblingJvmsNow(): Seq[String] = try {
    val out = new ProcessBuilder("ps", "-eo", "pid,args").start()
    val lines = scala.io.Source.fromInputStream(out.getInputStream).getLines().toList
    siblingJvms(lines.drop(1), ProcessHandle.current().pid())
  } catch { case _: Throwable => Nil }

  /** Total stop-the-world GC milliseconds since JVM start, summed over
    * collectors. The per-query delta is the honest churn diagnostic the
    * host probes cannot provide: the r12 degraded window inflated
    * GC-heavy queries 4-20x (young evacuations at ~0.9 GB/s, 13 s
    * pauses) while the 1 s h2 probe — broadcast join, no heap churn —
    * kept reading "good". A row whose gc_ms is a large fraction of its
    * wall time is self-evidently churn-bound, not plan-bound. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Parallel memory-copy bandwidth in MiB/s — the probe for the
    * degradation mode h2 is blind to. 8 threads copy disjoint 32 MiB
    * halves of a 256 MiB long array back and forth (4 GiB moved
    * total): a healthy window reads multi-GB/s; the r12 degraded
    * window's ~0.9 GB/s GC evacuation rate corresponds to readings
    * under ~1.5 GB/s here. Pure JVM — no Spark state touched. */
  def memChurnMbPerS(): Double = {
    val n = 32 << 20 // 32M longs = 256 MiB
    val a = new Array[Long](n)
    val b = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = i; i += 1 }
    val threads = 8
    val chunk = n / threads
    def copyAll(src: Array[Long], dst: Array[Long]): Unit = {
      val ts = (0 until threads).map { t =>
        val th = new Thread(() =>
          System.arraycopy(src, t * chunk, dst, t * chunk, chunk))
        th.start(); th
      }
      ts.foreach(_.join())
    }
    copyAll(a, b) // warm: faults pages, JITs the path
    val reps = 8
    val t0 = System.nanoTime()
    var r = 0
    while (r < reps) { copyAll(a, b); copyAll(b, a); r += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    reps * 2.0 * 256.0 / sec
  }

  /** One query, `passes` cold passes, min-of-N; Left(reason) on
    * timeout/failure. Right carries (seconds, stop-the-world gc ms of
    * the winning pass) — see [[gcMillis]] for why the gc stamp exists.
    * Job-group cancel + cache clear between passes (see the inline
    * comments — every pass must measure COLD). */
  private def runQuery(spark: SparkSession, q: GraftQuery, dir: String,
      passes: Int, timeoutSec: Long,
      pool: java.util.concurrent.ExecutorService): Either[String, (Double, Long)] = {
    var best: Option[(Double, Long)] = None
    var failure: Option[String] = None
    var pass = 0
    while (pass < passes && failure.isEmpty) {
      val gc0 = gcMillis()
      val fut = pool.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = {
          spark.sparkContext.setJobGroup(q.name, q.name, interruptOnCancel = true)
          val t0 = System.nanoTime()
          q.build(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      })
      try {
        val sec = fut.get(timeoutSec, TimeUnit.SECONDS)
        val gc = gcMillis() - gc0
        if (best.forall(_._1 > sec)) best = Some((sec, gc))
      } catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(q.name)
          fut.cancel(true)
          failure = Some("timeout")
        case e: Throwable =>
          failure = Some(Option(e.getCause).getOrElse(e).getMessage.take(200).replace("\"", "'").replace("\n", " "))
      }
      // Clear BETWEEN passes, not only between queries: a query that
      // caches internally (d3/d15/d18/d23/...) would otherwise serve
      // pass 2 from pass 1's blocks, and min-of-N silently records
      // the WARM time — the r07 sweep recorded d15 at 0.68 s where
      // its cold build costs ~9 s. Every pass now measures cold.
      //
      // The clearCache also stops blocks leaking into later queries
      // (first sweep measured a plain groupBy at 22x isolated time
      // from neighbors' cache/GC pressure), and the GC is required
      // because Spark's ContextCleaner reclaims dead broadcasts/
      // shuffles via WEAK references — on a 96 GB heap a 200+-query
      // sweep may never GC on its own (Spark ships
      // spark.cleaner.periodicGC.interval=30min for exactly this);
      // without it, late queries ran 8-30x isolated time (d10 65 s
      // in-sweep vs 2.2 s alone) on accumulated block state.
      if (!spark.sparkContext.isStopped) {
        spark.catalog.clearCache()
        System.gc()
      }
      pass += 1
    }
    failure.toLeft(best.get)
  }

  /** The sweep loop, extracted for the spec: runs queries in order,
    * ABORTING (not recording) the moment the context is found dead —
    * either before a query launches or when a query's failure turns
    * out to be context death rather than its own bug. Returns the
    * recorded results plus the abort reason if any.
    *
    * `isStoppedOpt` exists for the spec only (a JVM has ONE local
    * SparkContext, so a test cannot stop the real one without killing
    * every other suite); production callers leave it None and get the
    * live `sparkContext.isStopped`. */
  def sweep(spark: SparkSession, qs: Seq[GraftQuery], dir: String,
      passes: Int, timeoutSec: Long,
      onResult: (String, Either[String, (Double, Long)]) => Unit = (_, _) => (),
      isStoppedOpt: Option[() => Boolean] = None)
      : (Seq[(String, Either[String, (Double, Long)])], Option[String]) = {
    val isStopped = isStoppedOpt.getOrElse(() => spark.sparkContext.isStopped)
    val pool = Executors.newSingleThreadExecutor()
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Either[String, (Double, Long)])]
    var aborted: Option[String] = None
    try {
      val it = qs.iterator
      while (it.hasNext && aborted.isEmpty) {
        val q = it.next()
        if (isStopped())
          aborted = Some("SparkContext stopped before " + q.name)
        else {
          val entry = runQuery(spark, q, dir, passes, timeoutSec, pool)
          if (entry.isLeft && isStopped())
            // the "failure" is context death — don't record it as the
            // query's own error, abort with the death attributed
            aborted = Some(s"SparkContext died during ${q.name}: ${entry.swap.getOrElse("")}")
          else {
            results += ((q.name, entry))
            onResult(q.name, entry)
          }
        }
      }
    } finally pool.shutdownNow()
    (results.toSeq, aborted)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 1
    val timeoutSec = if (args.length > 2) args(2).toLong else 180L
    val names = args.drop(3).toSet

    // data-sized (env-overridable): 32 partitions at sf10 filled 32
    // concurrent objhash maps and GC-killed the JVM — see Tuning
    val spark = Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      graft.core.Tuning.shufflePartitionsFor(dir).toInt)

    // Host-health pre-gate: time the fixed reference workload (h2 at the
    // synthesized sf1) before and after the sweep. Round-8 taught that
    // host state drifts in multi-hour windows (same-commit h2-at-sf1
    // read 1.20 s in a good window and 6.3-6.8 s in a degraded one), so
    // any sweep artifact without a probe is untrustworthy as an
    // absolute. 3 s is the decision bound: good windows cluster ~1.2 s,
    // degraded ones >= 6 s. Probe rows land in the same jsonl as the
    // measurements they qualify.
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
    // mem-churn decision bound: healthy windows on this host read
    // 4-10 GB/s; the r12 degraded window's GC evacuated at ~0.9 GB/s.
    def churnState(mbS: Double): String = if (mbS >= 1500.0) "good" else "degraded"
    def sibJson(sibs: Seq[String]): String =
      sibs.map(s => "\"" + s.replace("\"", "'") + "\"").mkString("[", ",", "]")

    val sibsStart = siblingJvmsNow()
    println(s"""{"siblings":"start","count":${sibsStart.size},"procs":${sibJson(sibsStart)}}""")
    val churnStart = memChurnMbPerS()
    println(f"""{"probe":"mem_churn_start","mb_per_s":$churnStart%.0f,"host":"${churnState(churnStart)}"}""")
    val probeStart = hostProbe()
    println(f"""{"probe":"h2_sf1_start","sec":${probeStart.getOrElse(-1.0)}%.3f,"host":"${hostState(probeStart)}"}""")

    val qs = Registry.allQueries.filter(q => names.isEmpty || names(q.name))
    val (results, abortReason) = sweep(spark, qs, dir, passes, timeoutSec,
      onResult = {
        case (name, Right((sec, gcMs))) =>
          println(f"""{"query":"$name","sec":$sec%.3f,"gc_ms":$gcMs}""")
        case (name, Left(err)) => println(s"""{"query":"$name","error":"$err"}""")
      })
    abortReason.foreach { r =>
      println(s"""{"abort":"${r.replace("\"", "'").take(200)}","skipped":${qs.size - results.size}}""")
    }

    val alive = !spark.sparkContext.isStopped
    val probeEnd = if (alive) hostProbe() else None
    println(f"""{"probe":"h2_sf1_end","sec":${probeEnd.getOrElse(-1.0)}%.3f,"host":"${hostState(probeEnd)}"}""")
    val churnEnd = memChurnMbPerS()
    println(f"""{"probe":"mem_churn_end","mb_per_s":$churnEnd%.0f,"host":"${churnState(churnEnd)}"}""")
    val sibsEnd = siblingJvmsNow()
    println(s"""{"siblings":"end","count":${sibsEnd.size},"procs":${sibJson(sibsEnd)}}""")

    val ok = results.collect { case (_, Right((s, _))) => s }
    val gcTotal = results.collect { case (_, Right((_, g))) => g }.sum
    val bad = results.collect { case (n, Left(e)) => s""""$n":"$e"""" }
    val abortJson = abortReason.fold("null")(r => "\"" + r.replace("\"", "'").take(200) + "\"")
    println(f"""{"metric":"sweep_total","value":${ok.sum},"unit":"sec","queries_ok":${ok.size},"queries_failed":${bad.size},"failed":{${bad.mkString(",")}},"aborted":$abortJson,"skipped":${qs.size - results.size},"gc_ms_total":$gcTotal,"dir":"$dir","probe_start_sec":${probeStart.getOrElse(-1.0)}%.3f,"probe_end_sec":${probeEnd.getOrElse(-1.0)}%.3f,"host_start":"${hostState(probeStart)}","host_end":"${hostState(probeEnd)}","churn_start_mb_s":$churnStart%.0f,"churn_end_mb_s":$churnEnd%.0f,"churn_start":"${churnState(churnStart)}","churn_end":"${churnState(churnEnd)}","siblings_start":${sibsStart.size},"siblings_end":${sibsEnd.size}}""")
    if (alive) spark.stop()
  }
}
