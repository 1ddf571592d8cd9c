package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** One workload's measurement: per-op latencies in op order within each
  * round (a round = one drain, one pass over the query set, one cycle of
  * the request mix), rows moved, and the output-check tally. */
final case class Measured(rounds: Seq[Seq[Double]], wallS: Double, rows: Long,
    attempted: Long, failed: Long, bytesPerRow: Double)

trait Workload {
  /** Build inputs (deterministic in `seed`) and warm the path. */
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Int, tracer: Option[Tracer]): Measured
  /** Generator shares and sizes, recorded with the run (not metrics). */
  def describe: Seq[(String, Any)]
  /** Per-layer metrics of a traced run; keys not touched read 0. */
  def layerMetrics(tracer: Tracer): Map[String, Double]
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, work: String = ".bench_build/run")

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case Nil => acc
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  val threads: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(graft.core.Tuning.ObjHashFallbackConfKey, graft.core.Tuning.objHashFallback)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  @volatile private var probeSink = 0L

  /** Fixed single-thread CPU probe (seconds): the same integer work every
    * time, so a slow host window shows as a larger figure. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 0xff; i += 1 }
    probeSink = acc
    (System.nanoTime() - t0) / 1e9
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val probeStart = cpuProbe()
    val spark = session(args.work)
    try {
      val wl: Workload = args.workload match {
        case "tick_drain" => new TickDrain(args.seed, args.work)
        case "headline_queries" => new HeadlineQueries(args.seed, args.work)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val t0 = System.nanoTime()
      wl.setup(spark)
      val setupS = (System.nanoTime() - t0) / 1e9
      val tracer = if (args.trace) Some(Tracer.install(spark)) else None
      val selfTestLeak = tracer.map(t => SelfTest.leak(spark, t))
      val overhead0 = tracer.map(_.overheadS).getOrElse(0.0)
      System.gc()
      val gc0 = gcSeconds()
      val m = wl.measure(spark, args.seconds, tracer)
      val gcS = gcSeconds() - gc0
      val probeEnd = cpuProbe()

      val perOp = Stats.perOpMedians(m.rounds)
      val ops = m.rounds.map(_.size).sum
      val rt = ManagementFactory.getRuntimeMXBean
      val meta = Seq[(String, Any)](
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_threads" -> threads, "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).mkString(" "),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "cpu_probe_start_s" -> probeStart, "cpu_probe_end_s" -> probeEnd,
        "setup_s" -> setupS, "rounds" -> m.rounds.size, "op_samples" -> ops,
        "ops_per_round" -> m.rounds.map(_.size), "op_median_s" -> perOp) ++ wl.describe
      println(Json.obj(Seq("meta" -> Json.obj(meta))).s)

      val metrics: Seq[(String, Double, String)] = tracer match {
        case None => Seq(
          ("setup_s", setupS, "s"),
          ("latency_p50_s", Stats.quantile(perOp, 0.5), "s"),
          ("latency_p90_s", Stats.quantile(perOp, 0.9), "s"),
          ("ops_per_s", ops / m.wallS, "1/s"),
          ("rows_per_s", m.rows / m.wallS, "1/s"),
          ("store_bytes_per_row", m.bytesPerRow, "B"))
        case Some(t) =>
          val layers = Layers.defaults ++ wl.layerMetrics(t) ++ Map(
            "jvm.gc_s" -> gcS,
            "jvm.heap_after_gc_mb" -> Layers.heapAfterGcMb(),
            "tracing.overhead_share" -> (t.overheadS - overhead0) / m.wallS,
            "tracing.selftest_leaked_task_s" -> selfTestLeak.getOrElse(0.0))
          Layers.defaults.keys.toSeq.sorted.map(k => (k, layers(k), Layers.unit(k)))
      }
      val leak = selfTestLeak.exists(_ > 0)
      val result = Json.obj(Seq(
        "correct" -> (m.failed == 0 && !leak),
        "attempted" -> m.attempted,
        "failed" -> m.failed,
        "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.obj(Seq("value" -> v, "unit" -> u)) })))
      println(result.s)
    } finally spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (the numpy / R-7 default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Each op position's median over the run's rounds — every round runs
    * the same ops in the same order, so this removes round-to-round noise
    * before the percentiles are taken across ops. Only complete rounds
    * count. */
  def perOpMedians(rounds: Seq[Seq[Double]]): Seq[Double] = {
    val n = rounds.map(_.size).max
    val full = rounds.filter(_.size == n)
    (0 until n).map(i => median(full.map(_(i))))
  }

  /** Least-squares slope of ys over their index. */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val n = ys.size
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
}

object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case raw: RawJson => raw.s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  final case class RawJson(s: String)
  def obj(kv: Seq[(String, Any)]): RawJson =
    RawJson(kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
