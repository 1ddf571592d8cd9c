package perfbench

import graft.analytics.SessionAnalytics
import graft.model.{Exchanges, Streaming}
import graft.read.ReadApi
import graft.store.{StockStore, TableLog}
import graft.streaming.StreamIngest
import graft.transform.EodhdTransform
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer

/** Write path as a closed loop: a pre-built WAL of trade frames is drained
  * through WsSource → EodhdTransform → StockStore.upsert
  * (`StreamIngest.start`) with a fixed admission cap and a zero-interval
  * trigger, into a fresh store and checkpoint each round. Every trigger
  * carries the same frames on every run, so no timing can change the
  * work. One op = one trigger. */
final class TickDrain(seed: Long, work: String) extends Workload {
  val cap = 2000
  val triggersPerDrain = 4
  private val segmentSize = 10000
  private val wal = new TickWal(seed, cap * triggersPerDrain)
  private val walDir = s"$work/tick/wal"
  private val warmDir = s"$work/tick/warm-wal"

  final case class Drain(root: String, queryId: String, progress: Seq[StreamingQueryProgress],
      wallS: Double)
  private val drains = ArrayBuffer.empty[Drain]
  private var drainNo = 0

  def setup(spark: SparkSession): Unit = {
    wal.write(Paths.get(walDir), segmentSize)
    // warm-up: two triggers' frames, on their own WAL and store
    new TickWal(seed, 2 * cap).write(Paths.get(warmDir), segmentSize)
    drain(spark, warmDir)
  }

  private def drain(spark: SparkSession, from: String = walDir): Drain = {
    drainNo += 1
    val root = s"$work/tick/store-$drainNo"
    val frames = spark.readStream.format("graft.sources.ws.WsSourceProvider")
      .option("walDir", from)
      .option("segmentSize", segmentSize.toString)
      .option("maxFramesPerBatch", cap.toString)
      .load()
    val t0 = System.nanoTime()
    val q = StreamIngest.start(spark, frames, "trades", root, s"$work/tick/ckpt-$drainNo",
      trigger = Trigger.ProcessingTime(0L))
    try q.processAllAvailable() finally q.stop()
    val wallS = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    System.err.println(f"drain $drainNo: $wallS%.2f s, trigger ms " +
      progress.map(_.durationMs.get("triggerExecution")).mkString(","))
    Drain(root, q.id.toString, progress, wallS)
  }

  private var storeChecksum = ""

  /** Output check: every frame committed, and the store holds exactly the
    * generator's distinct payload rows, its version-2 rows, no A3
    * duplicate, and the same order-free volume and event-time sums. */
  private def check(spark: SparkSession, d: Drain): Boolean = {
    val e = wal.expected
    val committed = d.progress.lastOption.map(_.sources.head.endOffset.trim.toLong).getOrElse(-1L)
    val r = StockStore.table(spark, d.root, Streaming).agg(
      count(lit(1)), sum(when(col("version") === 2, 1L).otherwise(0L)), max(col("version")),
      sum(col("volume")), sum(unix_millis(col("timestamp"))),
      count_distinct(col("ticker"), col("timestamp"), col("price"), col("volume"))).head()
    storeChecksum = s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(3)}:${r.getLong(4)}"
    val ok = committed == wal.frames && d.progress.size == triggersPerDrain &&
      r.getLong(0) == e.rows && r.getLong(1) == e.version2 && r.getInt(2) <= 2 &&
      r.getLong(3) == e.volumeSum && r.getLong(4) == e.msSum && r.getLong(5) == e.rows
    if (!ok) System.err.println(s"tick_drain check failed: committed=$committed " +
      s"triggers=${d.progress.size} store=$r expected=$e")
    ok
  }

  def measure(spark: SparkSession, seconds: Int, tracer: Option[Tracer]): Measured = {
    val t0 = System.nanoTime()
    var failed = 0L
    while (drains.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val d = drain(spark)
      drains += d
      if (!check(spark, d)) failed += d.progress.size.max(1)
    }
    tracer.foreach(t => readBack(spark, t, drains.last.root))
    val rounds = drains.map(_.progress.map(trigger))
    val attempted = drains.map(_.progress.size.max(1).toLong).sum + readOps.size
    Measured(rounds.toSeq, drains.map(_.wallS).sum, wal.frames.toLong * drains.size,
      attempted, failed + readOps.count(!_.ok), storeBytesPerRow(spark, drains.head.root))
  }

  final case class ReadOp(kind: String, name: String, readS: Double, restS: Double,
      rows: Long, ok: Boolean)
  private val readOps = ArrayBuffer.empty[ReadOp]
  private val tableOpen = ArrayBuffer.empty[Double]

  /** Traced run only: read the drained store back through the read and
    * analytics layers — `ReadApi.read` with `latestVersionOnly` off and
    * on, `readTrades`, `SessionAnalytics.sessionOhlc` and
    * `asOfJoinBackward` — for the three busiest tickers, each result
    * collected and its row count checked against the generator. */
  private def readBack(spark: SparkSession, t: Tracer, root: String): Unit = {
    val tz = Exchanges.tz("US")
    val busiest = wal.expected.perTicker.toSeq.sortBy { case (s, (n, _)) => (-n, s) }.take(3)
    busiest.foreach { case (ticker, (rows, v2)) =>
      val req = ReadApi.ReadRequest(Streaming, ticker, None, "2025-07-02 00:00", "2025-07-02 23:59")
      def op(kind: String, expect: Long)(read: => DataFrame)(rest: DataFrame => Long): Unit = {
        val s0 = System.nanoTime()
        StockStore.table(spark, root, Streaming)
        val t0 = System.nanoTime()
        val df = t.op(s"$kind-$ticker.read")(read)
        val t1 = System.nanoTime()
        val n = t.op(s"$kind-$ticker.rest")(rest(df))
        val t2 = System.nanoTime()
        tableOpen += (t0 - s0) / 1e9
        readOps += ReadOp(kind, s"$kind-$ticker", (t1 - t0) / 1e9, (t2 - t1) / 1e9, n, n == expect)
        if (n != expect) System.err.println(s"tick_drain read-back $kind $ticker: $n rows, expected $expect")
      }
      def trades = ReadApi.readTrades(spark, root, req).toDF()
      op("read_all", rows)(ReadApi.read(spark, root, req))(_.collect().length)
      op("read_latest", rows - v2)(ReadApi.read(spark, root, req.copy(latestVersionOnly = true)))(
        _.collect().length)
      op("trades", rows)(trades)(_.collect().length)
      op("ohlc", 1)(trades)(df => SessionAnalytics.sessionOhlc(df, "timestamp", "price", tz)
        .collect().length)
      op("asof", rows)(trades)(df => SessionAnalytics.asOfJoinBackward(df,
        df.filter(col("version") === 1).select("ticker", "timestamp", "price"), Seq("ticker"),
        "timestamp", "timestamp", Seq("price")).collect().length)
    }
    t.drain()
  }

  private def trigger(p: StreamingQueryProgress): Double =
    p.durationMs.get("triggerExecution").longValue / 1000.0

  private def storeBytesPerRow(spark: SparkSession, root: String): Double = {
    val tp = new Path(s"$root/${Streaming.name}")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (data, stats) = TableLog.effective(fs, tp)
    val bytes = data.map(f => fs.getFileStatus(new Path(tp, f)).getLen).sum +
      stats.map(f => fs.getFileStatus(new Path(s"$root/${Streaming.name}__stats/$f")).getLen).sum
    bytes.toDouble / wal.expected.rows
  }

  def describe: Seq[(String, Any)] = Seq(
    "frames" -> wal.frames, "max_frames_per_batch" -> cap,
    "redelivery_share" -> wal.redeliveryShare, "conflict_share" -> wal.conflictShare,
    "control_share" -> wal.controlShare, "expected_rows" -> wal.expected.rows,
    "expected_version2" -> wal.expected.version2,
    "wal_sha256" -> Layers.sha256(wal.lines.mkString("\n")),
    "store_checksum" -> storeChecksum)

  private val upsertJobs = Seq("touched tuples + batch pin" -> "touched_tuples",
    "merge + pin output" -> "merge_pin_output", "stats rows" -> "stats_rows",
    "stage data write" -> "stage_data_write")

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val spark = SparkSession.active
    t.drain()
    val ps = drains.flatMap(d => d.progress.map(p => (d, p))).toSeq
    val n = ps.size.toDouble
    def phase(k: String) = ps.map(_._2.durationMs.getOrDefault(k, 0L).longValue).sum / 1000.0 / n
    val jobsPer = ps.map { case (d, p) => t.jobsOfBatch(d.queryId, p.batchId) }
    val addBatch = ps.map(_._2.durationMs.getOrDefault("addBatch", 0L).longValue / 1000.0)
    val inJob = jobsPer.map(Tracer.inJobS)
    val named = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
      "commitOffsets")
    val phases = ps.map(_._2.durationMs).map(m => named.map(k => m.getOrDefault(k, 0L).longValue).sum)
    val wall = ps.map(_._2.durationMs.get("triggerExecution").longValue)
    def jobS(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1000.0).sum
    def label(j: JobRec) = upsertJobs.collectFirst { case (d, k) if j.desc.endsWith(d) => k }
      .getOrElse(if (j.desc.startsWith("upsert[")) "other" else "unlabeled")
    val perLabel = jobsPer.flatten.groupBy(label).map { case (k, js) => k -> jobS(js) / n }
    val last = drains.last
    val tp = new Path(s"${last.root}/${Streaming.name}")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = TableLog.effective(fs, tp)._1
    val dayPartitions = dataFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size
    // the transform alone, batch mode, over one trigger's frames and over all frames
    val rawAll = spark.createDataFrame(wal.lines.zipWithIndex.map { case (l, i) => (i.toLong, l) })
      .toDF("frame_id", "raw")
    val oneTrigger = rawAll.limit(cap).localCheckpoint()
    val transformS = Stats.median((1 to 3).map { _ =>
      val s0 = System.nanoTime()
      EodhdTransform.tradeTicks(oneTrigger).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s0) / 1e9
    })
    val kept = EodhdTransform.tradeTicks(rawAll).count()
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val reads = readOps.filter(o => Set("read_all", "read_latest", "trades")(o.kind)).toSeq
    val readJobs = reads.map(o => t.jobsOfOp(s"${o.name}.read") ++ t.jobsOfOp(s"${o.name}.rest"))
    def analytics(kind: String) = readOps.filter(_.kind == kind).toSeq
    val anaJobs = (analytics("ohlc") ++ analytics("asof")).map(o => t.jobsOfOp(s"${o.name}.rest"))
    Map(
      "streaming.trigger_s" -> phase("triggerExecution"),
      "streaming.add_batch_s" -> phase("addBatch"),
      "streaming.query_planning_s" -> phase("queryPlanning"),
      "streaming.wal_commit_s" -> phase("walCommit"),
      "streaming.commit_offsets_s" -> phase("commitOffsets"),
      "streaming.unlabeled_job_s" -> perLabel.getOrElse("unlabeled", 0.0),
      "sources.ws.latest_offset_s" -> phase("latestOffset"),
      "sources.ws.get_batch_s" -> phase("getBatch"),
      "sources.ws.source_reads_per_frame" -> ps.map(_._2.numInputRows).sum.toDouble / (wal.frames.toDouble * drains.size),
      "transform.s" -> transformS,
      "transform.frames_dropped_share" -> (1.0 - kept.toDouble / wal.frames),
      "store.jobs_per_trigger" -> jobsPer.map(_.size).sum / n,
      "store.stages_per_trigger" -> jobsPer.map(_.map(_.stages).sum).sum / n,
      "store.tasks_per_trigger" -> jobsPer.map(_.map(_.tasks).sum).sum / n,
      "store.in_job_s" -> inJob.sum / n,
      "store.driver_gap_s" -> addBatch.zip(inJob).map { case (a, j) => a - j }.sum / n,
      "store.job_s.touched_tuples" -> perLabel.getOrElse("touched_tuples", 0.0),
      "store.job_s.merge_pin_output" -> perLabel.getOrElse("merge_pin_output", 0.0),
      "store.job_s.stats_rows" -> perLabel.getOrElse("stats_rows", 0.0),
      "store.job_s.stage_data_write" -> perLabel.getOrElse("stage_data_write", 0.0),
      "store.job_s.other" -> perLabel.getOrElse("other", 0.0),
      "store.readback_bytes_per_trigger" ->
        ps.map { case (d, p) => t.scanBytesOfBatch(d.queryId, p.batchId) }.sum / n,
      "store.files_written_per_trigger" -> dataFiles.size.toDouble / last.progress.size,
      "store.files_in_touched_partitions" -> dataFiles.size.toDouble / dayPartitions,
      "store.latency_slope_s_per_trigger" -> Stats.median(drains.map(d => Stats.slope(d.progress.map(trigger))).toSeq),
      "store.manifests_live" -> TableLog.commits(fs, tp).size.toDouble,
      "store.table_open_s" -> Stats.median(tableOpen.toSeq),
      "read.build_s" -> mean(reads.map(_.readS)),
      "read.collect_s" -> mean(reads.map(_.restS)),
      "read.jobs_per_request" -> mean(readJobs.map(_.size.toDouble)),
      "read.catalyst_s" -> mean(reads.map(o => t.catalystS(s"${o.name}.read") + t.catalystS(s"${o.name}.rest"))),
      "read.rows_scanned_per_row_returned" ->
        readJobs.flatten.map(_.inputRecords).sum.toDouble / reads.map(_.rows).sum.max(1L),
      "analytics.session_ohlc_s" -> mean(analytics("ohlc").map(_.restS)),
      "analytics.asof_join_s" -> mean(analytics("asof").map(_.restS)),
      "analytics.jobs_per_call" -> mean(anaJobs.map(_.size.toDouble)),
      "tracing.unaccounted_share" -> wall.zip(phases).map { case (w, p) => (w - p).abs.toDouble / w }.sum / n)
  }
}
