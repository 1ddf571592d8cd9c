package graft

import graft.sources.ws.{FrameFeed, WsFeeds}
import graft.store.StockStore
import graft.model.{Exchanges, Streaming}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** Streaming throughput/latency benchmark: a rate-controlled synthetic
  * trade feed through the REAL ingest path — WsSource WAL pump →
  * micro-batch admission → EodhdTransform → StockStore versioned upsert —
  * reporting rows/s and end-to-end latency percentiles.
  *
  * "End-to-end" is measured per micro-batch as `commit wall-clock − the
  * batch's oldest frame generation wall-clock` (each frame embeds its
  * generation time as the tick's `t` field), i.e. the WORST row of every
  * batch: WAL append + trigger wait + transform + upsert commit, the same
  * span the reference's envelope bounds (BASELINE.md: 500-msg drains,
  * ≤10 s buffer poll latency — reference writer.py:31-34).
  *
  * The recorded figure is STEADY STATE: a short unrecorded warm-up run of
  * the same mode (its own store/checkpoint/feed) first pays the one-time
  * JVM costs — streaming codegen, state-store init, parquet committer
  * classes — that otherwise land entirely inside the first measured
  * micro-batches and dominate a 12 s window. A long-lived ingest cluster
  * never re-pays those per batch, and the reference's ≤10 s envelope is
  * an operating bound, not a cold-start bound. (The warm-up is still the
  * real path end-to-end; nothing from it is recorded.)
  *
  * The run is sized for a bench sidecar, not a soak: `rate` frames/s for
  * `durationS` seconds, then drain-to-empty. Throughput = total stored
  * rows / (last commit − first frame) — i.e. including drain, so a
  * falling-behind pipeline cannot hide backlog.
  */
object StreamBench {
  /** `perBatch` is the per-micro-batch (latencyS, rows) series in COMMIT
    * order (for gate mode, rows = decisions routed that trigger): it
    * separates within-run growth (per-batch state/merge cost rising batch
    * over batch) from across-run level shifts (host window). */
  final case class Result(rows: Long, wallS: Double, rowsPerS: Double,
      p50S: Double, p95S: Double, maxS: Double, batches: Int,
      perBatch: Seq[(Double, Long)] = Nil)

  /** `mode = "upsert"`: the reference-parity sink — every micro-batch
    * runs the full versioned StockStore merge (read-back anti-join,
    * version window, manifest commit). Strongest semantics, but each
    * trigger pays the multi-job merge, so latency is merge-bound, not
    * volume-bound.
    *
    * `mode = "stateful"`: the SCALE path — exact-dup drop + version
    * assignment happen in-stream ([[graft.streaming.StreamIngest
    * .statefulVersionedTrades]]: state-store keyed by (ticker, ts),
    * event-time timeout eviction), and the sink is a blind append (no
    * read-back). This is the shape that holds the reference's ≤10 s
    * envelope at cluster scale; the batch upsert remains the late-data
    * / replay reconciliation path (A13). */
  /** `mode = "gate"`: the LM admission gate ([[graft.streaming
    * .StreamIngest.qualityGate]], s12's online face) — a rate-controlled
    * synthetic doc feed scored per micro-batch against a FROZEN
    * Kneser-Ney bigram model (broadcast count tables, static across
    * triggers) and routed admit/reject. The recorded figure is
    * admission decisions/s and the decision latency percentiles — the
    * cost a crawler firehose pays at the corpus door. */
  def run(spark: SparkSession, rate: Int = 5000, durationS: Int = 12,
      mode: String = "upsert",
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      warm: Boolean = true): Result = {
    if (warm) {
      // Warm at the FULL rate so the measured run's batch sizes (and
      // their codegen/state-store shapes) are exactly what got JIT'd —
      // a 2k/s warm-up leaves the 5k-row batch path cold.
      if (mode == "gate") runGateOnce(spark, rate, 3, trigger)
      else runOnce(spark, rate, 3, mode, trigger)
      // Host state trails heavy runs (see verify skill): give the JVM a
      // GC + settle window so the warm-up's churn doesn't bleed into the
      // first measured micro-batches.
      System.gc()
      Thread.sleep(2000)
    }
    if (mode == "gate") runGateOnce(spark, rate, durationS, trigger)
    else runOnce(spark, rate, durationS, mode, trigger)
  }

  /** Synthetic doc text: 12 tokens over a 400-word vocab, the token
    * residues a function of the doc's sequence number so the stream's
    * in-domain docs land ONLY on bigrams the trusted corpus contains;
    * junk docs draw from a disjoint "zq" vocab (every bigram unseen). */
  private def docText(seq: org.apache.spark.sql.Column,
      junk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(" ", transform(sequence(lit(0), lit(11)), j =>
      concat(when(junk, lit("zq")).otherwise(lit("w")),
        pmod(seq * 7 + j * j, lit(400)).cast("string"))))

  private def runGateOnce(spark: SparkSession, rate: Int, durationS: Int,
      trigger: Trigger): Result = {
    val tmp = Files.createTempDirectory("graft-streamgate")
    val total = rate.toLong * durationS
    // frozen model: trained once, count tables pinned + broadcast — the
    // static side of every trigger's stream-batch join
    val trusted = spark.range(4000)
      .select(col("id").as("doc_id"), docText(col("id"), lit(false)).as("text"))
    val model = graft.lm.KnBigramLm.train(
      graft.lm.KnBigramLm.bigrams(trusted, "doc_id", "text"))

    val latencies = ArrayBuffer.empty[Double]
    val batchRecs = ArrayBuffer.empty[(Double, Long)]
    @volatile var routedRows = 0L
    @volatile var admittedRows = 0L
    @volatile var firstFrameMs = 0L
    @volatile var lastCommitMs = 0L

    // The doc feed rides the SAME WAL pump as the tick modes (not
    // Spark's unbounded rate source): gate per-batch cost is scoring-
    // join volume-proportional, so an uncapped catch-up batch carrying
    // a contended host's whole backlog doubles the tail — p95 read
    // 3.56/3.84/7.10 s across three same-round r10 runs purely on
    // batch shape. `maxFramesPerBatch` (S7 admission, default 2×rate
    // like the stateful mode) bounds every batch's volume, so latency
    // measures the gate, not the host's trigger jitter.
    val feedName = "streamgate-" + java.util.UUID.randomUUID()
    WsFeeds.register(feedName, () => new FrameFeed {
      private var produced = 0L
      private var startMs = 0L
      // per-millisecond sequence for the doc_id low bits: resets when
      // the generation wall-clock advances, so ids stay unique as long
      // as no single millisecond emits >= 2^20 frames (a >10^9/s feed —
      // unreachable here). The old `i % 2^20` collided whenever one
      // poll drained a backlog of more than 2^20 frames: i and
      // i+1048576 shared the same `now` (r11 ADVICE).
      private var lastNowMs = 0L
      private var seqInMs = 0L
      override def connect(): Unit = { startMs = System.currentTimeMillis() }
      override def poll(): Seq[String] = {
        val now = System.currentTimeMillis()
        val due = math.min((now - startMs) * rate / 1000, total)
        if (now != lastNowMs) { lastNowMs = now; seqInMs = 0L }
        val out = (produced until due).map { i =>
          // doc_id encodes the generation wall-clock: (epoch ms << 20)
          // | per-ms seq — the gate's outputs only carry doc_id, so the
          // latency rides in it. Text replicates docText's formula
          // (12 tokens, vocab residue (i*7 + j²) mod 400, every 10th
          // doc junk-vocab) so in-domain docs land only on bigrams the
          // trusted corpus contains.
          val junk = i % 10 == 9
          val text = (0 until 12).map(j =>
            (if (junk) "zq" else "w") + ((i * 7 + j.toLong * j) % 400))
            .mkString(" ")
          val seq = seqInMs; seqInMs += 1
          s"""{"d": ${(now << 20) + seq}, "x": "$text"}"""
        }
        produced = due
        out
      }
      override def close(): Unit = ()
    })
    val docs = spark.readStream
      .format("graft.sources.ws.WsSourceProvider")
      .option("walDir", tmp.resolve("wal").toString)
      .option("feed", feedName)
      // 4×rate admission: the gate's per-batch cost is FIXED-dominated
      // (LabGate r12: 10k rows ≈ 0.75 s steady, 40k ≈ 0.69 s — flat), so
      // the cap sets the drain rate almost linearly. At 2×rate the drain
      // margin was ~2× — one host stall built a backlog the stream never
      // exited (observed p95 32 s on a good-probe host, same code that
      // reads 2.9 s without the stall). 4×rate keeps catch-up batches
      // bounded (the r10 reason the cap exists) while draining a stall
      // in 2-3 triggers instead of never.
      .option("maxFramesPerBatch", (4 * rate).toString)
      .load()
      .select(
        get_json_object(col("raw"), "$.d").cast("long").as("doc_id"),
        get_json_object(col("raw"), "$.x").as("text"))

    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = graft.streaming.StreamIngest.qualityGate(docs, model,
        gateBitsX100 = 1000L) { (adm, rej, _) =>
        // ONE action for both sinks, probe metrics as OBSERVATIONS: the
        // per-side decision count + oldest generation ms ride
        // CollectMetrics nodes on the two route frames, and a single
        // noop write of their union materializes everything — no
        // groupBy Exchange, no AQE re-plan, no collect round-trip. The
        // probe then costs exactly one job per trigger, and per-batch
        // fixed cost is what decides whether the gate keeps up under
        // the admission cap.
        val probe = Seq(
          count(lit(1)).as("n"),
          min(shiftright(col("doc_id"), 20)).as("oldest"))
        val admObs = org.apache.spark.sql.Observation()
        val rejObs = org.apache.spark.sql.Observation()
        adm.observe(admObs, probe.head, probe(1))
          .unionAll(rej.observe(rejObs, probe.head, probe(1)))
          .write.format("noop").mode("overwrite").save()
        def read(o: org.apache.spark.sql.Observation): (Long, Option[Long]) = {
          val m = o.get
          (m("n").asInstanceOf[Long],
            Option(m("oldest")).map(_.asInstanceOf[Long]))
        }
        val (na, oa) = read(admObs)
        val (nr, or_) = read(rejObs)
        if (na + nr > 0) {
          val now = System.currentTimeMillis()
          val oldest = Seq(oa, or_).flatten.min
          latencies.synchronized {
            latencies += (now - oldest) / 1000.0
            batchRecs += (((now - oldest) / 1000.0, na + nr))
          }
          routedRows += na + nr
          admittedRows += na
          if (firstFrameMs == 0L) firstFrameMs = oldest
          lastCommitMs = now
        }
      }
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(trigger)
        .start()
      val deadline = System.currentTimeMillis() + durationS * 6000L + 60000L
      while (routedRows < total && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      q.stop(); q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)

    require(admittedRows > 0 && admittedRows < routedRows,
      s"gate must split the feed (admitted $admittedRows of $routedRows)")
    val lat = latencies.sorted
    def pct(p: Double): Double =
      if (lat.isEmpty) Double.NaN
      else lat(math.min(lat.length - 1, (p * lat.length).toInt))
    val wallS =
      if (lastCommitMs == 0L || firstFrameMs == 0L) Double.NaN
      else (lastCommitMs - firstFrameMs) / 1000.0
    Result(routedRows, wallS, routedRows / wallS, pct(0.50), pct(0.95),
      if (lat.isEmpty) Double.NaN else lat.last, lat.length, batchRecs.toSeq)
  }

  private def runOnce(spark: SparkSession, rate: Int, durationS: Int,
      mode: String, trigger: Trigger): Result = {
    val tmp = Files.createTempDirectory("graft-streambench")
    val total = rate.toLong * durationS
    val tickers = Array("SPY", "VOO", "QQQ", "IWM")

    @volatile var firstFrameMs = 0L
    // Unique feed name per run: warm-up and measured runs must not share
    // producer state (the registry is a process-global map).
    val feedName = "streambench-" + java.util.UUID.randomUUID()
    WsFeeds.register(feedName, () => new FrameFeed {
      private var produced = 0L
      private var startMs = 0L
      override def connect(): Unit = {
        startMs = System.currentTimeMillis()
        firstFrameMs = startMs
      }
      override def poll(): Seq[String] = {
        val now = System.currentTimeMillis()
        val due = math.min((now - startMs) * rate / 1000, total)
        val out = (produced until due).map { i =>
          val tk = tickers((i % tickers.length).toInt)
          // t = generation wall-clock -> becomes the tick timestamp the
          // latency aggregate below reads back. volume = 1 + i makes the
          // payload injective in i: every frame of a poll() call shares
          // the same t, so a cyclic payload would emit exact-duplicate
          // ticks whenever a poll gap exceeds one cycle — the stateful
          // mode's in-stream dedup would then (correctly) drop them and
          // storedRows could never reach `total`.
          s"""{"s": "$tk", "p": ${100 + (i % 500) / 100.0}, "v": ${1 + i}, "t": $now}"""
        }
        produced = due
        out
      }
      override def close(): Unit = ()
    })

    val reader = spark.readStream
      .format("graft.sources.ws.WsSourceProvider")
      .option("walDir", tmp.resolve("wal").toString)
      .option("feed", feedName)
    // Admission control (S7), STATEFUL MODE ONLY: cap catch-up batches at
    // 2x the nominal per-trigger volume. Steady state (~rate rows/batch at
    // a 1 s trigger) is unconstrained; on a contended host this turns "one
    // mega-batch carrying the whole backlog" (BENCH_r07's 2-batch
    // degenerate shape) into bounded batches that drain incrementally —
    // stateful per-batch cost is ~volume-proportional, so bounding volume
    // bounds latency. The upsert merge is the opposite: its per-trigger
    // cost is dominated by the FIXED multi-job merge plan, so fewer,
    // bigger catch-up batches amortize it (capping upsert was measured at
    // p95 11.3 s vs 5.1 s uncapped at the same 5k/s).
    val frames = (if (mode == "stateful")
        reader.option("maxFramesPerBatch", (2 * rate).toString)
      else reader)
      .load()
      .select(col("raw"))

    val ticks = graft.streaming.StreamIngest.transformFrames(frames, "trades")
    val root = tmp.resolve("store").toString
    val latencies = ArrayBuffer.empty[Double]
    val batchRecs = ArrayBuffer.empty[(Double, Long)]
    @volatile var storedRows = 0L
    @volatile var lastCommitMs = 0L

    def sinkBatch(batch: DataFrame, store: DataFrame => Unit): Unit = {
      val b = batch.cache()
      try {
        // one tiny agg on the cached batch: oldest frame + row count —
        // doubles as the emptiness probe, so each trigger pays exactly
        // two jobs (agg + store) instead of three (isEmpty/agg/store)
        val r = b.agg(min(col("timestamp")).cast("double"), count(lit(1))).head()
        if (r.getLong(1) > 0) {
          store(b)
          val now = System.currentTimeMillis()
          val lat = now / 1000.0 - r.getDouble(0)
          latencies.synchronized {
            latencies += lat
            batchRecs += ((lat, r.getLong(1)))
          }
          storedRows += r.getLong(1)
          lastCommitMs = now
        }
      } finally b.unpersist()
    }

    // Micro-batches are ~5k rows: 32-wide shuffles mean 32 state-store
    // commits + 32 tasks per trigger of mostly-empty partitions. 8 is
    // plenty for bench volume; a real deployment sizes this to
    // state-store throughput, not CPU count. Restored after the run on
    // EVERY exit path — the shared session outlives this bench.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val stream = mode match {
        case "upsert" => ticks.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            sinkBatch(batch, b => StockStore.upsert(b.sparkSession, root, Streaming, b,
              Exchanges.tz("US"), collectCounts = false))
          }
        case "stateful" =>
          graft.streaming.StreamIngest.statefulVersionedTrades(ticks)
            .toDF().writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              sinkBatch(batch, _.write.mode("append").parquet(root))
            }
        case other => throw new IllegalArgumentException(s"unknown mode: $other")
      }
      val q = stream
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .trigger(trigger)
        .outputMode("append")
        .start()

      // run until every generated frame is stored (or a hard timeout —
      // 6x nominal duration plus a fixed 60 s means the pipeline fell
      // hopelessly behind)
      val deadline = System.currentTimeMillis() + durationS * 6000L + 60000L
      while (storedRows < total && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      q.stop(); q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)

    val lat = latencies.sorted
    def pct(p: Double): Double =
      if (lat.isEmpty) Double.NaN
      else lat(math.min(lat.length - 1, (p * lat.length).toInt))
    // Zero committed batches (lastCommitMs=0) must read as an explicit
    // failure — NaN wall/throughput, rows=0 — never a negative wall.
    val wallS =
      if (lastCommitMs == 0L || firstFrameMs == 0L) Double.NaN
      else (lastCommitMs - firstFrameMs) / 1000.0
    Result(storedRows, wallS, storedRows / wallS, pct(0.50), pct(0.95),
      if (lat.isEmpty) Double.NaN else lat.last, lat.length, batchRecs.toSeq)
  }

  /** Standalone entry: `run_main.sh graft.StreamBench [rate] [durationS] [mode]`. */
  def main(args: Array[String]): Unit = {
    val rate = if (args.length > 0) args(0).toInt else 5000
    val durationS = if (args.length > 1) args(1).toInt else 12
    val mode = if (args.length > 2) args(2) else "upsert"
    val spark = graft.core.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, 32)
    val r = run(spark, rate, durationS, mode)
    // per-batch series + commit wall-clock stamps so a GC/host log can be
    // correlated batch-by-batch (r12 verdict item: stall forensics)
    val lats = r.perBatch.map(b => f"${b._1}%.3f").mkString("[", ",", "]")
    val rows = r.perBatch.map(_._2).mkString("[", ",", "]")
    println(f"""{"metric":"stream_ingest","mode":"$mode","rows":${r.rows},"wall_s":${r.wallS}%.2f,"rows_per_s":${r.rowsPerS}%.0f,"p50_latency_s":${r.p50S}%.2f,"p95_latency_s":${r.p95S}%.2f,"max_latency_s":${r.maxS}%.2f,"batches":${r.batches},"per_batch_lat_s":$lats,"per_batch_rows":$rows,"epoch_ms_at_exit":${System.currentTimeMillis()}}""")
    spark.stop()
  }
}
