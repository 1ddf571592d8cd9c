package graft.streaming

import graft.model._
import graft.store.StockStore
import graft.transform.EodhdTransform
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Typed rows for the stateful trade path. */
case class TradeTick(ticker: String, timestamp: java.sql.Timestamp,
    price: Double, volume: Long)
case class VersionedTick(ticker: String, timestamp: java.sql.Timestamp,
    price: Double, volume: Long, version: Int)
/** Per-(ticker, event-ts) dedup/version state: payload hashes seen so far
  * and the highest version handed out. */
case class VersionState(seen: Seq[Long], maxVersion: Int)

/** Streaming ingest plane (SURVEY §2.1 S3–S8, §3.2).
  *
  * The reference's chain — WebSocket → transform → Redis Stream buffer →
  * single-writer dedup/version insert (reference:
  * src/stockops/data/streaming/eodhd_streaming_service.py:268-300,
  * src/stockops/data/database/writer.py:259-353) — collapses to one
  * Structured Streaming pipeline: the checkpoint + WAL replaces the Redis
  * consumer-group ack/reclaim machinery (S6–S8), and `foreachBatch` into
  * [[StockStore.upsert]] provides the effectively-once sink: replayed
  * micro-batches hit the A3 exact-dup elimination and write nothing new,
  * so at-least-once redelivery is idempotent (A13).
  *
  * Any streaming DataFrame with (ticker, raw-json) rows works as the
  * source: socket/file/rate in tests; a WebSocket bridge (frames appended
  * to files, exactly the WAL role the reference gives Redis — SURVEY §7.4
  * risk 2) or a DataSource V2 MicroBatchStream in production.
  */
object StreamIngest {

  /** Transform per stream type (reference command field `stream_type`). */
  def transformFrames(frames: DataFrame, streamType: String): DataFrame =
    streamType match {
      case "trades" => EodhdTransform.tradeTicks(frames)
      case "quotes" => EodhdTransform.quoteTicks(frames)
      case other => throw new IllegalArgumentException(s"unknown stream_type: $other")
    }

  /** Start the ingest query: raw frames → transform → versioned store.
    * `frames` must be a streaming DataFrame with a `raw` STRING column.
    */
  def start(spark: SparkSession, frames: DataFrame, streamType: String,
      root: String, checkpoint: String, exchange: String = "US",
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val ticks = transformFrames(frames, streamType)
    ticks.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the store's one write path: its diagnostics ride the merge's
        // own jobs as observations, so a trigger pays no count or
        // emptiness probe (a batch that keeps no row ends after its
        // first job). It runs in the caller's session, not the query's
        // clone, so a new query's first trigger reuses the classes
        // earlier queries compiled ([[GraftBridge.inSession]]).
        StockStore.upsert(spark, root, Streaming, GraftBridge.inSession(spark, batch),
          Exchanges.tz(exchange))
        ()
      }
      .start()
  }

  /** In-stream exact-dedup + version assignment — the reference writer's
    * A3/A4 semantics (reference: src/stockops/data/database/sql_db.py:
    * 476-524) as CUSTOM STATE, not a sink-side merge: key = (ticker,
    * event-ts), state = payload hashes seen + max version. A redelivered
    * identical tick emits nothing; a changed payload at the same key emits
    * `version = max + 1`.
    *
    * Scale/state story: state lives in the state store partitioned by key
    * hash (scales with executors), and is evicted by EVENT-TIME timeout —
    * once the watermark passes a key's timestamp + `keep`, the key's state
    * is dropped, so state size is bounded by the in-flight event-time
    * window, not history. Data later than that is the batch path's job
    * ([[StockStore.upsert]] accepts arbitrarily late rows, the reference's
    * late-data policy — SURVEY §2.5 note).
    *
    * State stores payload HASHES, not payloads — constant per-key state
    * at the cost of a theoretical hash-collision false-dedup; the batch
    * upsert compares full payloads, so the durable path has no such
    * window.
    */
  def statefulVersionedTrades(ticks: DataFrame, keep: String = "10 minutes")
      : Dataset[VersionedTick] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val keepMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(keep))
    require(keepMs.months == 0, s"calendar-month keep windows are ambiguous: $keep")
    val slackMs = keepMs.days * 86400000L + keepMs.microseconds / 1000L
    ticks
      .withWatermark("timestamp", keep)
      .select($"ticker", $"timestamp", $"price", $"volume").as[TradeTick]
      .groupByKey(t => (t.ticker, t.timestamp.getTime))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (String, Long), rows: Iterator[TradeTick],
            state: org.apache.spark.sql.streaming.GroupState[VersionState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(VersionState(Seq.empty, 0))
            var seen = st.seen
            var v = st.maxVersion
            val out = rows.flatMap { t =>
              val h = (t.price, t.volume).hashCode().toLong
              if (seen.contains(h)) None
              else {
                v += 1; seen = seen :+ h
                Some(VersionedTick(t.ticker, t.timestamp, t.price, t.volume, v))
              }
            }.toList
            state.update(VersionState(seen, v))
            state.setTimeoutTimestamp(key._2 + slackMs)
            out.iterator
          }
        })
  }

  /** Stream-stream event-time interval join: both sides watermarked, the
    * join condition must bound the event-time skew (a key equality plus a
    * time range) or Spark rejects the plan as unbounded-state. State per
    * side is bounded by watermark + range: once the watermark passes a
    * row's latest possible match window the state store evicts it, so at
    * cluster scale state grows with in-flight event time, not history.
    * Inner/leftOuter/rightOuter are the Spark-supported types for
    * watermarked interval joins. */
  def intervalJoinStreams(left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String, watermark: String,
      condition: org.apache.spark.sql.Column, joinType: String = "inner")
      : DataFrame =
    left.withWatermark(leftTsCol, watermark)
      .join(right.withWatermark(rightTsCol, watermark), condition, joinType)

  /** Streaming dedup with bounded state: first arrival per `keys` within
    * the watermark survives, later duplicates are dropped, and key state
    * is evicted once the watermark passes — the streaming face of the A3
    * exact-dup rule for feeds whose duplicates arrive close together
    * (redelivery, double-publish). Exactly-once history-wide dedup stays
    * the sink's job ([[StockStore.upsert]] anti-join); this bounds what
    * reaches it. */
  def dedupWithinWatermark(rows: DataFrame, tsCol: String,
      watermark: String, keys: Seq[String]): DataFrame =
    rows.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment: join a live stream against a slowly-
    * changing dimension snapshot. The dim broadcasts — the stream side
    * never shuffles, which is the whole point: enrichment must not
    * re-partition a firehose.
    *
    * Dim refresh caveat: Spark pins the static side's FILE LISTING when
    * the dim DataFrame is created (InMemoryFileIndex), so a dim parquet
    * that is overwritten or compacted in place under a long-running
    * query can be missed — or fail the batch with FileNotFoundException
    * when the listed files are replaced. To pick up a refreshed dim
    * without restarting, either construct the dim DataFrame inside
    * `foreachBatch` each trigger (a fresh listing per batch), or call
    * `spark.catalog.refreshByPath(dimPath)` after publishing the new
    * snapshot. [[graft.corpus.CorpusStore]]-style atomic snapshot dirs
    * (write new, flip a pointer) avoid the mid-query replacement
    * hazard entirely. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      condition: org.apache.spark.sql.Column, joinType: String = "left")
      : DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), condition, joinType)

  /** Streaming corpus admission control: score each micro-batch of
    * documents against a FROZEN Kneser-Ney LM ([[graft.lm.KnBigramLm]])
    * and route pass/fail through the supplied sinks — the online face of
    * the x65/s12 quality gate, where a crawler firehose is admitted into
    * the training corpus only if its LM fit clears the bar.
    *
    * Shape: `foreachBatch`, because the score is PER-DOCUMENT (bigram
    * rollup within one doc) — no cross-batch state is ever needed, so
    * paying for a streaming aggregation's state store would be waste.
    * Inside the batch the plan is x65's: corpus-linear bigram stream,
    * broadcast unigram tables, equi-join on the bigram table. The LM
    * frames are built ONCE outside and cached by the caller; Spark
    * re-uses them across triggers (static side of a stream-batch join).
    *
    * Admission control never loses rows: documents with <2 tokens have
    * no bigrams to score, so the per-doc scores LEFT-join back onto the
    * batch's doc_ids and unscorable docs fail closed into the rejected
    * sink (null score columns, n_bigrams = 0) — a gate that can't score
    * a document must still route it.
    *
    * @param gateBitsX100 admit iff avg_bits_x100 <= this threshold
    */
  def qualityGate(docs: DataFrame, model: graft.lm.KnBigramLm.Model,
      gateBitsX100: Long)(
      onBatch: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gateWith(docs, gateBitsX100, onBatch)(batch =>
      graft.lm.KnBigramLm.perDocAll(batch, "doc_id", "text", model))

  /** [[qualityGate]] scored by a frozen ORDER-N Kneser-Ney model
    * ([[graft.lm.KnNgramLm]]) — longer context, sharper admission;
    * docs with < n tokens are unscorable and fail closed. */
  def qualityGateN(docs: DataFrame, model: graft.lm.KnNgramLm.Model,
      gateBitsX100: Long)(
      onBatch: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    gateWith(docs, gateBitsX100, onBatch)(batch =>
      graft.lm.KnNgramLm.perDocAll(batch, "doc_id", "text", model))

  /** Shared admission routing: `perDocScores` must return ONE row per
    * DISTINCT batch doc_id — unscorable docs included, with a null
    * avg_bits_x100 (they fail closed below). */
  private def gateWith(docs: DataFrame, gateBitsX100: Long,
      onBatch: (DataFrame, DataFrame, Long) => Unit)(
      perDocScores: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (clonedBatch: DataFrame, id: Long) =>
        import org.apache.spark.sql.functions._
        // scored in the session that defined the stream, beside the
        // frozen model's frames ([[GraftBridge.inSession]])
        val batch = GraftBridge.inSession(docs.sparkSession, clonedBatch)
        // ONE-pass routing frame: the scorer itself keeps unscorable
        // docs (null score → fail closed) and keys by distinct doc_id,
        // so a trigger pays a single scored-gram aggregation plus the
        // frozen model's broadcast joins — the old shape additionally
        // paid a dropDuplicates Exchange over the batch ids and a
        // per-trigger broadcast BUILD of the scored rollup just to
        // left-join the two (measured in LabGate as most of the ~0.75 s
        // fixed per-batch cost that set the gate's drain rate). Cached:
        // both routes filter the one materialization.
        val all = perDocScores(batch).cache()
        try {
          val admitted = all.filter(
            col("avg_bits_x100").isNotNull && col("avg_bits_x100") <= gateBitsX100)
          val rejected = all.filter(
            col("avg_bits_x100").isNull || col("avg_bits_x100") > gateBitsX100)
          onBatch(admitted, rejected, id)
        } finally all.unpersist()
    }

  /** Watermarked tumbling-window OHLC over a live tick stream — the
    * streaming face of SessionAnalytics.sessionOhlc. Late data beyond the
    * watermark is dropped by the state store; the reference instead
    * accepts all late rows into their event-time partition (SURVEY §2.5
    * note) — batch upsert covers that path, this covers live dashboards. */
  def windowedOhlc(ticks: DataFrame, windowLen: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    ticks
      .withWatermark("timestamp", watermark)
      .groupBy(col("ticker"), window(col("timestamp"), windowLen))
      .agg(
        min_by(col("price"), col("timestamp")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("timestamp")).as("close"),
        sum(col("volume")).as("volume"))
  }

  /** Per-event-time-window quantile state on a stream — the sketch
    * family's streaming face (s13). Each (key, window) group maintains
    * one O(k)-entry KLL compactor ([[graft.functions.expressions
    * .KllCompactor]]) in the state store: the aggregate's partial
    * buffers ARE the streaming state (serialize/deserialize is the
    * state-store codec), so per-window state is O(k) no matter how
    * many rows the window sees — the property that lets a latency/
    * value quantile live on a firehose. Append mode + the watermark
    * emit each window's FINAL sketch once the watermark passes; the
    * emitted `struct(entries, w)` rows are exactly what
    * `graft_kll_merge` ([[graft.functions.expressions.KllMerge]], x78)
    * rolls up — per day, per epoch, or across keys — without
    * re-scanning the stream. `n` in every sketch stays the exact row
    * count of its window.
    *
    * Output: key cols + `win_start`/`win_end` (timestamps) + `sk`. */
  def windowedQuantileSketch(rows: DataFrame, tsCol: String,
      valueCol: String, keyCols: Seq[String],
      windowLen: String = "1 hour", watermark: String = "10 minutes",
      k: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions._
    rows
      .withWatermark(tsCol, watermark)
      .groupBy(keyCols.map(col) :+ window(col(tsCol), windowLen): _*)
      .agg(graft.functions.AggFunctions.kllCompactor(col(valueCol), k).as("sk"))
      .select(keyCols.map(col) ++ Seq(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("sk")): _*)
  }
}
