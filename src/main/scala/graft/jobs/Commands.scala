package graft.jobs

import graft.model._
import graft.store.{ManifestTable, StockStore}
import graft.transform.EodhdTransform
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Job-command surface with the reference's two parameter schemas kept
  * exactly (SURVEY §2.6; reference: datapipe_ui/ui_backend.py:28-40,
  * validated at eodhd_historical_service.py:172-179 and
  * eodhd_streaming_service.py:280-288). The provider fetch is injected
  * (`fetchPage`), so tests run the canned CI payloads and production
  * plugs an HTTP client — the engine itself never talks to the network.
  */
object Commands {

  final case class HistoricalCommand(
      ticker: String, exchange: String, interval: String,
      start: String, end: String) {
    require(ticker.nonEmpty && exchange.nonEmpty)
    val dataType: StockDataType =
      if (HistoricalInterday.intervalDomain.get.contains(interval)) HistoricalInterday
      else if (HistoricalIntraday.intervalDomain.get.contains(interval)) HistoricalIntraday
      else throw new IllegalArgumentException(s"unknown interval: $interval")
  }

  final case class StreamCommand(
      tickers: Seq[String], exchange: String, streamType: String,
      durationSec: Long) {
    require(tickers.nonEmpty, "at least one ticker")
    require(Seq("trades", "quotes").contains(streamType), s"unknown stream_type: $streamType")
  }

  /** Run a historical ingest: fetch pages (injected), transform, merge
    * into the store. Returns upsert stats. One fetch per ticker/slice can
    * fan out — the transform+merge is fully distributed either way. */
  def runHistorical(spark: SparkSession, root: String, cmd: HistoricalCommand)(
      fetchPage: HistoricalCommand => Seq[String]): StockStore.UpsertStats = {
    import spark.implicits._
    val raw = fetchPage(cmd).toDF("raw").withColumn("ticker", lit(cmd.ticker))
    val typed = cmd.dataType match {
      case HistoricalInterday => EodhdTransform.interdayBars(raw, cmd.interval)
      case _ => EodhdTransform.intradayBars(raw, cmd.interval)
    }
    StockStore.upsert(spark, root, cmd.dataType, typed, Exchanges.tz(cmd.exchange))
  }

  /** Run a historical ingest for MANY tickers in one job via the DSv2
    * Batch source ([[graft.sources.rest.RestSourceProvider]]): one input
    * partition per (ticker, `sliceDays` window), fetched on the
    * EXECUTORS — the parallel path SURVEY §7.3 promises, closing the
    * driver-side serial fetch loop the reference runs
    * (eodhd_historical_service.py:110-158). All tickers share one
    * transform+merge, so the store commit is one transaction, not N.
    */
  def runHistoricalBatch(spark: SparkSession, root: String,
      tickers: Seq[String], exchange: String, interval: String,
      start: String, end: String, apiToken: String,
      baseUrl: String = "https://eodhd.com/api", sliceDays: Int = 0,
      timeoutMs: Int = 30000, maxRetries: Int = 3,
      retryBackoffMs: Long = 250): StockStore.UpsertStats = {
    require(tickers.nonEmpty, "at least one ticker")
    // Validates interval/dates at plan time, same as the single-ticker path.
    val cmd = HistoricalCommand(tickers.head, exchange, interval, start, end)
    val raw = spark.read.format("graft.sources.rest.RestSourceProvider")
      .option("tickers", tickers.mkString(","))
      .option("exchange", exchange).option("interval", interval)
      .option("start", start).option("end", end)
      .option("apiToken", apiToken).option("baseUrl", baseUrl)
      .option("sliceDays", sliceDays.toString)
      .option("timeoutMs", timeoutMs.toString)
      .option("maxRetries", maxRetries.toString)
      .option("retryBackoffMs", retryBackoffMs.toString)
      .load()
    val typed = cmd.dataType match {
      case HistoricalInterday => EodhdTransform.interdayBars(raw, interval)
      case _ => EodhdTransform.intradayBars(raw, interval)
    }
    StockStore.upsert(spark, root, cmd.dataType, typed, Exchanges.tz(exchange))
  }

  /** Run a bounded streaming ingest (the reference's `start_stream` with
    * its duration gate — eodhd_streaming_service.py:149-153): WS-source
    * frames → transform → versioned store, stopped after `durationSec`.
    * Multi-ticker fan-out is native here (ticker comes from each frame's
    * `s` field); the reference asserts single-ticker
    * (eodhd_streaming_service.py:72-74). Returns the stored row count.
    */
  def runStream(spark: SparkSession, root: String, checkpoint: String,
      walDir: String, feed: String, cmd: StreamCommand): Long = {
    import spark.implicits._
    val frames = spark.readStream
      .format("graft.sources.ws.WsSourceProvider")
      .option("walDir", walDir)
      .option("feed", feed)
      .load()
      .select($"raw")
    val q = graft.streaming.StreamIngest.start(
      spark, frames, cmd.streamType, root, checkpoint, cmd.exchange,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
    try {
      q.awaitTermination(cmd.durationSec * 1000)
      q.processAllAvailable() // drain what the WAL holds before the gate closes
    } finally q.stop()
    // Hadoop FS probe (not java.io.File) so HDFS/S3 roots work too.
    val p = new org.apache.hadoop.fs.Path(s"$root/${Streaming.name}")
    if (!ManifestTable.fs(spark, p).exists(p)) 0L
    else StockStore.table(spark, root, Streaming).count()
  }
}
