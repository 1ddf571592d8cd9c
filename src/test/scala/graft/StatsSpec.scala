package graft

import graft.model.{HistoricalInterday, Streaming}
import graft.store.{InPlaceWrite, StockStore, TableLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A7/A8 incremental stats: the per-file stats the manifest carries,
  * folded at read time, must equal the full-scan stats view after any
  * sequence of upserts (including dedup'd replays, which write no file),
  * squashes and compactions, over logs written before files carried
  * stats, and over an empty table. */
class StatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ticks(base: Double, t0: Long, n: Int) = {
    import spark.implicits._
    (0 until n).map(i =>
      (if (i % 2 == 0) "SPY" else "VOO",
        new java.sql.Timestamp(t0 + i * 1000), base + i, 2L))
      .toDF("ticker", "timestamp", "price", "volume")
  }

  test("incremental stats log equals full-scan stats view") {
    val root = SparkTestSession.tempDir("stats")
    val t0 = 1757623532000L
    StockStore.upsert(spark, root, Streaming, ticks(100.0, t0, 6))
    StockStore.upsert(spark, root, Streaming, ticks(200.0, t0 + 60000, 4))
    StockStore.upsert(spark, root, Streaming, ticks(100.0, t0, 6)) // full replay: dedup, no stats row

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("ticker").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))).toSeq

    val scan = canon(StockStore.tableStats(spark, root, Streaming))
    val incr = canon(StockStore.incrementalStats(spark, root, Streaming))
    assert(incr == scan, s"incremental=$incr scan=$scan")
  }

  test("incremental stats carry the interval key for intraday data") {
    import graft.model.HistoricalIntraday
    import spark.implicits._
    val root = SparkTestSession.tempDir("stats-intra")
    def bars(interval: String, t0: Long) = (0 until 3).map(i =>
      ("SPY", new java.sql.Timestamp(t0 + i * 3600000L), 100.0 + i, 101.0 + i,
        99.0 + i, 100.5 + i, 1000L, interval))
      .toDF("ticker", "timestamp", "open", "high", "low", "close", "volume", "interval")
    StockStore.upsert(spark, root, HistoricalIntraday, bars("1h", 1757623200000L))
    StockStore.upsert(spark, root, HistoricalIntraday, bars("5m", 1757623200000L))

    val incr = StockStore.incrementalStats(spark, root, HistoricalIntraday)
      .orderBy("ticker", "interval").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    val scan = StockStore.intervalStats(spark, root, HistoricalIntraday)
      .orderBy("ticker", "interval").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    assert(incr == scan && incr.map(_._2).sorted == List("1h", "5m"))
  }

  /** Every row of `df`, ordered, as strings, with the column types. */
  private def view(df: DataFrame) =
    (df.schema.map(f => f.name -> f.dataType), df.collect().map(_.toString).toSeq.sorted)

  private def fs(root: String) = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("interday stats keep the event-time column's type: a date, and a string date") {
    import spark.implicits._
    def bars(dates: Seq[String], interval: String, close: Double) = dates.map(d =>
      ("SPY", d, 100.0, 101.0, 99.0, close, close, 10L, interval))
      .toDF("ticker", "date", "open", "high", "low", "close", "adjusted_close", "volume", "interval")
    val dates = Seq("2024-01-05", "2024-01-02", "2024-02-01", "2023-12-29", "2024-01-03")
    for ((tag, asType) <- Seq[(String, DataFrame => DataFrame)](
        "date" -> (_.withColumn("date", to_date(col("date")))), "string" -> identity)) {
      val root = SparkTestSession.tempDir(s"stats-interday-$tag")
      // several rows of one key per file, so a value kept from the
      // writer's reused row would be overwritten by a later one
      StockStore.upsert(spark, root, HistoricalInterday, asType(bars(dates, "d", 100.5)))
      StockStore.upsert(spark, root, HistoricalInterday, asType(bars(dates.take(2), "w", 100.5)))
      StockStore.upsert(spark, root, HistoricalInterday, asType(bars(dates.take(3), "d", 200.5)))
      val incr = view(StockStore.incrementalStats(spark, root, HistoricalInterday))
      val scan = view(StockStore.intervalStats(spark, root, HistoricalInterday))
      assert(incr == scan, s"$tag: incremental=$incr scan=$scan")
      assert(incr._1.toMap.apply("min_ts") == (if (tag == "date")
        org.apache.spark.sql.types.DateType else org.apache.spark.sql.types.StringType))
      assert(incr._2.exists(_.contains("2023-12-29")) && incr._2.exists(_.contains("2024-02-01")))
    }
  }

  test("a log mixing commits from before per-file stats with new ones folds to the scan view") {
    val root = SparkTestSession.tempDir("stats-mixed")
    val t0 = 1757623532000L
    val f = fs(root)
    val tp = new Path(s"$root/streaming")
    // a table as the stats-log writer left it: a genesis commit, then a
    // commit of data lines and a `stats` line naming a stats-log file
    TableLog.publish(f, tp, Nil, Nil)
    val old = InPlaceWrite.parquet(ticks(100.0, t0, 6).withColumn("version", lit(1))
      .withColumn("y", lit(2025)).withColumn("m", lit(9)).withColumn("d", lit(11)),
      tp, Seq("ticker", "y", "m", "d"))
    val manifest = new Path(tp, f"_commits/${1}%020d.commit")
    val out = f.create(manifest, false)
    out.write(("graft-commit-v1\n" + old.map(r => s"data\t$r\n").mkString +
      "stats\tpart-00000-old.parquet\nend\n").getBytes("UTF-8"))
    out.close()
    assert(TableLog.commits(f, tp).last.fileStats.isEmpty)
    assert(view(StockStore.incrementalStats(spark, root, Streaming)) ==
      view(StockStore.tableStats(spark, root, Streaming)), "old commits only")

    // new commits carry per-file stats beside the old data lines
    StockStore.upsert(spark, root, Streaming, ticks(200.0, t0 + 60000, 4))
    StockStore.upsert(spark, root, Streaming, ticks(300.0, t0, 6))
    val live = TableLog.commits(f, tp)
    assert(live.last.fileStats.nonEmpty)
    val scan = view(StockStore.tableStats(spark, root, Streaming))
    assert(view(StockStore.incrementalStats(spark, root, Streaming)) == scan, "mixed log")
    // a squash carries the old data lines (still without stats) forward
    assert(TableLog.checkpoint(f, tp) >= 0)
    assert(view(StockStore.incrementalStats(spark, root, Streaming)) == scan, "after a squash")
  }

  test("stats survive checkpoint and compact, and a compacted table's stats read no file") {
    val root = SparkTestSession.tempDir("stats-compact")
    val t0 = 1757623532000L
    val f = fs(root)
    val tp = new Path(s"$root/streaming")
    StockStore.upsert(spark, root, Streaming, ticks(100.0, t0, 6))
    StockStore.upsert(spark, root, Streaming, ticks(200.0, t0 + 60000, 4))
    StockStore.upsert(spark, root, Streaming, ticks(300.0, t0, 6))
    val scan = view(StockStore.tableStats(spark, root, Streaming))
    assert(TableLog.checkpoint(f, tp) >= 0)
    TableLog.vacuum(f, tp)
    assert(view(StockStore.incrementalStats(spark, root, Streaming)) == scan, "after checkpoint")
    assert(StockStore.compact(spark, root, Streaming) == 16)
    val last = TableLog.commits(f, tp)
    assert(last.size == 1 && last.head.reset)
    assert(last.head.fileStats.map(_.file).toSet == last.head.dataFiles.toSet,
      "compact publishes stats for every file it writes")
    val (after, jobs) = SparkTestSession.jobsDuring(
      view(StockStore.incrementalStats(spark, root, Streaming)))
    assert(after == scan, "after compact")
    assert(jobs == 0, s"stats over files that all carry stats started $jobs job(s)")
  }

  test("an empty table has empty stats, and the inspector reports 0 rows for it") {
    val root = SparkTestSession.tempDir("stats-empty")
    TableLog.publish(fs(root), new Path(s"$root/streaming"), Nil, Nil)
    assert(StockStore.incrementalStats(spark, root, Streaming).collect().isEmpty)
    val server = graft.tools.InspectServer.start(spark, root, port = 0)
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/tables")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200 && resp.body().contains("\"rows\":0"), resp.body())
    } finally server.stop(0)
  }
}
