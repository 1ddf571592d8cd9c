package graft

import graft.model.{HistoricalInterday, Streaming}
import graft.read.ReadApi
import graft.store.{InPlaceWrite, StockStore, TableLog}
import graft.transform.EodhdTransform
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A12 atomic-commit protocol ([[TableLog]]): visibility is granted only
  * by the manifest create, so half-written batches (crash simulations)
  * are invisible, stats can never drift from data, compaction swaps
  * atomically, and legacy plain-append tables fold into the log. */
class TableLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tickDf(priceBase: Double) = {
    import spark.implicits._
    (0 until 3).map(i =>
      ("SPY", new java.sql.Timestamp(1757623532850L + i * 1000), priceBase + i, 5L))
      .toDF("ticker", "timestamp", "price", "volume")
  }

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("uncommitted files are invisible; vacuum reclaims them") {
    val root = SparkTestSession.tempDir("tlog-orphan")
    StockStore.upsert(spark, root, Streaming, tickDf(100.0))
    val before = StockStore.table(spark, root, Streaming).collect().toSet

    // crash simulation: a data file written into a partition dir but
    // never referenced by a manifest (copy an existing committed file)
    val f = fs(root)
    val tp = new Path(s"$root/streaming")
    val committed = TableLog.listFilesRecursively(f, tp)
      .filter(_.getName.endsWith(".parquet")).head
    val orphan = new Path(committed.getParent, s"part-orphan-${java.util.UUID.randomUUID()}.parquet")
    org.apache.hadoop.fs.FileUtil.copy(f, committed, f, orphan, false,
      spark.sparkContext.hadoopConfiguration)

    assert(StockStore.table(spark, root, Streaming).collect().toSet == before,
      "readers must not see files no manifest references")
    val removed = TableLog.vacuum(f, tp)
    assert(removed == 1 && !f.exists(orphan), "vacuum reclaims the orphan")
    assert(StockStore.table(spark, root, Streaming).collect().toSet == before)
  }

  test("an orphan data file does not skew incremental stats") {
    val root = SparkTestSession.tempDir("tlog-stats")
    StockStore.upsert(spark, root, Streaming, tickDf(100.0))
    StockStore.upsert(spark, root, Streaming, tickDf(200.0))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("ticker") -> r.getAs[Long]("row_count")).toMap
    val scan = asMap(StockStore.tableStats(spark, root, Streaming))
    assert(scan == Map("SPY" -> 6L) && asMap(StockStore.incrementalStats(spark, root, Streaming)) == scan)

    // crash simulation: a data write whose publish never happened
    val tp = new Path(s"$root/streaming")
    val orphan = InPlaceWrite.parquet(StockStore.table(spark, root, Streaming)
      .withColumn("price", col("price") + 1000.0), tp, Seq("ticker", "y", "m", "d"))
    assert(orphan.nonEmpty && orphan.forall(r => fs(root).exists(new Path(tp, r))))
    assert(asMap(StockStore.incrementalStats(spark, root, Streaming)) == scan,
      "an uncommitted data file must not skew incremental stats")
  }

  test("a log with nothing committed reads as empty: an unpublished write stays invisible and compact commits nothing") {
    val root = SparkTestSession.tempDir("tlog-empty-live")
    val f = fs(root)
    val tp = new Path(s"$root/streaming")
    // the genesis commit a first upsert publishes before it writes, then
    // a write that died before its own publish
    TableLog.publish(f, tp, Nil, Nil)
    val orphan = InPlaceWrite.parquet(tickDf(100.0).withColumn("version", lit(1))
      .withColumn("y", lit(2025)).withColumn("m", lit(9)).withColumn("d", lit(11)),
      tp, Seq("ticker", "y", "m", "d"))
    assert(orphan.nonEmpty && orphan.forall(r => f.exists(new Path(tp, r))))

    val t = StockStore.table(spark, root, Streaming)
    assert(t.count() == 0, "table() must not read files no commit references")
    assert(t.columns.toSeq == Seq("timestamp", "price", "volume", "ask_price", "bid_price",
      "ask_size", "bid_size", "version", "ticker", "y", "m", "d"))
    val req = ReadApi.ReadRequest(Streaming, "SPY", None, "2025-09-11 00:00", "2025-09-11 23:59")
    // the read API's empty-result guard (R8), not the orphan's rows
    assert(intercept[IllegalStateException](ReadApi.read(spark, root, req)).getMessage
      .startsWith("no rows for streaming/SPY"))
    assert(StockStore.tableStats(spark, root, Streaming).count() == 0)
    assert(StockStore.incrementalStats(spark, root, Streaming).count() == 0)
    val genesis = TableLog.commits(f, tp)
    assert(StockStore.compact(spark, root, Streaming) == 0)
    assert(TableLog.commits(f, tp) == genesis, "compact must commit nothing")
    assert(StockStore.tableAt(spark, root, Streaming, genesis.head.id).count() == 0)

    // the next upsert writes its own rows and still never the orphan's
    assert(StockStore.upsert(spark, root, Streaming, tickDf(200.0)).written == 3)
    assert(StockStore.table(spark, root, Streaming).select("price").collect()
      .map(_.getDouble(0)).toSet == Set(200.0, 201.0, 202.0))
  }

  test("compact swaps via a reset commit and prunes superseded manifests") {
    val root = SparkTestSession.tempDir("tlog-compact")
    StockStore.upsert(spark, root, Streaming, tickDf(100.0))
    StockStore.upsert(spark, root, Streaming, tickDf(200.0))
    val before = StockStore.table(spark, root, Streaming).collect().toSet
    val f = fs(root)
    val tp = new Path(s"$root/streaming")
    // genesis commit + one per batch
    assert(TableLog.commits(f, tp).size == 3)

    // leftover staging dir from a simulated crashed batch, plus a
    // sibling table's stage dir that must survive the sweep
    val crashedStage = new Path(s"$root/stage-streaming-deadbeef-data")
    val siblingStage = new Path(s"$root/stage-historical_intraday-live-data")
    Seq(crashedStage, siblingStage).foreach { d =>
      f.mkdirs(d); f.create(new Path(d, "part-x.parquet"), true).close()
    }

    val rows = StockStore.compact(spark, root, Streaming)
    assert(rows == before.size)
    assert(!f.exists(crashedStage), "compact's vacuum must sweep crashed staging dirs")
    assert(f.exists(siblingStage),
      "vacuum must never sweep a sibling table's in-flight stage dir")
    f.delete(siblingStage, true)
    assert(StockStore.table(spark, root, Streaming).collect().toSet == before)
    val commits = TableLog.commits(f, tp)
    assert(commits.size == 1 && commits.head.reset, s"$commits")
    // stats survive consolidation
    val inc = StockStore.incrementalStats(spark, root, Streaming).collect()
    assert(inc.head.getAs[Long]("row_count") == before.size)
  }

  test("cheap-count mode merges identically with written riding the write job") {
    val rootCheap = SparkTestSession.tempDir("tlog-cheap")
    // batch 2 overlaps batch 1 (dups + a conflict) to exercise the merge
    val b1 = tickDf(100.0)
    val b2 = tickDf(100.0).unionAll(tickDf(300.0))
    val s1 = StockStore.upsert(spark, rootCheap, Streaming, b1)
    val s2 = StockStore.upsert(spark, rootCheap, Streaming, b2)
    assert(s1.written == 3 && s2.written == 3, s"$s1 / $s2")
    // observation-riding diagnostics equal the counts the retired
    // full-count mode's separate actions returned on this fixture
    assert(s1 == StockStore.UpsertStats(3, 3, 0, 0, 0), s"full-count stats: $s1")
    assert(s2 == StockStore.UpsertStats(6, 3, 3, 0, 3), s"full-count stats: $s2")
    def rows(r: String) = StockStore.table(spark, r, Streaming)
      .select("ticker", "timestamp", "price", "volume", "version").collect()
      .map(_.toString).toSet
    // every stored column, as the full-count mode wrote it on this
    // fixture: the version-2 rows reuse the version-1 keys
    assert(rows(rootCheap) == Set(
      "[SPY,2025-09-11 20:45:32.85,100.0,5,1]",
      "[SPY,2025-09-11 20:45:33.85,101.0,5,1]",
      "[SPY,2025-09-11 20:45:34.85,102.0,5,1]",
      "[SPY,2025-09-11 20:45:32.85,300.0,5,2]",
      "[SPY,2025-09-11 20:45:33.85,301.0,5,2]",
      "[SPY,2025-09-11 20:45:34.85,302.0,5,2]"), "the full-count mode's merge")
    def inc(r: String) = StockStore.incrementalStats(spark, r, Streaming)
      .collect().map(x => x.getAs[String]("ticker") -> x.getAs[Long]("row_count")).toMap
    assert(inc(rootCheap) == Map("SPY" -> 6L), "the full-count mode's stats log")
    // replaying commits nothing (written == 0 → no manifest)
    val f = fs(rootCheap)
    val nCommits = TableLog.commits(f, new Path(s"$rootCheap/streaming")).size
    val s3 = StockStore.upsert(spark, rootCheap, Streaming, b2)
    assert(s3 == StockStore.UpsertStats(6, 0, 6, 0, 0), s"$s3")
    assert(TableLog.commits(f, new Path(s"$rootCheap/streaming")).size == nCommits,
      "empty merge must not publish a commit")
  }

  test("cheap-count mode still fails a batch with null index columns (A6)") {
    val root = SparkTestSession.tempDir("tlog-cheap-strict")
    import spark.implicits._
    val bad = tickDf(100.0).unionAll(
      Seq((null.asInstanceOf[String], new java.sql.Timestamp(1757623532850L), 1.0, 1L))
        .toDF("ticker", "timestamp", "price", "volume"))
    val e = intercept[Exception] {
      StockStore.upsert(spark, root, Streaming, bad)
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${msgs(t.getCause)}"
    assert(msgs(e).contains("null index columns"), msgs(e))
    // the failed batch must not have committed anything
    assert(TableLog.commits(fs(root), new Path(s"$root/streaming")).isEmpty)
  }

  test("publish is exclusive: concurrent publishers never overwrite a commit") {
    val root = SparkTestSession.tempDir("tlog-race")
    val tp = new Path(s"$root/t")
    val f = fs(root)
    val n = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (0 until n).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = TableLog.publish(f, tp, Seq(s"file-$i.parquet"), Nil)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val commits = TableLog.commits(f, tp)
    assert(commits.size == n, s"expected $n commits, got ${commits.size}")
    assert(commits.map(_.id).distinct.size == n)
    assert(commits.flatMap(_.dataFiles).toSet ==
      (0 until n).map(i => s"file-$i.parquet").toSet,
      "every published manifest must survive — none silently overwritten")
  }

  test("manifest-store seam: second put on a key loses and leaves the winner intact") {
    // contract check for BOTH implementations: the loser reports false
    // and the committed bytes stay exactly the winner's
    for ((store, tag) <- Seq(
        (graft.store.ManifestStore.ExclusiveCreate, "excl"),
        (new graft.store.ManifestStore.ConditionalPutStub, "condput"))) {
      val root = SparkTestSession.tempDir(s"tlog-seam-$tag")
      val f = fs(root)
      val key = new Path(s"$root/_commits/00000000000000000000.commit")
      f.mkdirs(key.getParent)
      assert(store.putIfAbsent(f, key, "winner".getBytes("UTF-8")), s"$tag: first put wins")
      assert(!store.putIfAbsent(f, key, "loser".getBytes("UTF-8")), s"$tag: second put loses")
      val in = f.open(key)
      val buf = new Array[Byte](64)
      val n = in.read(buf); in.close()
      assert(new String(buf, 0, n, "UTF-8") == "winner",
        s"$tag: a lost put must leave the committed object untouched")
    }
  }

  test("conditional-put stub: racers on ONE key produce exactly one whole winner") {
    // the object-store contract the production SDK call provides
    // server-side: n concurrent puts at the same key -> one true, the
    // object appears atomically with the winner's complete content, and
    // no .tmp stage files leak
    val root = SparkTestSession.tempDir("tlog-seam-race")
    val f = fs(root)
    val store = new graft.store.ManifestStore.ConditionalPutStub
    val key = new Path(s"$root/_commits/00000000000000000007.commit")
    f.mkdirs(key.getParent)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val wins = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            store.putIfAbsent(f, key, s"body-$i-end".getBytes("UTF-8"))
        })
      }.count(_.get())
      assert(wins == 1, s"exactly one racer must win, got $wins")
    } finally pool.shutdown()
    val body = {
      val in = f.open(key); val buf = new Array[Byte](64)
      val n = in.read(buf); in.close(); new String(buf, 0, n, "UTF-8")
    }
    assert(body.startsWith("body-") && body.endsWith("-end"),
      s"winner's content must be complete, got '$body'")
    assert(!f.listStatus(key.getParent).map(_.getPath.getName)
      .exists(_.startsWith(".tmp-put-")), "losers must clean their stage files")
  }

  test("publish races through the conditional-put seam like through exclusive create") {
    val root = SparkTestSession.tempDir("tlog-seam-publish")
    val tp = new Path(s"$root/t")
    val f = fs(root)
    val store = new graft.store.ManifestStore.ConditionalPutStub
    val n = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (0 until n).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            TableLog.publish(f, tp, Seq(s"file-$i.parquet"), Nil, store = store)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val commits = TableLog.commits(f, tp)
    assert(commits.size == n && commits.map(_.id).distinct.size == n)
    assert(commits.flatMap(_.dataFiles).toSet ==
      (0 until n).map(i => s"file-$i.parquet").toSet,
      "no manifest silently overwritten through the seam")
  }

  test("vacuum reclaims crashed conditional-put stage files") {
    val root = SparkTestSession.tempDir("tlog-seam-vacuum")
    val tp = new Path(s"$root/t")
    val f = fs(root)
    TableLog.publish(f, tp, Seq("a.parquet"), Nil)
    // crash simulation: a put that died between stage write and rename
    val orphan = new Path(new Path(tp, "_commits"), ".tmp-put-dead-writer")
    val out = f.create(orphan, false); out.write("torn".getBytes("UTF-8")); out.close()
    TableLog.vacuum(f, tp)
    assert(!f.exists(orphan), "crashed stage file must be reclaimed")
    assert(TableLog.effective(f, tp)._1 == Seq("a.parquet"), "commit untouched")
  }

  test("a torn manifest is invisible, never reuses its id, and vacuum reclaims it") {
    val root = SparkTestSession.tempDir("tlog-torn")
    val tp = new Path(s"$root/t")
    val f = fs(root)
    val id0 = TableLog.publish(f, tp, Seq("a.parquet"), Nil)
    // crash simulation: manifest created but the writer died before the
    // end sentinel was written
    val torn = new Path(new Path(tp, "_commits"), f"${id0 + 1}%020d.commit")
    val out = f.create(torn, false)
    out.write("graft-commit-v1\ndata\tb.parquet\n".getBytes("UTF-8")); out.close()
    assert(TableLog.commits(f, tp).map(_.id) == Seq(id0), "torn manifest must be skipped")
    assert(TableLog.effective(f, tp)._1 == Seq("a.parquet"))
    // the torn file's NAME still occupies its id — the next publish goes past it
    val id2 = TableLog.publish(f, tp, Seq("c.parquet"), Nil)
    assert(id2 == id0 + 2, "a torn id must never be reused")
    TableLog.vacuum(f, tp)
    assert(!f.exists(torn), "vacuum reclaims torn manifests")
    assert(TableLog.commits(f, tp).map(_.id) == Seq(id0, id2))
  }

  test("concurrent upserts to one table serialize: no dup payloads, consistent versions") {
    val root = SparkTestSession.tempDir("tlog-concurrent-upsert")
    val b1 = tickDf(100.0)
    val b2 = tickDf(100.0).unionAll(tickDf(300.0)) // overlaps b1 exactly on keys
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      Seq(b1, b2).map { b =>
        pool.submit(new Runnable {
          def run(): Unit = { StockStore.upsert(spark, root, Streaming, b); () }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val rows = StockStore.table(spark, root, Streaming)
      .select("ticker", "timestamp", "price", "volume", "version").collect()
    val payloads = rows.map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3)))
    assert(payloads.length == payloads.distinct.length,
      "concurrent upserts must not write duplicate (index, payload) rows")
    assert(rows.length == 6, s"expected 3 keys x 2 versions, got ${rows.length}")
    rows.groupBy(r => (r.getString(0), r.getTimestamp(1))).foreach { case (k, rs) =>
      assert(rs.map(_.getInt(4)).sorted.toSeq == (1 to rs.length), s"versions broken for $k")
    }
  }

  test("manifest checkpoint squashes the log without touching data") {
    val root = SparkTestSession.tempDir("tlog-squash")
    (0 until 4).foreach(i => StockStore.upsert(spark, root, Streaming, tickDf(100.0 + 10 * i)))
    val f = fs(root)
    val tp = new Path(s"$root/streaming")
    val before = StockStore.table(spark, root, Streaming).collect().toSet
    val filesBefore = TableLog.effective(f, tp)._1.toSet
    assert(TableLog.commits(f, tp).size == 5) // genesis + 4 batches

    assert(TableLog.checkpoint(f, tp) >= 0)
    val squashed = TableLog.commits(f, tp)
    assert(squashed.last.reset, "squash must be a reset commit")
    assert(TableLog.effectiveFrom(squashed)._1.toSet == filesBefore,
      "a squash references exactly the same data files — nothing moves")
    TableLog.vacuum(f, tp)
    assert(TableLog.commits(f, tp).size == 1, "vacuum prunes superseded manifests")
    assert(StockStore.table(spark, root, Streaming).collect().toSet == before)
    // the stats lines survive the squash
    val inc = StockStore.incrementalStats(spark, root, Streaming).collect()
    assert(inc.head.getAs[Long]("row_count") == before.size)
    // idempotent: nothing further to squash
    assert(TableLog.checkpoint(f, tp) == -1L)
  }

  test("maybeCheckpoint fires at the cadence and keeps listing bounded") {
    val root = SparkTestSession.tempDir("tlog-cadence")
    val f = fs(root)
    val tp = new Path(s"$root/t")
    (0 until 3).foreach(i => TableLog.publish(f, tp, Seq(s"f$i.parquet"), Nil))
    assert(TableLog.maybeCheckpoint(f, tp, every = 4) < 0, "below cadence: no squash")
    TableLog.publish(f, tp, Seq("f3.parquet"), Nil)
    assert(TableLog.maybeCheckpoint(f, tp, every = 4) >= 0)
    assert(TableLog.effective(f, tp)._1.toSet ==
      (0 until 4).map(i => s"f$i.parquet").toSet)
    TableLog.vacuum(f, tp)
    assert(TableLog.commits(f, tp).size == 1)
  }

  test("time travel: tableAt reproduces each commit's snapshot exactly") {
    val root = SparkTestSession.tempDir("tlog-travel")
    StockStore.upsert(spark, root, Streaming, tickDf(100.0))
    StockStore.upsert(spark, root, Streaming, tickDf(200.0))
    StockStore.upsert(spark, root, Streaming, tickDf(300.0))
    val ids = StockStore.commitIds(spark, root, Streaming)
    assert(ids.size == 4) // genesis + 3 batches

    def prices(df: org.apache.spark.sql.DataFrame): Set[Double] =
      df.select("price").collect().map(_.getDouble(0)).toSet
    val all = Set(100.0, 101.0, 102.0, 200.0, 201.0, 202.0, 300.0, 301.0, 302.0)

    assert(prices(StockStore.tableAt(spark, root, Streaming, ids(0))).isEmpty,
      "genesis snapshot of a fresh table is empty")
    assert(prices(StockStore.tableAt(spark, root, Streaming, ids(1))) ==
      Set(100.0, 101.0, 102.0), "snapshot after batch 1")
    assert(prices(StockStore.tableAt(spark, root, Streaming, ids(2))) ==
      Set(100.0, 101.0, 102.0, 200.0, 201.0, 202.0), "snapshot after batch 2")
    assert(prices(StockStore.tableAt(spark, root, Streaming, ids(3))) == all)
    assert(prices(StockStore.table(spark, root, Streaming)) == all,
      "current read unaffected")
    intercept[IllegalArgumentException](
      StockStore.tableAt(spark, root, Streaming, 999L))

    // the read API pins the same snapshot (range/sort/localize unchanged)
    val viaApi = graft.read.ReadApi.read(spark, root, graft.read.ReadApi.ReadRequest(
      Streaming, "SPY", start = "2025-09-10 00:00", end = "2025-09-13 23:59",
      asOfCommit = Some(ids(1))))
    assert(prices(viaApi) == Set(100.0, 101.0, 102.0),
      "ReadApi asOfCommit reads the pinned snapshot")

    // a reset (compaction) + vacuum collapses history: only the reset
    // snapshot remains pinnable
    StockStore.compact(spark, root, Streaming)
    val after = StockStore.commitIds(spark, root, Streaming)
    assert(after.size == 1)
    assert(prices(StockStore.tableAt(spark, root, Streaming, after.head)) == all)
  }

  test("an orphan file in a partition directory is invisible to every manifest read, and vacuum deletes it") {
    val root = SparkTestSession.tempDir("tlog-inplace-orphan")
    StockStore.upsert(spark, root, Streaming, tickDf(100.0))
    StockStore.upsert(spark, root, Streaming, tickDf(200.0))
    val f = fs(root)
    val tp = new Path(s"$root/streaming")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("ticker", "timestamp", "price", "volume", "version").collect().map(_.toString).toSet
    val req = ReadApi.ReadRequest(Streaming, "SPY", None, "2025-09-11 00:00", "2025-09-11 23:59")
    val lastId = StockStore.commitIds(spark, root, Streaming).last
    val before = rows(StockStore.table(spark, root, Streaming))
    val viaApi = rows(ReadApi.read(spark, root, req))
    val stats = StockStore.incrementalStats(spark, root, Streaming).collect().toSet
    assert(before.size == 6 && viaApi == before)

    // a write that died before its publish: data files in the table's
    // own partition directories, on no manifest line
    val orphanData = InPlaceWrite.parquet(StockStore.table(spark, root, Streaming)
      .withColumn("price", col("price") + 1000.0), tp, Seq("ticker", "y", "m", "d"))
    val orphans = orphanData.map(new Path(tp, _))
    assert(orphanData.nonEmpty && orphanData.forall(_.startsWith("ticker=SPY/y=2025/m=9/d=11/")))
    assert(orphans.forall(f.exists), s"$orphans")

    assert(rows(StockStore.table(spark, root, Streaming)) == before)
    assert(rows(StockStore.tableAt(spark, root, Streaming, lastId)) == before)
    assert(rows(ReadApi.read(spark, root, req)) == viaApi)
    assert(StockStore.incrementalStats(spark, root, Streaming).collect().toSet == stats)

    assert(TableLog.vacuum(f, tp) == orphans.size)
    assert(!orphans.exists(f.exists), "vacuum deletes every orphan")
    assert(rows(StockStore.table(spark, root, Streaming)) == before)
  }

  test("legacy plain-append tables fold into the first commit") {
    val root = SparkTestSession.tempDir("tlog-legacy")
    // simulate a table written before the commit log existed
    import spark.implicits._
    val legacy = Seq(("SPY", java.sql.Date.valueOf("2024-01-02"), 100.0, 101.0, 99.0, 100.5, 100.2, 10L, "d", 1, 2024))
      .toDF("ticker", "date", "open", "high", "low", "close", "adjusted_close", "volume", "interval", "version", "y")
    legacy.write.partitionBy("ticker", "y").parquet(s"$root/historical_interday")

    val b = EodhdTransform.interdayBars(
      Seq("""{"date": "2024-01-03", "open": 101.0, "high": 102.0, "low": 100.0, "close": 101.5, "adjusted_close": 101.2, "volume": 11}""")
        .toDF("raw").withColumn("ticker", lit("SPY")), "d")
    StockStore.upsert(spark, root, HistoricalInterday, b)

    val dates = StockStore.table(spark, root, HistoricalInterday)
      .select(col("date").cast("string")).as[String].collect().toSet
    assert(dates == Set("2024-01-02", "2024-01-03"),
      "first commit must fold pre-manifest files in")
  }
}
