package graft

import graft.model.Streaming
import graft.store.StockStore
import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming ingest E2E (SURVEY §3.2): memory-source frames →
  * transform → foreachBatch versioned upsert; replay is idempotent (A13).
  * The memory source stands in for the WebSocket bridge — same contract:
  * a streaming DataFrame of raw JSON frames. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("stream ingest: control frames dropped, ticks stored, replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = SparkTestSession.tempDir("stream")
    val ckpt = SparkTestSession.tempDir("ckpt")

    val source = MemoryStream[String]
    val frames = source.toDF().select($"value".as("raw"))

    val q = StreamIngest.start(spark, frames, "trades", root, ckpt,
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      source.addData(
        """{"status_code": 200, "message": "Authorized"}""",
        """{"s": "SPY", "p": 657.53, "v": 5, "t": 1757623532850}""",
        """{"s": "SPY", "p": 657.60, "v": 3, "t": 1757623533850}""",
        """garbage frame""")
      q.processAllAvailable()
      assert(StockStore.table(spark, root, Streaming).count() == 2)

      // duplicate delivery (the reference's XAUTOCLAIM redelivery path)
      source.addData("""{"s": "SPY", "p": 657.53, "v": 5, "t": 1757623532850}""")
      q.processAllAvailable()
      assert(StockStore.table(spark, root, Streaming).count() == 2, "redelivered tick must dedup")

      // changed payload at same ts → version 2, not overwrite
      source.addData("""{"s": "SPY", "p": 657.99, "v": 5, "t": 1757623532850}""")
      q.processAllAvailable()
      val rows = StockStore.table(spark, root, Streaming)
      assert(rows.count() == 3)
      assert(rows.agg(max("version")).head().getInt(0) == 2)
    } finally q.stop()
  }

  test("stateful versioned dedup (flatMapGroupsWithState): dups dropped, conflicts versioned") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val ticks = graft.transform.EodhdTransform.tradeTicks(
      source.toDF().select($"value".as("raw")))
    val out = StreamIngest.statefulVersionedTrades(ticks)
    val q = out.toDF().writeStream.outputMode("append")
      .format("memory").queryName("versioned_out").start()
    try {
      val t = 1757623532850L
      source.addData(
        s"""{"s": "SPY", "p": 657.53, "v": 5, "t": $t}""",
        s"""{"s": "SPY", "p": 657.53, "v": 5, "t": $t}""", // exact dup in-batch
        s"""{"s": "VOO", "p": 512.10, "v": 2, "t": $t}""")
      q.processAllAvailable()
      // redelivery across batches (reference XAUTOCLAIM path) → still dup
      source.addData(s"""{"s": "SPY", "p": 657.53, "v": 5, "t": $t}""")
      q.processAllAvailable()
      // changed payload at same (ticker, ts) → version 2
      source.addData(s"""{"s": "SPY", "p": 657.99, "v": 5, "t": $t}""")
      q.processAllAvailable()

      val rows = spark.sql("SELECT ticker, price, version FROM versioned_out").collect()
      assert(rows.length == 3, s"got ${rows.mkString(";")}")
      val spy = rows.filter(_.getString(0) == "SPY").sortBy(_.getInt(2))
      assert(spy.map(r => (r.getDouble(1), r.getInt(2))).toSeq ==
        Seq((657.53, 1), (657.99, 2)))
      assert(rows.count(_.getString(0) == "VOO") == 1)
    } finally q.stop()
  }

  test("stream-stream interval join: purchase matches click within horizon, state-bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val left = clicks.toDF().toDF("click_id", "user_id", "cts")
    val right = purchases.toDF().toDF("purchase_id", "p_user_id", "pts")
    val joined = StreamIngest.intervalJoinStreams(
      left, "cts", right, "pts", "10 minutes",
      col("user_id") === col("p_user_id") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("interval 30 minutes"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("sj_out").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
      clicks.addData((1L, 7L, ts(0)), (2L, 8L, ts(0)))
      purchases.addData((100L, 7L, ts(5)))   // within 30 min of click 1
      purchases.addData((101L, 7L, ts(45)))  // outside horizon
      purchases.addData((102L, 9L, ts(5)))   // no matching click user
      q.processAllAvailable()
      val rows = spark.sql("SELECT click_id, purchase_id FROM sj_out").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: unmatched click emitted with nulls after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val left = clicks.toDF().toDF("click_id", "user_id", "cts")
    val right = purchases.toDF().toDF("purchase_id", "p_user_id", "pts")
    val joined = StreamIngest.intervalJoinStreams(
      left, "cts", right, "pts", "10 minutes",
      col("user_id") === col("p_user_id") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("interval 30 minutes"),
      joinType = "leftOuter")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("soj_out").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
      clicks.addData((1L, 7L, ts(0)), (2L, 8L, ts(0)))
      purchases.addData((100L, 7L, ts(5))) // click 1 converts; click 2 never does
      q.processAllAvailable()
      // push BOTH watermarks past click 2's 30-min horizon so its state
      // row is finalized and the unmatched emission fires
      clicks.addData((99L, 1L, ts(120)))
      purchases.addData((999L, 1L, ts(120)))
      q.processAllAvailable()
      clicks.addData((98L, 1L, ts(240)))
      purchases.addData((998L, 1L, ts(240)))
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, purchase_id FROM soj_out WHERE click_id = 2").collect()
      assert(got.length == 1 && got(0).isNullAt(1),
        s"click 2 must emit exactly once with NULL purchase after the watermark, got ${got.mkString}")
      val matched = spark.sql("SELECT purchase_id FROM soj_out WHERE click_id = 1").collect()
      assert(matched.map(_.getLong(0)).toSet == Set(100L))
    } finally q.stop()
  }

  test("stream-static enrichment: dim broadcast joins each micro-batch, no drops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val stream = source.toDF().toDF("user_id", "event_type")
    val dim = Seq((7L, "AUTOMOBILE"), (8L, "BUILDING"))
      .toDF("c_custkey", "c_mktsegment")
    val out = StreamIngest.enrichWithDim(
      stream, dim, col("user_id") === col("c_custkey"))
      .select(col("user_id"), col("event_type"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("en_out").start()
    try {
      source.addData((7L, "click"), (9L, "view"))
      q.processAllAvailable()
      source.addData((8L, "click"))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, segment FROM en_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // matched users enrich; unmatched user 9 still flows as UNKNOWN
      assert(got == Set((7L, "AUTOMOBILE"), (9L, "UNKNOWN"), (8L, "BUILDING")))
    } finally q.stop()
  }

  test("streaming LM quality gate: frozen KN model admits in-domain, rejects junk") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Freeze the LM on a tiny trusted corpus (KnLmSpec's hand corpus);
    // the stream then carries one in-domain doc (avg 100 centibits) and
    // one out-of-domain doc (avg 300) per KnLmSpec's hand computation.
    val trusted = Seq((0L, "a b a b a c"), (1L, "b a b d")).toDF("doc_id", "text")
    val model = graft.lm.KnBigramLm.train(
      graft.lm.KnBigramLm.bigrams(trusted, "doc_id", "text"))
    val admitted = scala.collection.mutable.Set.empty[Long]
    val rejected = scala.collection.mutable.Set.empty[Long]
    val source = MemoryStream[(Long, String)]
    val docs = source.toDF().toDF("doc_id", "text")
    val q = StreamIngest.qualityGate(docs, model, gateBitsX100 = 200L) {
      (adm, rej, _) =>
        admitted ++= adm.select("doc_id").collect().map(_.getLong(0))
        rejected ++= rej.select("doc_id").collect().map(_.getLong(0))
    }.start()
    try {
      source.addData((10L, "a b a b"), (11L, "x y z w"))
      q.processAllAvailable()
      // doc 13 has <2 tokens → no bigrams → unscorable → fails closed
      source.addData((12L, "b a b a c"), (13L, "a"))
      q.processAllAvailable()
      assert(admitted.toSet == Set(10L, 12L), s"admitted=$admitted")
      assert(rejected.toSet == Set(11L, 13L), s"rejected=$rejected")
    } finally q.stop()
  }

  test("order-n streaming gate (n=3): trigram model admits in-domain, rejects junk") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val trusted = Seq((0L, "a b a b a c"), (1L, "b a b d")).toDF("doc_id", "text")
    val model = graft.lm.KnNgramLm.train(
      graft.lm.KnNgramLm.ngrams(trusted, "doc_id", "text", 3), 3)
    val admitted = scala.collection.mutable.Set.empty[Long]
    val rejected = scala.collection.mutable.Set.empty[Long]
    val source = MemoryStream[(Long, String)]
    val docs = source.toDF().toDF("doc_id", "text")
    val q = StreamIngest.qualityGateN(docs, model, gateBitsX100 = 300L) {
      (adm, rej, _) =>
        admitted ++= adm.select("doc_id").collect().map(_.getLong(0))
        rejected ++= rej.select("doc_id").collect().map(_.getLong(0))
    }.start()
    try {
      // 20: all-seen trigrams; 21: junk vocab; 22: <3 tokens (unscorable)
      source.addData((20L, "a b a b a c"), (21L, "x y z w v"), (22L, "a b"))
      q.processAllAvailable()
      assert(admitted.toSet == Set(20L), s"admitted=$admitted")
      assert(rejected.toSet == Set(21L, 22L), s"rejected=$rejected")
    } finally q.stop()
  }

  test("streaming leaderboard: update-mode counts, rank re-derived per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, Long)]
    val counts = source.toDF().toDF("event_type", "user_id")
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
    // state = counts only; the leaderboard materializes driver-side from
    // update-mode emissions (same contract as a dashboard sink)
    val board = scala.collection.mutable.Map.empty[(String, Long), Long]
    val q = counts.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          board((r.getString(0), r.getLong(1))) = r.getLong(2))
      }.start()
    try {
      source.addData(("click", 1L), ("click", 1L), ("click", 2L))
      q.processAllAvailable()
      source.addData(("click", 2L), ("click", 2L), ("view", 9L))
      q.processAllAvailable()
      def top(et: String) = board.toSeq.filter(_._1._1 == et)
        .sortBy { case ((_, u), n) => (-n, u) }.map { case ((_, u), n) => (u, n) }
      // user 2 overtook user 1 across batches; view board independent
      assert(top("click") == Seq((2L, 3L), (1L, 2L)))
      assert(top("view") == Seq((9L, 1L)))
    } finally q.stop()
  }

  test("streaming CMS: per-batch cells merge by addition into the global sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val sketch = scala.collection.mutable.Map.empty[(Int, Long), Long]
    def cells(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"value").agg(count(lit(1)).as("cnt"))
      .withColumn("d", explode(sequence(lit(0), lit(3))))
      .withColumn("col", pmod(graft.functions.HashFunctions.md5Long(
        concat($"d".cast("string"), lit(":"), $"value")), lit(64L)))
      .groupBy($"d", $"col").agg(sum($"cnt").as("cell"))
    val q = source.toDF().writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        cells(batch).collect().foreach { r =>
          val k = (r.getInt(0), r.getLong(1))
          sketch(k) = sketch.getOrElse(k, 0L) + r.getLong(2)
        }
      }.start()
    try {
      source.addData("a", "b", "a")
      q.processAllAvailable()
      source.addData("b", "c")
      q.processAllAvailable()
      // the streamed sketch must equal the batch-built sketch of the
      // union — the mergeability that lets a sketch live on a firehose
      val whole = cells(Seq("a", "b", "a", "b", "c").toDF("value")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(sketch.toMap == whole)
    } finally q.stop()
  }

  test("dedupWithinWatermark: cross-batch duplicate keys dropped, first survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String, java.sql.Timestamp)]
    val rows = source.toDF().toDF("user_id", "event_type", "ts")
    val out = StreamIngest.dedupWithinWatermark(rows, "ts", "10 minutes",
      Seq("user_id", "event_type"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dd_out").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
      source.addData((1L, "click", ts(0)), (1L, "click", ts(1)), (2L, "view", ts(0)))
      q.processAllAvailable()
      // same key redelivered in a LATER micro-batch, still inside watermark
      source.addData((1L, "click", ts(2)))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, event_type, ts FROM dd_out").collect()
      assert(got.length == 2, s"got ${got.mkString(";")}")
      // first arrival survived (ts(0), not the later duplicates)
      val k1 = got.filter(_.getLong(0) == 1L).head
      assert(k1.getTimestamp(2) == ts(0))
    } finally q.stop()
  }

  test("windowed OHLC over a tick stream (watermarked)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    val ticks = graft.transform.EodhdTransform.tradeTicks(
      source.toDF().select($"value".as("raw")))
    val agg = StreamIngest.windowedOhlc(ticks, "1 minute", "5 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out").start()
    try {
      val base = 1757623500000L // aligned-ish epoch ms
      source.addData(
        s"""{"s": "SPY", "p": 100.0, "v": 1, "t": ${base + 1000}}""",
        s"""{"s": "SPY", "p": 105.0, "v": 2, "t": ${base + 20000}}""",
        s"""{"s": "SPY", "p": 95.0,  "v": 1, "t": ${base + 40000}}""",
        s"""{"s": "SPY", "p": 102.0, "v": 1, "t": ${base + 55000}}""")
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM ohlc_out").collect()
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[Double]("open") == 100.0 && r.getAs[Double]("close") == 102.0)
      assert(r.getAs[Double]("high") == 105.0 && r.getAs[Double]("low") == 95.0)
      assert(r.getAs[Long]("volume") == 5L)
    } finally q.stop()
  }

  test("windowed KLL quantile state: append-mode final sketches, KllMerge rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, java.sql.Timestamp, Long)]
    val rows = source.toDF().toDF("event_type", "ts", "cents")
    // small k so the state genuinely compacts (not just buffers raw
    // values); 1-minute windows, 2-minute watermark
    val sk = StreamIngest.windowedQuantileSketch(rows, "ts", "cents",
      Seq("event_type"), windowLen = "1 minute", watermark = "2 minutes", k = 16)
    val q = sk.writeStream.outputMode("append")
      .format("memory").queryName("kllwin_out").start()
    try {
      def ts(sec: Int) = new java.sql.Timestamp(1704067200000L + sec * 1000L)
      // window 0: 60 values 1..60; window 1: 60 values 1001..1060 —
      // spread across TWO micro-batches so the state store must carry
      // each window's compactor buffer across triggers
      source.addData((0 until 30).map(i => ("click", ts(i * 2), (i + 1).toLong)): _*)
      q.processAllAvailable()
      source.addData((30 until 60).map(i =>
        ("click", ts((i - 30) * 2 + 1), (i + 1).toLong)): _*)
      source.addData((0 until 60).map(i => ("click", ts(60 + i), 1001L + i)): _*)
      q.processAllAvailable()
      // advance the watermark far past both windows so their FINAL
      // sketches emit (append mode emits nothing until then)
      source.addData(("click", ts(600), 9999L))
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM kllwin_out ORDER BY win_start").collect()
      assert(out.length == 2, s"two finalized windows must emit, got ${out.length}")
      // n is EXACT per window (weight conservation), and with k=16 over
      // 60 rows the state must be genuinely compacted: entries < n
      out.foreach { r =>
        val skRow = r.getStruct(r.fieldIndex("sk"))
        assert(skRow.getAs[Long]("n") == 60L)
        assert(skRow.getAs[Seq[Any]]("entries").length < 60)
      }
      // roll the two window sketches up per key via graft_kll_merge and
      // check the merged median against the exact union (120 values:
      // 1..60 ++ 1001..1060; exact p50 ranks sit at the 60/61 boundary)
      graft.sql.GraftFunctions.registerAll(spark)
      val merged = spark.sql(
        """SELECT event_type, graft_kll_merge(sk, 16) AS sk
          |FROM kllwin_out GROUP BY event_type""".stripMargin)
      val m = merged.select($"sk.n",
        graft.functions.QuantileSketch.kllQuantile($"sk", 0.5)).head()
      assert(m.getLong(0) == 120L, "merged n must stay exact")
      val p50 = m.getLong(1)
      // 5%·n = 6 ranks of slack around the median boundary: the
      // estimate must come from the data's two bands, near the boundary
      assert((p50 >= 40L && p50 <= 60L) || (p50 >= 1001L && p50 <= 1020L),
        s"merged median $p50 outside the rank-error envelope")
    } finally q.stop()
  }

  test("streaming near-dup: row-local LSH sigs probe a static index per micro-batch") {
    import spark.implicits._
    import graft.dedup.MinHashLsh
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "red orange yellow green blue indigo violet ultra infra deep dark light")
    ).toDF("doc_id", "text")

    // bit-identity: the shuffle-free row-local signer must reproduce the
    // batch (explode+groupBy) index EXACTLY — that identity is what lets
    // a stream probe an index built by the batch pipeline
    val idx = MinHashLsh.bandSignatures(corpus, "doc_id", "text")
    val rowForm = MinHashLsh.withRowBandSigs(corpus, "text")
      .select($"doc_id".as("id"), posexplode($"bsig").as(Seq("band", "band_sig")))
    assert(idx.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet ==
      rowForm.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet,
      "row-local band signatures must be bit-identical to the batch index")

    val idxCached = idx.select($"id", $"band", $"band_sig").cache()
    idxCached.count()
    val probeRows = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu extra"),
      (101L, "totally different words sharing nothing with anything indexed at all here"),
      (102L, "one two three four five six seven eight nine ten eleven twelve"))

    def matchOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      MinHashLsh.withRowBandSigs(df, "text")
        .select(col("doc_id"), posexplode(col("bsig")).as(Seq("band", "band_sig")))
        .join(idxCached, Seq("band", "band_sig"), "left")
        .groupBy(col("doc_id"))
        .agg(coalesce(min(col("id")), lit(-1L)).as("first_match"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // expected from the BATCH run of the same probes — the stream must agree
    val expected = matchOf(probeRows.toDF("doc_id", "text"))
    assert(expected(102L) == 2L, "exact copy must hit its source via every band")
    assert(expected(101L) == -1L, "disjoint-shingle stranger must miss")

    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map[Long, Long]()
    val q = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got ++= matchOf(batch); ()
      }.start()
    try {
      source.addData(probeRows(0), probeRows(1))
      q.processAllAvailable()
      source.addData(probeRows(2))
      q.processAllAvailable()
      assert(got.toMap == expected,
        s"per-batch stream probe must equal the batch run: $got vs $expected")
    } finally { q.stop(); idxCached.unpersist(false) }
  }

  test("a second stream's first trigger reuses the classes the first stream compiled") {
    // Each query runs foreachBatch in its own clone of the session; the
    // sink rebinds the batch to the caller's session, whose tasks keep
    // one class loader, so the second drain finds the upsert's generated
    // classes in Spark's codegen cache (about 50 are compiled again
    // when the sink runs in the clone).
    val wal = java.nio.file.Paths.get(SparkTestSession.tempDir("cg-wal"))
    val t0 = 1751463000000L
    val frames = (0 until 200).map(i =>
      s"""{"s":"T${i % 5}","p":${100 + i % 7}.5,"v":${1 + i},"t":${t0 + i * 1000L}}""")
    java.nio.file.Files.write(wal.resolve(f"${0}%012d.seg"),
      frames.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def drain(): (Long, Long) = {
      val root = SparkTestSession.tempDir("cg-store")
      val src = spark.readStream.format("graft.sources.ws.WsSourceProvider")
        .option("walDir", wal.toString).load()
      val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      val q = StreamIngest.start(spark, src, "trades", root, SparkTestSession.tempDir("cg-ckpt"),
        trigger = Trigger.ProcessingTime(0L))
      try q.processAllAvailable() finally q.stop()
      (compiles.getCount - before, StockStore.table(spark, root, Streaming).count())
    }
    val (first, rows1) = drain()
    val (second, rows2) = drain()
    assert(rows1 == 200 && rows2 == 200)
    assert(second <= 4, s"second drain compiled $second classes (first: $first)")
  }
}
