package graft.store

import graft.SparkTestSession
import graft.jobs.Commands
import graft.jobs.Commands.HistoricalCommand
import graft.model.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** [[StockStore.upsert]] is the store's one write path: backfills and
  * micro-batches take the same jobs, its stats are exact observations,
  * and the touched-partition set that prunes its read-back is capped
  * inside the aggregate. */
class UpsertPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import StockStore.UpsertStats

  private val t0 = 1757623532850L

  /** One trade per (ticker, i) at `t0 + i` seconds. */
  private def ticks(tickers: Seq[String], n: Int, price: Double): DataFrame = {
    import spark.implicits._
    (for (t <- tickers; i <- 0 until n)
      yield (t, new java.sql.Timestamp(t0 + i * 1000L), price + i, 5L))
      .toDF("ticker", "timestamp", "price", "volume")
  }

  private def rows(root: String): Set[String] =
    StockStore.table(spark, root, Streaming)
      .select("ticker", "timestamp", "price", "volume", "version")
      .collect().map(_.toString).toSet

  private object Plans extends AdaptiveSparkPlanHelper {
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = flatMap(p) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
      case _ => Nil
    }
  }

  /** The partition filters of every file scan the upsert's merge ran
    * (the "merge + pin output" step, a localCheckpoint). */
  private def mergeScanFilters(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "localCheckpoint") Plans.fileScans(qe.executedPlan)
          .foreach(s => seen.add(s.partitionFilters.mkString(" AND ")))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      GraftBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[String]).toSeq
  }

  test("the touched-tuple set returns nothing past its cap, and the prune then degrades to None") {
    val cap = StockStore.MaxPrunedPartitions
    def collected(n: Int): Any = {
      val o = org.apache.spark.sql.Observation()
      spark.range(n).toDF("ticker")
        .observe(o, graft.functions.AggFunctions.collectSetCapped(
          StockStore.partitionHash(Seq(col("ticker"))), cap).as("tuples"))
        .write.format("noop").mode("overwrite").save()
      o.get("tuples")
    }
    collected(cap) match {
      case hs: scala.collection.Seq[_] => assert(hs.distinct.size == cap)
      case other => fail(s"at the cap the set must be collected, got $other")
    }
    assert(collected(cap + 1) == null, "past the cap the aggregate must return nothing")
    assert(StockStore.partitionPrune(Seq("ticker", "y"), null).isEmpty)
    assert(StockStore.partitionPrune(Seq("ticker", "y"), Seq(1L, 2L)).isDefined)
  }

  /** Commits one copy of a one-row file (`t0`, price 10.0, volume 5,
    * version 1) under each of `tickers`' partition for `t0`'s New York
    * day, as one manifest: the store an upsert of `ticks(tickers, 1,
    * 10.0)` would have written, built without a Spark write per
    * partition (each one forks several permission calls on the local
    * FS). */
  private def commitOneRowPartitions(root: String, tickers: Seq[String]): Unit = {
    import spark.implicits._
    val template = SparkTestSession.tempDir("upsert-template")
    Seq((new java.sql.Timestamp(t0), 10.0, 5L, 1)).toDF("timestamp", "price", "volume", "version")
      .coalesce(1).write.mode("overwrite").parquet(template)
    val file = new java.io.File(template).listFiles().filter(_.getName.endsWith(".parquet")).head
    val rels = tickers.map { t =>
      val rel = s"ticker=$t/y=2025/m=9/d=11/${file.getName}"
      val dest = java.nio.file.Paths.get(s"$root/streaming/$rel")
      java.nio.file.Files.createDirectories(dest.getParent)
      java.nio.file.Files.copy(file.toPath, dest)
      rel
    }
    val tp = new org.apache.hadoop.fs.Path(s"$root/streaming")
    TableLog.publish(tp.getFileSystem(spark.sparkContext.hadoopConfiguration), tp, rels, Nil)
  }

  test("a merge past the tuple cap reads back unpruned and equals the pruned merge") {
    val spy1 = ticks(Seq("SPY"), 3, 100.0)
    // exact dups of spy1 plus a changed payload on the same keys
    val spy2 = spy1.unionAll(ticks(Seq("SPY"), 3, 300.0))
    val fillerTickers = (0 to StockStore.MaxPrunedPartitions).map(i => f"F$i%04d")

    val pruned = SparkTestSession.tempDir("upsert-pruned")
    StockStore.upsert(spark, pruned, Streaming, spy1)
    var prunedStats: UpsertStats = null
    val prunedFilters = mergeScanFilters {
      prunedStats = StockStore.upsert(spark, pruned, Streaming, spy2)
    }
    assert(prunedFilters.nonEmpty && prunedFilters.forall(_.contains("xxhash64")),
      s"a batch under the cap prunes its read-back: $prunedFilters")
    assert(prunedStats == UpsertStats(6, 3, 3, 0, 3), s"$prunedStats")

    // the same two batches, the second carrying exact copies of one-row
    // partitions already stored: its touched set passes the cap
    val degraded = SparkTestSession.tempDir("upsert-degraded")
    StockStore.upsert(spark, degraded, Streaming, spy1)
    commitOneRowPartitions(degraded, fillerTickers)
    var degradedStats: UpsertStats = null
    val degradedFilters = mergeScanFilters {
      degradedStats = StockStore.upsert(spark, degraded, Streaming,
        spy2.unionAll(ticks(fillerTickers, 1, 10.0)))
    }
    assert(degradedFilters.nonEmpty && degradedFilters.forall(!_.contains("xxhash64")),
      s"a batch past the cap reads every partition back: $degradedFilters")
    val fillerN = fillerTickers.size.toLong
    assert(degradedStats == UpsertStats(6 + fillerN, 3, 3 + fillerN, 0, 3), s"$degradedStats")
    val spyRows = StockStore.table(spark, degraded, Streaming).where(col("ticker") === "SPY")
      .select("ticker", "timestamp", "price", "volume", "version").collect().map(_.toString).toSet
    assert(spyRows == rows(pruned), "same rows and versions with and without the prune")
  }

  test("exact stats for batches that write nothing") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("upsert-nothing")
    val b = ticks(Seq("SPY"), 2, 100.0)
    assert(StockStore.upsert(spark, root, Streaming, b) == UpsertStats(2, 2, 0, 0, 0))
    val allNull = Seq(("SPY", new java.sql.Timestamp(t0), Option.empty[Double], Option.empty[Long]))
      .toDF("ticker", "timestamp", "price", "volume")
    assert(StockStore.upsert(spark, root, Streaming, allNull) == UpsertStats(1, 0, 0, 1, 0))
    assert(StockStore.upsert(spark, root, Streaming, b.limit(0)) == UpsertStats(0, 0, 0, 0, 0))
    // no partitions at all, as a streaming source hands an empty trigger
    val noPartitions = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b.schema)
    assert(StockStore.upsert(spark, root, Streaming, noPartitions) == UpsertStats(0, 0, 0, 0, 0))
    assert(StockStore.upsert(spark, root, Streaming, b.unionAll(b)) == UpsertStats(4, 0, 2, 0, 0))
    assert(rows(root).size == 2)
  }

  test("a historical command's upsert runs the merge's jobs and no count or probe action") {
    val page = Seq(
      """{"date": "2024-10-24", "open": 533.1, "high": 536.0, "low": 531.0, "close": 534.0, "adjusted_close": 529.0, "volume": 4100000}""",
      """{"date": "2024-10-25", "open": 534.65, "high": 537.26, "low": 531.41, "close": 532.26, "adjusted_close": 527.10, "volume": 4327190}""")
    val cmd = HistoricalCommand("SPY", "US", "d", "2024-10-24", "2024-10-25")
    // codegen and first-use work stays out of the counted runs
    Commands.runHistorical(spark, SparkTestSession.tempDir("cmd-jobs-warm"), cmd)(_ => page)
    val root = SparkTestSession.tempDir("cmd-jobs")
    val (first, firstJobs) = SparkTestSession.jobsDuring(
      Commands.runHistorical(spark, root, cmd)(_ => page))
    val (replay, replayJobs) = SparkTestSession.jobsDuring(
      Commands.runHistorical(spark, root, cmd)(_ => page))
    assert(first == UpsertStats(2, 2, 0, 0, 0) && replay == UpsertStats(2, 0, 2, 0, 0))
    // the retired full-count mode started 19 and 21 jobs here, the join
    // merge with its staged write 10 and 12, and the stats-log write 7
    // and 6
    assert((firstJobs, replayJobs) == ((6, 6)), s"jobs: first $firstJobs, replay $replayJobs")
  }

  test("an upsert's stats ride its data write: no stats job, no thread, no stats tree") {
    val sc = spark.sparkContext
    // codegen and first-use work stays out of the counted runs
    val warm = SparkTestSession.tempDir("upsert-stats-warm")
    StockStore.upsert(spark, warm, Streaming, ticks(Seq("SPY", "QQQ"), 3, 100.0))
    StockStore.upsert(spark, warm, Streaming, ticks(Seq("SPY", "QQQ"), 3, 200.0))
    val root = SparkTestSession.tempDir("upsert-stats")
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Thread.getAllStackTraces.keySet.forEach(t => threads.add(t.getName))
    }
    sc.addSparkListener(listener)
    val (fresh, freshJobs) = try SparkTestSession.jobsDuring(
      StockStore.upsert(spark, root, Streaming, ticks(Seq("SPY", "QQQ"), 3, 100.0)))
      finally GraftBridge.drainListenerBus(sc)
    val (existing, existingJobs) = try SparkTestSession.jobsDuring(
      StockStore.upsert(spark, root, Streaming, ticks(Seq("SPY", "QQQ"), 3, 200.0)))
      finally { GraftBridge.drainListenerBus(sc); sc.removeSparkListener(listener) }
    assert(fresh.written == 6 && existing.written == 6, s"$fresh / $existing")
    // the labelled steps' jobs, plus the footer-schema job of the
    // existing table's first read; the stats-log write ran one more each
    assert((freshJobs, existingJobs) == ((6, 7)), s"jobs: fresh $freshJobs, existing $existingJobs")
    assert(!threads.toArray.exists(_.toString.startsWith("upsert-")),
      s"an upsert job ran beside a thread of the upsert's own")
    assert(!new java.io.File(root).list().exists(_.contains("__stats")),
      new java.io.File(root).list().toSeq)

    // every committed file carries its stats, so folding them reads none
    val tp = new org.apache.hadoop.fs.Path(s"$root/streaming")
    val (data, lines) = TableLog.effectiveFrom(TableLog.commits(ManifestTable.fs(spark, tp), tp))
    assert(data.size == 4 && lines.map(_.file).toSet == data.toSet, s"$data / $lines")
    val (stats, statsJobs) = SparkTestSession.jobsDuring(
      StockStore.incrementalStats(spark, root, Streaming).collect())
    assert(statsJobs == 0, s"incremental stats started $statsJobs job(s)")
    assert(stats.map(r => r.getString(0) -> r.getLong(1)).toSet == Set("SPY" -> 6L, "QQQ" -> 6L))
  }
}
