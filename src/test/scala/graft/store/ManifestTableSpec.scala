package graft.store

import graft.SparkTestSession
import graft.corpus.CorpusStore
import graft.model.Streaming
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ManifestTable.relation]] is the one read over a commit's files: it
  * must equal what `spark.read.option("mergeSchema", "true")
  * .option("basePath", …).parquet(files)` gives over the same files —
  * schema (names, types, nullability, order), rows, and the scan a
  * range read executes — for the latest commit, an as-of commit and the
  * corpus. */
class ManifestTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val t0 = java.time.Instant.parse("2025-07-02T14:00:00Z").toEpochMilli
  private val day = 86400000L

  /** One trade per (ticker, minute) on each of `days` days from `t0Ms`. */
  private def ticks(tickers: Seq[String], t0Ms: Long, days: Int, perDay: Int,
      price: Double): DataFrame = {
    import spark.implicits._
    (for (t <- tickers; d <- 0 until days; i <- 0 until perDay)
      yield (t, new java.sql.Timestamp(t0Ms + d * day + i * 60000L), price + i, 5L))
      .toDF("ticker", "timestamp", "price", "volume")
  }

  /** What a caller would read without the layer: Spark's own relation
    * over the same committed files. */
  private def sparkRead(base: Path, rels: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").option("basePath", base.toString)
      .parquet(rels.map(new Path(base, _).toString): _*)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSame(layer: DataFrame, plain: DataFrame, what: String): Unit = {
    assert(layer.schema == plain.schema, s"$what: schema\n${layer.schema.treeString}\n" +
      plain.schema.treeString)
    assert(rows(layer) == rows(plain), s"$what: rows")
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
      collect(p) { case s: FileSourceScanExec => s }
  }

  /** The executed file scan of a `ReadApi.read`-shaped request (one
    * ticker, an event-time range) over `df`: its partition, pushed and
    * data filters, read schema and splits (each split's files and their
    * block hosts), with expression ids stripped so two relations
    * compare. */
  private def rangeScan(df: DataFrame): Seq[(String, String)] = {
    val lo = graft.functions.TimeFunctions.wallClockToUtc(lit("2025-07-03 09:00"),
      "America/New_York")
    val hi = graft.functions.TimeFunctions.wallClockToUtc(lit("2025-07-03 23:59"),
      "America/New_York")
    val q = df.filter(col("ticker") === "AAA")
      .filter(col("timestamp") >= lo && col("timestamp") <= hi)
    q.collect()
    val scans = Plans.fileScans(q.queryExecution.executedPlan)
    assert(scans.size == 1, s"${q.queryExecution.executedPlan}")
    val s = scans.head
    def strip(x: String) = x.replaceAll("#\\d+L?", "")
    val splits = s.inputRDD.partitions.map { case p: FilePartition =>
      p.files.map(f => s"${f.urlEncodedPath}@${f.start}+${f.length}:${f.locations.mkString(";")}")
        .sorted.mkString(",")
    }
    Seq("partitionFilters" -> strip(s.partitionFilters.mkString(" AND ")),
      "pushedFilters" -> strip(s.metadata("PushedFilters")),
      "dataFilters" -> strip(s.dataFilters.mkString(" AND ")),
      "readSchema" -> s.requiredSchema.catalogString,
      "splitCount" -> splits.length.toString,
      "splits" -> splits.sorted.mkString(" | "))
  }

  test("the latest and an as-of commit read as spark.read reads their files; the as-of read keeps the memo") {
    val root = SparkTestSession.tempDir("manifest-table-stock")
    val tp = new Path(s"$root/streaming")
    StockStore.upsert(spark, root, Streaming, ticks(Seq("AAA", "BBB"), t0, 2, 3, 10.0))
    val before = StockStore.commitIds(spark, root, Streaming).last
    // A10: a later commit brings a `venue` column the first one lacks
    StockStore.upsert(spark, root, Streaming,
      ticks(Seq("AAA", "CCC"), t0 + 3 * 60000L, 2, 2, 20.0).withColumn("venue", lit("X")))
    val fs = ManifestTable.fs(spark, tp)
    val all = TableLog.commits(fs, tp)

    val latest = StockStore.table(spark, root, Streaming)
    assert(latest.columns.contains("venue"))
    assertSame(latest, sparkRead(tp, TableLog.effectiveFrom(all)._1), "latest commit")
    assert(rangeScan(latest) == rangeScan(sparkRead(tp, TableLog.effectiveFrom(all)._1)),
      "latest commit: range scan")

    val asOf = StockStore.tableAt(spark, root, Streaming, before)
    assert(!asOf.columns.contains("venue"))
    assertSame(asOf, sparkRead(tp, TableLog.effectiveAt(all, before)._1), "as-of commit")
    assert(rangeScan(asOf) == rangeScan(sparkRead(tp, TableLog.effectiveAt(all, before)._1)),
      "as-of commit: range scan")
    // the as-of read inferred its own schema and did not displace the
    // latest commit's memo
    val (again, jobs) = SparkTestSession.jobsDuring(StockStore.table(spark, root, Streaming))
    assert(jobs == 0, s"table() after an as-of read started $jobs Spark job(s)")
    assert(again.schema == latest.schema)

    // a read of some of the latest commit's files (what incremental
    // stats scans for files without stats) reads their rows and keeps
    // the whole commit's memo
    val snap = ManifestTable.latest(fs, tp).get
    val first = TableLog.effectiveAt(all, before)._1
    val part = ManifestTable.relation(spark, fs, tp, first, snap.copy(latest = false))
    assert(rows(part.select("ticker", "timestamp", "price", "volume", "version")) ==
      rows(sparkRead(tp, first).select("ticker", "timestamp", "price", "volume", "version")))
    val (again2, jobs2) = SparkTestSession.jobsDuring(StockStore.table(spark, root, Streaming))
    assert(jobs2 == 0 && again2.schema == latest.schema,
      s"table() after a partial read started $jobs2 Spark job(s)")

    // the manifest's per-file stats, folded, equal the same aggregate
    // over spark.read of the committed files
    val stats = StockStore.incrementalStats(spark, root, Streaming)
    val plainStats = sparkRead(tp, TableLog.effectiveFrom(all)._1).groupBy(col("ticker"))
      .agg(count(lit(1)).as("row_count"),
        min(col("timestamp")).as("min_ts"), max(col("timestamp")).as("max_ts"))
    assert(stats.schema.map(f => f.name -> f.dataType) == plainStats.schema.map(f => f.name -> f.dataType))
    assert(rows(stats) == rows(plainStats), "incremental stats")
  }

  test("the corpus reads as spark.read reads its files, with or without mergeSchema") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("manifest-table-corpus")
    val tp = new Path(s"$root/corpus")
    def docs(n: Int) = (0 until n).map(i => (i.toLong, s"document number $i", if (i % 3 == 0) "de" else "en"))
      .toDF("doc_id", "text", "lang")
    val id1 = CorpusStore.writeSnapshot(docs(20), root)
    CorpusStore.writeSnapshot(docs(30).withColumn("n_chars", length(col("text"))), root)
    val all = TableLog.commits(ManifestTable.fs(spark, tp), tp)
    val live = TableLog.effectiveFrom(all)._1
    val pinned = TableLog.effectiveAt(all, id1)._1

    assertSame(CorpusStore.read(spark, root), sparkRead(tp, live), "corpus read")
    assertSame(CorpusStore.snapshotAt(spark, root, id1), sparkRead(tp, pinned), "corpus snapshotAt")
    // every live corpus set is one write's files, so the union schema is
    // the one a single footer gives
    def single(rels: Seq[String]) = spark.read.option("basePath", tp.toString)
      .parquet(rels.map(new Path(tp, _).toString): _*)
    assert(CorpusStore.read(spark, root).schema == single(live).schema)
    assert(CorpusStore.snapshotAt(spark, root, id1).schema == single(pinned).schema)
  }
}
