package graft.store

import graft.functions.TimeFunctions
import graft.model._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Partitioned columnar store with the reference writer's semantics
  * (SURVEY §2.3 A1–A13), re-expressed as one idempotent batch merge:
  *
  *  - A3 exact-duplicate elimination: identical (index, payload) rows —
  *    within the batch and against the store — are silently dropped
  *    (reference: src/stockops/data/database/sql_db.py:476-497);
  *  - A4 version assignment: same index key, different payload → append
  *    with version = max(existing)+n (reference: sql_db.py:499-524);
  *  - A5 all-null-payload skip (reference: sql_db.py:406-419,464-467);
  *  - A6 index-column presence check (reference: sql_db.py:471-474);
  *  - A12/A13 idempotence: replaying a batch writes nothing new, so
  *    at-least-once delivery upstream becomes effectively-once — this is
  *    what makes it a valid Structured Streaming `foreachBatch` sink.
  *
  * Layout: `root/<data_type>/ticker=…/y=…/m=…[/d=…]` — partition values
  * are the event time on the exchange-local calendar
  * (reference: src/stockops/data/utils.py:47-76). At 100 TB the layout
  * gives partition pruning on (ticker, calendar range), and the merge
  * reads back only the partitions and event-time window the batch
  * touches, so its existing-side scan follows the batch, not the store
  * size. Committed files are read and published through
  * [[ManifestTable]], the layer [[graft.corpus.CorpusStore]] shares.
  */
object StockStore {

  /** Exact counts of one [[upsert]]: batch rows in, new rows written,
    * deduplicated rows already stored (A3), rows skipped for an all-null
    * payload (A5), and written rows that took a version above 1 (A4). */
  final case class UpsertStats(input: Long, written: Long, exactDups: Long,
      nullSkipped: Long, versionConflicts: Long)

  private def tablePath(root: String, dt: StockDataType) = s"$root/${dt.name}"

  // Same-JVM single-writer guard per (root, dataType): the merge is a
  // read-merge-write — A3 dedup and A4 versioning decide against a read
  // of `existing` taken before the write — so two concurrent upserts to
  // one table would each miss the other's rows (duplicate payloads,
  // colliding versions) even with the atomic manifest commit underneath.
  // The reference serializes through its single `writer-1` worker
  // (reference: src/stockops/data/database/writer.py); here a process
  // mutex per table serializes JobRegistry threads, streaming
  // micro-batches, and compaction against each other. Cross-process
  // writers remain out of contract (single-writer protocol, TableLog doc).
  private val writerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def writerLock(root: String, dt: StockDataType): Object =
    writerLocks.computeIfAbsent(tablePath(root, dt), _ => new Object)

  /** Stage dirs (`root/stage-<dataType>-*`) are what writers before
    * [[InPlaceWrite]] staged into; a crashed one can still sit in an older
    * store, and [[compact]]'s vacuum sweeps it. Table-scoped, so one
    * table's sweep never touches a sibling table's. */
  private def stagePrefix(dt: StockDataType) = s"stage-${dt.name}-"

  /** Squash cadence for [[upsert]]'s manifest log ([[TableLog
    * .maybeCheckpoint]]): once the live manifest count reaches this, the
    * log folds to one reset commit. 64 bounds read-side listing while
    * keeping the squash (an O(files) vacuum) amortized across batches. */
  val AutoSquashEvery: Int = 64

  /** The stored rows and the stamp of the commit they were read at: the
    * live files of the table's commit log; with no log, the whole table
    * directory (the legacy layout, no stamp); or None when there is
    * nothing to read — no table, or a log whose live set is empty. Once a
    * log exists, a file no commit references is never read, so a write
    * that failed before its publish stays invisible. The probes go
    * through Hadoop FileSystem, so HDFS/S3 paths work too. The union
    * schema (A10) reads rows written before a dynamic column arrived
    * with that column null. The upsert carries the schema memo forward
    * from the stamp after publishing ([[ManifestTable.carrySchemaMemo]]). */
  private def committed(spark: SparkSession, root: String, dt: StockDataType)
      : Option[(DataFrame, Option[TableLog.Commit.Stamp])] = {
    val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    val fs = ManifestTable.fs(spark, tp)
    ManifestTable.latest(fs, tp) match {
      case Some(s) if s.data.nonEmpty =>
        Some((ManifestTable.relation(spark, fs, tp, s.data, s), Some(s.stamp)))
      case None if fs.exists(tp) =>
        Some((spark.read.option("mergeSchema", "true").parquet(tablePath(root, dt)), None))
      case _ => None
    }
  }

  private def empty(spark: SparkSession, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** The partition columns of `dt`'s layout, ticker first. */
  private def partitionCols(dt: StockDataType): Seq[String] = dt match {
    case HistoricalInterday => Seq("ticker", "y")
    case HistoricalIntraday => Seq("ticker", "y", "m")
    case Streaming => Seq("ticker", "y", "m", "d")
  }

  /** Touched partitions a batch may carry before the read-back prune
    * degrades to a scan of every partition (a bulk backfill spanning the
    * table's history). It bounds both the prune's IN-list and the
    * tuple set the pin job funnels to the driver. */
  private[store] val MaxPrunedPartitions = 4096

  /** What the read-back prune matches partitions on: the xxhash64 of
    * their values cast to string. The batch side hashes the computed
    * calendar parts, the store side the inferred partition values, so an
    * int on one side and a string on the other hash alike. */
  private[store] def partitionHash(parts: Seq[Column]): Column =
    xxhash64(parts.map(_.cast("string")): _*)

  /** The read-back prune for the touched-partition hashes the pin job
    * collected: None when the capped set overflowed (null) or is absent,
    * so the merge scans every partition. A hash collision only adds a
    * partition to the scan, and the predicate reads partition columns
    * only, so it prunes the file listing, never a row. */
  private[store] def partitionPrune(pruneCols: Seq[String], hashes: Any): Option[Column] =
    hashes match {
      case hs: scala.collection.Seq[_] => Some(partitionHash(pruneCols.map(col)).isin(hs.toSeq: _*))
      case _ => None
    }

  /** Deduplicating, versioning batch merge (the reference's
    * `insert_many`, reference: sql_db.py:345-671) and the store's one
    * write path: bulk backfills and streaming micro-batches take the same
    * plan, as the reference's single writer drains both through one
    * insert (writer.py:259-353). Returns exact write stats (the reference
    * acks each message; we report counts).
    *
    * The merge runs in three labelled steps: "touched tuples + batch pin"
    * caches the deduplicated batch and fires every diagnostic
    * observation (input, null skips, deduplicated rows, the event-time
    * window and the capped touched-partition set) — a batch that keeps
    * no row returns its stats right there; "merge + pin output", one
    * exchange over the batch and its pruned read-back, whose observation
    * counts the rows to write and their first versions; then, only when
    * something is new, "stage data write" writes the data files in place
    * ([[InPlaceWrite]]), gathering each file's A7/A8 stats in its own
    * tasks ([[FileStats]]), and one manifest publishes files and stats.
    * The A6 index check is an assert_true guard
    * compiled into the A5 filter, so a violating batch fails the first
    * step, before anything is written or committed. */
  def upsert(spark: SparkSession, root: String, dt: StockDataType,
      batch: DataFrame, exchangeTz: String = "America/New_York"): UpsertStats =
    writerLock(root, dt).synchronized {
      upsertLocked(spark, root, dt, batch, exchangeTz)
    }

  private def upsertLocked(spark: SparkSession, root: String, dt: StockDataType,
      batch: DataFrame, exchangeTz: String): UpsertStats = {
    val idxCols = dt.indexCols
    // A10 dynamic schema evolution: batch columns beyond the declared
    // payload schema are accepted as NEW payload columns (the reference's
    // ALTER TABLE ADD COLUMN, sql_db.py:306-343). They take part in
    // payload equality (A3) and versioning (A4) like any other payload
    // column, land in the new files, and older rows read back with the
    // column null (the union schema of [[committed]]) — the
    // columnar analog of the reference's null-backfilled ALTER TABLE.
    val declared = dt.payloadCols.filter(batch.columns.contains)
    val reserved = (dt.indexCols ++ dt.payloadCols ++ Seq("version", "y", "m", "d")).toSet
    val dynamic = batch.columns.filterNot(reserved.contains).toSeq
    val payloadCols = declared ++ dynamic
    require(payloadCols.nonEmpty, s"batch has no payload columns for ${dt.name}")

    val idxOk = idxCols.map(col(_).isNotNull).reduce(_ && _)
    val anyPayload = payloadCols.map(col(_).isNotNull).reduce(_ || _)

    // A6: required index columns present, checked by an assert_true guard
    // compiled into the A5 filter: a violating row fails the pin job,
    // before anything is written or committed, with no action of its own.
    // Unlike an observation it cannot be optimized away: a plan that
    // never evaluates the guard is a plan with no rows, hence no
    // violations.
    // A5: skip rows whose entire payload is null.
    val keepCond = coalesce(
      assert_true(idxOk, lit(s"batch contains rows with null index columns $idxCols")),
      lit(true)) && anyPayload

    // Diagnostic counts ride the plan as CollectMetrics observations,
    // fired by the two pin jobs below, so the stats cost no action of
    // their own (an empty or all-skipped batch still reports its counts,
    // UpsertPathSpec).
    import org.apache.spark.sql.Observation
    val batchObs = Observation()
    val pinObs = Observation()
    val outObs = Observation()

    // A3 (in-batch): identical (index, payload) rows collapse to one.
    // dropDuplicates' grouping keys (idx ++ payload) are a SUPERSET of
    // the idx partitioning (equal full keys ⇒ equal idx ⇒ same
    // partition), so the idx-keyed exchange serves the dedup; the merge
    // below re-exchanges the cached rows together with the read-back.
    // The dedup keeps one of N identical rows, whichever partition holds
    // them.
    // (r13 A/B: swapping this cache for an eager localCheckpoint — to
    // truncate downstream plan analysis — was measured WORSE, min
    // 2.66 s/16 jobs vs 2.43 s/15 jobs same window: the extra eager
    // materialization wave costs more than the analysis it saves. The
    // cache stays. OPTIMIZATION_r13.md, change 3 item 4.)
    // The batch counts are observed after the exchange: a batch with no
    // partitions (a streaming source's empty trigger) runs no task
    // before it, and an observation there would never fire.
    val deduped = batch
      .repartition(idxCols.map(col): _*)
      .observe(batchObs, count(lit(1)).as("input"),
        count(when(!anyPayload, lit(1))).as("null_payload"))
      .filter(keepCond)
      .dropDuplicates(idxCols ++ payloadCols)
      .cache()

    // The batch cache releases on EVERY exit path (A6 failures, IO
    // errors mid-write/publish) — a failed micro-batch must not leak
    // executor storage for the life of the session.
    try {

    // T7 partition geometry, needed both for the pruned read-back below
    // and for the output layout stamping further down.
    val eventTs = dt match {
      case HistoricalInterday => col(dt.tsCol).cast("timestamp")
      case _ => col(dt.tsCol)
    }
    val (py, pmo, pda) = TimeFunctions.localCalendarParts(eventTs, exchangeTz)
    val partCols = partitionCols(dt)

    // Existing rows for the batch's keys: the read-back SCAN is pruned
    // to the batch's own partition tuples: an index key's store rows can
    // only live in the partition its event time maps to (same local-
    // calendar stamping both sides), so reading any other partition is
    // pure waste. The tuple set rides the pin job's observation, capped
    // at [[MaxPrunedPartitions]] inside the aggregate (task buffers and
    // the driver-bound result stay bounded at any batch size); a batch
    // past the cap (a full-history backfill) scans every partition.
    // The prune bounds the rows the merge SCANS by the batch; the
    // metadata work of building the relation over every committed file
    // ([[ManifestTable.relation]]) follows the files each trigger writes.
    //
    // The calendar-tuple prune is only sound when every upsert to this
    // store stamped partitions with the SAME tz: a row near local
    // midnight maps to different (y,m,d) under different tzs, and a
    // mismatched prune would hide a key's existing rows from the A3/A4
    // merge — silent duplicate payloads and version resets. The
    // partitioning tz is therefore persisted next to the table on first
    // write ([[tzMarkerPath]]); an upsert arriving with a DIFFERENT tz
    // keeps the merge exact by degrading to a ticker-only prune (a key's
    // rows always live under its own ticker partition, whatever tz
    // stamped them), which still bounds the streaming read-back by
    // per-ticker history rather than store size.
    // An absent marker on a table that predates it (legacy mixed-tz
    // history is possible) also degrades to ticker-only; the marker is
    // stamped at this batch's publish, so steady-state streaming pays
    // the full tuple prune from batch 2 on.
    val fs = ManifestTable.fs(spark, new org.apache.hadoop.fs.Path(root))
    val tzConsistent = readTzMarker(fs, tzMarkerPath(root, dt)) match {
      case Some(tz) => tz == exchangeTz
      case None => !fs.exists(new org.apache.hadoop.fs.Path(tablePath(root, dt)))
    }
    val pruneCols = if (tzConsistent) partCols else Seq("ticker")
    // job labels (guide §1.5): the merge's waves are attributable in the
    // UI and in perfbench's `store.job_s.*` spans (which match on these
    // descriptions) without guessing; thread-local, reset at the end
    def labeled[T](desc: String)(body: => T): T = {
      spark.sparkContext.setJobDescription(s"upsert[${dt.name}]: $desc")
      try body finally spark.sparkContext.setJobDescription(null)
    }
    val tupleExprs = pruneCols.map {
      case "ticker" => col("ticker"); case "y" => py
      case "m" => pmo; case "d" => pda
    }
    // ONE noop write materializes the batch pin and every observation:
    // the batch counts, the deduplicated row count, the event-time
    // window and the touched-tuple hashes (OPTIMIZATION_r13.md change 7).
    labeled("touched tuples + batch pin") {
      deduped
        .observe(pinObs, count(lit(1)).as("n"),
          min(col(dt.tsCol)).as("mn"), max(col(dt.tsCol)).as("mx"),
          graft.functions.AggFunctions.collectSetCapped(
            partitionHash(tupleExprs), MaxPrunedPartitions).as("tuples"))
        .write.format("noop").mode("overwrite").save()
    }
    val observed = batchObs.get ++ pinObs.get
    def observedCount(k: String): Long = observed.getOrElse(k,
      throw new IllegalStateException(s"upsert observation '$k' did not fire")).asInstanceOf[Long]
    val dedupedN = observedCount("n")
    // A batch that keeps no row (empty, all skipped) has its exact stats
    // now: nothing to read back, merge or write.
    if (dedupedN == 0) return UpsertStats(input = observedCount("input"), written = 0,
      exactDups = 0, nullSkipped = observedCount("null_payload"), versionConflicts = 0)
    val prune = partitionPrune(pruneCols, observed.getOrElse("tuples", null))
    // A batch-bounded merge (the partition-tuple prune holds, and the
    // deduplicated batch is small) exchanges by ticker alone, into one
    // task per core (at most one per touched partition), so each
    // partition directory belongs to exactly one task and the pinned
    // output writes in parallel, one file per touched partition, with no
    // further exchange. A bulk backfill keeps the idx exchange and the
    // write's hash repartition, whose width its store-sized batch needs.
    val smallBatch = prune.isDefined && dedupedN <= 1000000L
    val mergeTasks = observed.get("tuples").collect {
      case hs: scala.collection.Seq[_] if smallBatch =>
        math.max(1, math.min(spark.sparkContext.defaultParallelism, hs.size))
    }
    // Event-time window prune on the read-back scan, ON TOP of the
    // partition-tuple prune: a streaming feed lands every micro-batch
    // in the SAME (ticker, day) partitions, so the tuple prune alone
    // still re-scans the day's accumulated files each trigger and the
    // merge cost ramps with store history (measured: fixed 7500-row
    // batches' per-merge time ~2 s at batch 2 vs ~6 s with an 18 s
    // spike by batch 8 of one run — scale/REPORT_r10.md bisection).
    // The event-time column is part of the index key, so any existing
    // row that can match a batch key carries one of the batch's own ts
    // values — all inside the batch's [min, max] ts window. The store
    // writes `ts` as INT96, whose footers carry no min/max, so the window
    // skips no file or row group: it filters decoded rows before the
    // exchange. Batch rows always have non-null index cols here
    // (keepCond), so min/max are total over the batch and
    // the prune can never hide a matching row. Skipped when the
    // partition prune itself degraded (a bulk backfill past the cap):
    // such a batch spans the table's whole history, and the
    // between-predicate would prune nothing.
    val tsWindow: Option[Column] = prune.flatMap { _ =>
      (Option(observed.getOrElse("mn", null)), Option(observed.getOrElse("mx", null))) match {
        case (Some(lo), Some(hi)) =>
          Some(col(dt.tsCol).between(lit(lo), lit(hi)))
        case _ => None
      }
    }
    val (existingRaw0, readStamp) = committed(spark, root, dt)
      .getOrElse((empty(spark, deduped.withColumn("version", lit(1)).schema), None))
    val existingRaw1 = prune
      .filter(_ => existingRaw0.columns.contains(pruneCols.last))
      .map(existingRaw0.where).getOrElse(existingRaw0)
    val existingRaw = tsWindow
      .filter(_ => existingRaw1.columns.contains(dt.tsCol))
      .map(existingRaw1.where).getOrElse(existingRaw1)
    // align to this batch's payload set: a column the store has never
    // seen reads as null on the existing side (null-backfill), and a
    // stored dynamic column absent from this batch is simply not compared
    // — the reference compares payload equality over the batch row's keys
    // only (sql_db.py:485-492).
    val existingAll = payloadCols.foldLeft(existingRaw) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(batch.schema(c).dataType))
    }
    val versioned = windowMerge(deduped, existingAll, idxCols, payloadCols, mergeTasks)

    // T7: exchange-local calendar partition columns from event time
    // (eventTs/partCols defined with the pruned read-back above)
    val outLazy = versioned.withColumn("y", py).withColumn("m", pmo).withColumn("d", pda)
      .select((idxCols ++ payloadCols ++ Seq("version") ++ partCols.drop(1)).distinct.map(col): _*)
    // Pin the merge output ONCE (eager localCheckpoint): the same job
    // observes `written` and the first-version count, so a batch with
    // nothing new writes and publishes nothing, and the data write reads
    // the pinned rows instead of re-executing the whole merge (read-back
    // scan, exchange, windows). The pinned blocks hold only new rows, so
    // they are small wherever the batch is (guide §5: localCheckpoint to
    // cut lineage / avoid recompute); they release via the context
    // cleaner once the batch's frame is unreferenced.
    val out = labeled("merge + pin output") {
      outLazy.observe(outObs, count(lit(1)).as("written"),
        count(when(col("version") === 1, lit(1))).as("v1")).localCheckpoint(true)
    }
    val written = outObs.get("written").asInstanceOf[Long]
    val firstVersions = outObs.get("v1").asInstanceOf[Long]

    // A12 transactional batch commit (reference: sql_db.py:455,553-557 —
    // BEGIN IMMEDIATE around the whole batch): data files are written in
    // place, into their final directories ([[InPlaceWrite]]), and made
    // visible by one atomic manifest create ([[TableLog]]) that also
    // carries each file's A7/A8 stats (the reference's running
    // min/max/count, updated in the insert's transaction,
    // sql_db.py:34-40,559-669). A crash anywhere before that create
    // leaves only unreferenced files — readers see the pre-batch state,
    // stats can never drift from data, and [[TableLog.vacuum]] (run
    // under this table's writer lock) reclaims them.
    if (written > 0) {
      val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
      ManifestTable.ensureLog(fs, tp)
      // Pin the table's partitioning tz on first publish; later upserts
      // with a different tz fall back to ticker-only read-back pruning.
      writeTzMarkerIfAbsent(fs, tzMarkerPath(root, dt), exchangeTz)
      // One file per touched partition either way. A batch-bounded
      // merge writes its pinned output as it lies — clustered by ticker,
      // so the write costs no exchange and no AQE wave, and its tasks
      // write disjoint partition dirs side by side; a bulk backfill
      // keeps the hash repartition. The label predates the in-place
      // write.
      val (dataRel, stats) = labeled("stage data write") {
        writeWithStats(if (smallBatch) out else out.repartition(partCols.map(col): _*),
          tp, partCols, dt)
      }
      val published = TableLog.publish(fs, tp, dataRel, stats)
      // Manifest squash: a streaming sink lands one manifest per
      // micro-batch and every read pays an O(commits) listing. Each
      // AutoSquashEvery commits, fold the live set into one reset
      // manifest (no data rewrite) and prune the superseded manifests —
      // commit listing stays O(1) however long the stream runs.
      val squash = TableLog.maybeCheckpoint(fs, tp, AutoSquashEvery)
      if (squash >= 0) TableLog.vacuum(fs, tp)
      readStamp.foreach(ManifestTable.carrySchemaMemo(fs, tp, _,
        if (squash >= 0) Seq(published, squash) else Seq(published),
        out.schema, partCols))
    }

    UpsertStats(input = observedCount("input"), written = written,
      exactDups = dedupedN - written, nullSkipped = observedCount("null_payload"),
      versionConflicts = written - firstVersions)
    } finally deduped.unpersist()
  }

  /** The A3/A4 merge of a deduplicated batch against its stored rows,
    * both with `idxCols ++ payloadCols` (and `version` on the stored
    * side): the batch rows whose payload is not stored for their key,
    * each with its version. One exchange carries both sides — by
    * `idxCols`, or by ticker alone into `tasks` partitions (a key's rows
    * share its ticker, so that clustering serves every window too) — and
    * three windows over it decide:
    *  - over (idx, payload): whether the row is stored already (A3 vs
    *    store). Window keys group nulls together, and Catalyst
    *    normalizes ±0.0 and NaN in window partition keys as in join keys,
    *    so this equals the reference's null-safe payload equality
    *    (sql_db.py:485-492);
    *  - over idx: the key's max stored version;
    *  - over idx, on the new rows that are left: `row_number` by the
    *    payload's xxhash64 — A4's version = max + rank. The reference
    *    ranks by arrival order; a distributed batch has none, so the
    *    replay-stable order is explicit.
    * The stored side takes the batch's column types, as the null-safe
    * comparison coerced it. */
  private def windowMerge(deduped: DataFrame, stored: DataFrame,
      idxCols: Seq[String], payloadCols: Seq[String], tasks: Option[Int]): DataFrame = {
    val fields = idxCols ++ payloadCols
    val idx = idxCols.map(col)
    val fresh = deduped.select(fields.map(col) ++
      Seq(lit(null).cast("int").as("version"), lit(false).as("__stored")): _*)
    val old = stored.select(fields.map(c => col(c).cast(deduped.schema(c).dataType).as(c)) ++
      Seq(col("version").cast("int").as("version"), lit(true).as("__stored")): _*)
    val byKey = Window.partitionBy(idx: _*)
    val both = fresh.unionByName(old)
    tasks.fold(both.repartition(idx: _*))(n => both.repartition(n, col("ticker")))
      .withColumn("__twin", max(col("__stored")).over(Window.partitionBy(fields.map(col): _*)))
      .withColumn("__maxv", max(col("version")).over(byKey))
      .where(!col("__stored") && !col("__twin"))
      .withColumn("version", (coalesce(col("__maxv"), lit(0)) +
        row_number().over(byKey.orderBy(xxhash64(payloadCols.map(col): _*)))).cast("int"))
      .select((fields :+ "version").map(col): _*)
  }

  /** Write `df` in place under `tp`, unpublished: its files, and the
    * stats lines the write gathered for them. */
  private def writeWithStats(df: DataFrame, tp: org.apache.hadoop.fs.Path, partCols: Seq[String],
      dt: StockDataType): (Seq[String], Seq[TableLog.FileStatsLine]) = {
    val stats = FileStats.tracker(df.schema, partCols, dt.tsCol, intervalCol(dt))
    val files = InPlaceWrite.parquet(df, tp, partCols, stats)
    (files, stats.fold(Seq.empty[TableLog.FileStatsLine])(_.lines(tp, files)))
  }

  /** Read the stored table (post-merge). Manifest-aware: only files a
    * committed manifest references are visible (a crashed half-written
    * batch is not), read through [[ManifestTable.relation]]; tables
    * without a commit log (legacy layout) read the directory, with the
    * same union schema (A10). A table with nothing to read is an empty
    * frame of `dt`'s declared columns and partition layout. */
  def table(spark: SparkSession, root: String, dt: StockDataType): DataFrame =
    committed(spark, root, dt).fold {
      val parts = partitionCols(dt)
      empty(spark, StructType(dt.columns.filterNot(f => parts.contains(f.name)) ++
        Seq(StructField("version", IntegerType)) ++
        parts.map(p => StructField(p, if (p == "ticker") StringType else IntegerType))))
    }(_._1)

  /** Time-travel read: the table AS OF `commitId` — byte-identical to
    * what a reader saw after that commit published, however many batches
    * landed since ([[ManifestTable.at]]). The natural use at scale is a
    * REPRODUCIBLE training snapshot: pin the commit id a run trained on
    * and re-read it later, while ingestion keeps appending. Snapshots
    * survive until the next reset commit's vacuum reclaims pre-reset
    * files ([[TableLog.effectiveAt]]).
    * @throws IllegalArgumentException for unknown ids or pre-manifest
    *         (legacy) tables */
  def tableAt(spark: SparkSession, root: String, dt: StockDataType,
      commitId: Long): DataFrame = {
    val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    val fs = ManifestTable.fs(spark, tp)
    val s = ManifestTable.at(fs, tp, commitId)
    if (s.data.isEmpty)
      empty(spark, table(spark, root, dt).schema)
    else ManifestTable.relation(spark, fs, tp, s.data, s)
  }

  /** Commit ids currently in the log for `dt` (ascending) — the pinnable
    * snapshot handles for [[tableAt]]. */
  def commitIds(spark: SparkSession, root: String, dt: StockDataType): Seq[Long] = {
    val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    TableLog.commits(ManifestTable.fs(spark, tp), tp).map(_.id)
  }

  /** Compact the small files that per-micro-batch appends accumulate
    * (SURVEY §7.4 risk 5): rewrite the table so each partition directory
    * holds one file again, preserving every row/version, each new file
    * with its stats. The swap is a `reset` commit in the
    * [[TableLog]] manifest — readers atomically flip from the old file
    * set to the new one (no delete-then-rename window), and old files and
    * superseded manifests are vacuumed afterwards. The reference
    * sidesteps compaction because SQLite updates B-trees in place; a
    * columnar store pays it as a periodic maintenance job instead. A
    * table with nothing committed is left as it is.
    * @return number of rows in the compacted table */
  def compact(spark: SparkSession, root: String, dt: StockDataType): Long =
    writerLock(root, dt).synchronized { compactLocked(spark, root, dt) }

  private def compactLocked(spark: SparkSession, root: String, dt: StockDataType): Long = {
    import org.apache.hadoop.fs.Path
    val fs = ManifestTable.fs(spark, new Path(root))
    val tp = new Path(tablePath(root, dt))
    ManifestTable.ensureLog(fs, tp)
    committed(spark, root, dt).fold(0L) { case (df, _) =>
      val partCols = Seq("ticker", "y", "m", "d").filter(df.columns.contains)
      val written = org.apache.spark.sql.Observation()
      val (dataRel, stats) = writeWithStats(
        df.repartition(partCols.map(col): _*).observe(written, count(lit(1)).as("rows")),
        tp, partCols, dt)
      TableLog.publish(fs, tp, dataRel, stats, reset = true)
      TableLog.vacuum(fs, tp, stageRoot = Some(new Path(root)), stagePrefix = stagePrefix(dt))
      written.get("rows").asInstanceOf[Long]
    }
  }

  /** A7: per-ticker stats view (reference __table_stats__,
    * sql_db.py:559-599). Parquet footers already carry min/max; this
    * materializes the discovery-API shape. */
  def tableStats(spark: SparkSession, root: String, dt: StockDataType): DataFrame =
    statsRows(table(spark, root, dt), dt, Seq("ticker"))

  /** A8: per-(ticker, interval) stats view (reference __interval_stats__,
    * sql_db.py:601-669). */
  def intervalStats(spark: SparkSession, root: String, dt: StockDataType): DataFrame = {
    require(dt.extraIndexCols.contains("interval"), s"${dt.name} has no interval column")
    statsRows(table(spark, root, dt), dt, Seq("ticker", "interval"))
  }

  /** The interval column, where `dt` has one: the stats' key beside the ticker. */
  private def intervalCol(dt: StockDataType) = dt.extraIndexCols.find(_ == "interval")

  /** A7/A8 rows of `df`: its row count and event-time range per `keys`. */
  private def statsRows(df: DataFrame, dt: StockDataType, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("row_count"),
      min(col(dt.tsCol)).as("min_ts"), max(col(dt.tsCol)).as("max_ts"))

  /** Partitioning-identity marker: the tz that stamped this table's
    * (y,m,d) partition columns, persisted on first publish. Upserts
    * whose tz disagrees with the marker degrade the read-back prune to
    * ticker-only (merge stays exact; see the prune comment in
    * [[upsertLocked]]). One tiny immutable file — create-if-absent is
    * atomic on both local FS and the object-store binding (conditional
    * PUT), so concurrent first writers cannot disagree. */
  private def tzMarkerPath(root: String, dt: StockDataType) =
    new org.apache.hadoop.fs.Path(s"$root/${dt.name}__tz")

  // Read on every upsert, not memoized: a table dropped and recreated at
  // the same path may be stamped with another tz, and the marker's status
  // cannot tell (two tz names can have the same length, and the
  // object-store binding reports mtime 0). A stat to validate a memo
  // would cost as much as this one open (one GET on an object store).
  private def readTzMarker(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def writeTzMarkerIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, tz: String): Unit =
    if (!fs.exists(p)) try {
      val out = fs.create(p, false)
      try out.write(tz.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () } // lost the create race: marker stands

  /** A7/A8 without touching the data: fold the per-file stats the
    * manifest carries ([[FileStats]]), on the driver. Equals the
    * full-scan view (StatsSpec) at a cost proportional to the number of
    * files, not rows — the discovery query stays cheap at any table
    * size. A live file whose manifest carries no stats (written before
    * files carried them, or a legacy pre-manifest file) is scanned
    * instead; so is a table with no log. Note: rows are counted as
    * WRITTEN (post-dedup, including versioned conflicts), same as the
    * scan views. */
  def incrementalStats(spark: SparkSession, root: String, dt: StockDataType): DataFrame = {
    val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    val fs = ManifestTable.fs(spark, tp)
    val keys = Seq("ticker") ++ intervalCol(dt)
    val (logged, unlogged) = ManifestTable.latest(fs, tp) match {
      case Some(s) =>
        val withStats = s.fileStats.map(_.file).toSet
        val rest = s.data.filterNot(withStats)
        (FileStats.rows(spark, s.fileStats, intervalCol(dt)),
          Some(rest).filter(_.nonEmpty)
            .map(ManifestTable.relation(spark, fs, tp, _, s.copy(latest = false))))
      case None => (Nil, committed(spark, root, dt).map(_._1))
    }
    val scanned = unlogged.map(df =>
      statsRows(df.withColumn("ticker", col("ticker").cast("string")), dt, keys))
    logged ++ scanned match {
      case Seq() => empty(spark, FileStats.schema(intervalCol(dt), dt.columns(dt.tsCol).dataType))
      case Seq(one) => one
      case parts => parts.reduce(_ unionByName _).groupBy(keys.map(col): _*)
        .agg(sum(col("row_count")).as("row_count"),
          min(col("min_ts")).as("min_ts"), max(col("max_ts")).as("max_ts"))
    }
  }

  /** A9: provider/exchange metadata (reference __meta__ seeding,
    * sql_db.py:212-229 + eodhd_config.py:20-30). */
  def metaTable(spark: SparkSession, exchange: String): DataFrame = {
    import spark.implicits._
    Seq(
      ("exchange", exchange),
      ("timezone", Exchanges.tz(exchange)),
      ("provider", "eodhd")).toDF("key", "value")
  }
}
