package graft.store

import graft.functions.TimeFunctions
import graft.model._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

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
  * gives partition pruning on (ticker, calendar range); row-group stats
  * prune within a month/day; the merge join keys are the natural shuffle
  * keys and the left-semi probe keeps the existing-side scan proportional
  * to the batch's key range, not the store size.
  */
object StockStore {

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

  /** Staging dirs are table-scoped so one table's vacuum can never sweep
    * a sibling table's in-flight stage under the same root. */
  private def stagePrefix(dt: StockDataType) = s"stage-${dt.name}-"

  /** Squash cadence for [[upsert]]'s manifest log ([[TableLog
    * .maybeCheckpoint]]): once the live manifest count reaches this, the
    * log folds to one reset commit. 64 bounds read-side listing while
    * keeping the squash (an O(files) vacuum) amortized across batches. */
  val AutoSquashEvery: Int = 64

  private def nullSafeEq(left: DataFrame, right: DataFrame, cols: Seq[String]): Column =
    cols.map(c => left(c) <=> right(c)).reduce(_ && _)

  /** Read the stored table, or an empty frame with `schema` if absent.
    * Existence probe goes through Hadoop FileSystem so the store works on
    * HDFS/S3 paths too — a java.io.File probe would silently report
    * "absent" there and make [[upsert]] treat a populated table as empty.
    * `mergeSchema` unifies files written before/after a dynamic column
    * arrived (A10) — older rows read back with the new column null. */
  def readOrEmpty(spark: SparkSession, root: String, dt: StockDataType,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (!fs.exists(p)) empty
    else committedState(fs, p) match {
      case Some((_, Nil)) => empty // commit log exists but nothing committed yet
      // reuse the state just read instead of a second commits() pass —
      // the streaming sink calls this every micro-batch
      case Some(st) => tableFromState(spark, p, st)
      case None => table(spark, root, dt)
    }
  }

  /** Deduplicating, versioning batch merge (the reference's
    * `insert_many`, reference: sql_db.py:345-671). Returns write stats
    * (the reference acks each message; we report counts).
    *
    * `collectCounts = false` is the high-trigger-rate mode for streaming
    * sinks: the five diagnostic count actions (input/dups/null-skips/
    * conflicts and the strict-index probe) are replaced by CollectMetrics
    * observations riding the merge plan, all materialized by the stats
    * job — the merge runs exactly two jobs per micro-batch (stats row +
    * data) and still returns full stats on the common path (diagnostics
    * degrade to -1 only when AQE's empty-relation propagation prunes the
    * metrics, e.g. a replayed batch that merges to nothing). Merge
    * semantics are identical, including the A6 strict-index FAILURE: the
    * check is compiled into the filter as an assert_true guard, so a
    * violating batch fails its first job, before anything is staged or
    * committed. */
  def upsert(spark: SparkSession, root: String, dt: StockDataType,
      batch: DataFrame, exchangeTz: String = "America/New_York",
      strictIndex: Boolean = true, collectCounts: Boolean = true): UpsertStats =
    writerLock(root, dt).synchronized {
      upsertLocked(spark, root, dt, batch, exchangeTz, strictIndex, collectCounts)
    }

  private def upsertLocked(spark: SparkSession, root: String, dt: StockDataType,
      batch: DataFrame, exchangeTz: String,
      strictIndex: Boolean, collectCounts: Boolean): UpsertStats = {
    val idxCols = dt.indexCols
    // A10 dynamic schema evolution: batch columns beyond the declared
    // payload schema are accepted as NEW payload columns (the reference's
    // ALTER TABLE ADD COLUMN, sql_db.py:306-343). They take part in
    // payload equality (A3) and versioning (A4) like any other payload
    // column, land in the new files, and older rows read back with the
    // column null (mergeSchema in [[readOrEmpty]]/[[table]]) — the
    // columnar analog of the reference's null-backfilled ALTER TABLE.
    val declared = dt.payloadCols.filter(batch.columns.contains)
    val reserved = (dt.indexCols ++ dt.payloadCols ++ Seq("version", "y", "m", "d")).toSet
    val dynamic = batch.columns.filterNot(reserved.contains).toSeq
    val payloadCols = declared ++ dynamic
    require(payloadCols.nonEmpty, s"batch has no payload columns for ${dt.name}")

    val input = if (collectCounts) batch.count() else -1L

    val idxOk = idxCols.map(col(_).isNotNull).reduce(_ && _)
    val anyPayload = payloadCols.map(col(_).isNotNull).reduce(_ || _)

    // Cheap mode (collectCounts=false): diagnostic counts ride the merge
    // plan as CollectMetrics observations and materialize with the
    // stats-row job — no extra actions. Best-effort: AQE's runtime
    // empty-relation propagation can prune the CollectMetrics nodes from
    // the final plan (e.g. a replayed batch whose merge output is empty),
    // in which case the observation completes with an empty map and the
    // affected diagnostics report -1.
    import org.apache.spark.sql.Observation
    val batchObs = if (collectCounts) None else Some(Observation())
    val dedupObs = if (collectCounts) None else Some(Observation())
    val verObs = if (collectCounts) None else Some(Observation())
    val observedBatch = batchObs.map(o => batch.observe(o,
      count(lit(1)).as("input"),
      count(when(!idxOk, lit(1))).as("null_idx"),
      count(when(idxOk && !anyPayload, lit(1))).as("null_payload")))
      .getOrElse(batch)

    // A6: required index columns present. Full mode probes with its own
    // action; cheap mode compiles the check INTO the A5 filter via
    // assert_true, so a violating row fails the first merge job (before
    // anything is staged or committed) with zero extra actions — and
    // unlike an observation it cannot be optimized away: a plan that
    // never evaluates the guard is a plan with no rows, hence no
    // violations.
    if (strictIndex && collectCounts && !batch.filter(!idxOk).isEmpty)
      throw new IllegalArgumentException(s"batch contains rows with null index columns $idxCols")
    val keepCond =
      if (strictIndex && !collectCounts)
        coalesce(
          assert_true(idxOk, lit(s"batch contains rows with null index columns $idxCols")),
          lit(true)) && anyPayload
      else idxOk && anyPayload

    // A5: skip rows whose entire payload is null
    val nonNull = observedBatch.filter(keepCond)

    // A3 (in-batch): identical (index, payload) rows collapse to one.
    // ONE index-keyed exchange up front, shared by the whole merge
    // (guide §2.4: operations keyed the same way share an exchange):
    // dropDuplicates' grouping keys (idx ++ payload) are a SUPERSET of
    // the idx partitioning (equal full keys ⇒ equal idx ⇒ same
    // partition), and the A4 version window's partitionBy(idx) is
    // satisfied by the same exchange. The old shape hashed the dedup agg
    // on the full (idx, payload) key, which satisfies neither the window
    // nor the idx joins — the merge paid 4 idx-family exchanges per
    // micro-batch where the shuffled bytes (the whole batch, once) only
    // ever justified one. Values are partition-independent: the dedup
    // keeps one of N identical rows, and the window's xxhash64 order is
    // a per-row function.
    // (r13 A/B: swapping this cache for an eager localCheckpoint — to
    // truncate downstream plan analysis — was measured WORSE, min
    // 2.66 s/16 jobs vs 2.43 s/15 jobs same window: the extra eager
    // materialization wave costs more than the analysis it saves. The
    // cache stays. OPTIMIZATION_r13.md, change 3 item 4.)
    val dedupedRaw = nonNull.repartition(idxCols.map(col): _*)
      .dropDuplicates(idxCols ++ payloadCols)
    val deduped = dedupObs.map(o => dedupedRaw.observe(o, count(lit(1)).as("n")))
      .getOrElse(dedupedRaw).cache()

    // T7 partition geometry, needed both for the pruned read-back below
    // and for the output layout stamping further down.
    val eventTs = dt match {
      case HistoricalInterday => col(dt.tsCol).cast("timestamp")
      case _ => col(dt.tsCol)
    }
    val (py, pmo, pda) = TimeFunctions.localCalendarParts(eventTs, exchangeTz)
    val partCols = dt match {
      case HistoricalInterday => Seq("ticker", "y")
      case HistoricalIntraday => Seq("ticker", "y", "m")
      case Streaming => Seq("ticker", "y", "m", "d")
    }

    // Existing rows for just the touched index keys (left-semi keeps the
    // probe proportional to the batch). The SCAN is additionally pruned
    // to the batch's own partition tuples: an index key's store rows can
    // only live in the partition its event time maps to (same local-
    // calendar stamping both sides), so reading any other partition is
    // pure waste — and for a streaming sink the read-back would
    // otherwise grow with STORE size, not batch size, putting every
    // micro-batch's latency on an upward ramp. The tuple collect is one
    // tiny driver action against the cached batch (bounded by
    // tickers × calendar units touched); batches touching more than 4096
    // partitions (a full-history backfill) skip pruning and scan as
    // before.
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
    val markerFs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tzConsistent = readTzMarker(markerFs, tzMarkerPath(root, dt)) match {
      case Some(tz) => tz == exchangeTz
      case None => !markerFs.exists(new org.apache.hadoop.fs.Path(tablePath(root, dt)))
    }
    val pruneCols = if (tzConsistent) partCols else Seq("ticker")
    // The event-time window bounds ride the SAME job as the tuple
    // collect (CollectMetrics on the cached batch) — they used to be a
    // second whole driver action per micro-batch.
    // job labels (guide §1.5): the merge's waves are attributable in the
    // UI and in perfbench's `store.job_s.*` spans (which match on these
    // descriptions) without guessing; thread-local, reset at the end
    def labeled[T](desc: String)(body: => T): T = {
      spark.sparkContext.setJobDescription(s"upsert[${dt.name}]: $desc")
      try body finally spark.sparkContext.setJobDescription(null)
    }
    val twObs = Observation()
    // Touched-tuple discovery, two shapes (cheap mode saves 2 AQE waves):
    //  - full mode: the r12 form — distinct().limit(4097).collect(), its
    //    own exchange + collect on top of the cache-filling job. Correct
    //    at ANY batch size (a billion-row backfill's tuple set never
    //    funnels through driver metrics).
    //  - cheap (streaming) mode: the distinct tuple set rides the SAME
    //    CollectMetrics observation as the ts-window min/max, and ONE
    //    noop write materializes batch pin + all observations — the
    //    separate distinct exchange and its waves disappear (touched
    //    4 jobs → 2, OPTIMIZATION_r13.md change 7). Sound because cheap
    //    mode is the admission-capped streaming contract: per-task
    //    collect_set state is bounded by the batch's distinct (ticker,
    //    calendar-unit) tuples, which the cap bounds.
    val tupleExprs = pruneCols.map {
      case "ticker" => col("ticker"); case "y" => py
      case "m" => pmo; case "d" => pda
    }
    val touched: Seq[Seq[String]] =
      if (collectCounts) labeled("touched partition tuples + batch pin") {
        deduped
          .observe(twObs,
            min(col(dt.tsCol)).as("mn"), max(col(dt.tsCol)).as("mx"))
          .select(tupleExprs.zip(pruneCols).map { case (e, n) => e.as(n) }: _*)
          .distinct().limit(4097).collect()
          .toSeq.map(r => pruneCols.indices.map(i => String.valueOf(r.get(i))))
      } else {
        labeled("touched tuples + batch pin") {
          deduped
            .observe(twObs,
              min(col(dt.tsCol)).as("mn"), max(col(dt.tsCol)).as("mx"),
              collect_set(struct(tupleExprs: _*)).as("tuples"))
            .write.format("noop").mode("overwrite").save()
        }
        // defensive getOrElse: AQE's empty-relation propagation can prune
        // the CollectMetrics node (empty merge input) and the observation
        // completes with an empty map (the r12 x7 lesson)
        twObs.get.getOrElse("tuples", null) match {
          case rows: scala.collection.Seq[_] => rows.toSeq.map {
            case r: org.apache.spark.sql.Row =>
              pruneCols.indices.map(i => String.valueOf(r.get(i)))
          }
          case _ => Seq.empty
        }
      }
    // concat_ws SKIPS nulls while the driver side renders "null", so
    // null parts are rendered explicitly to keep the two sides aligned.
    val partitionPrune: Option[Column] =
      if (touched.length > 4096 || touched.isEmpty) None
      else Some(concat_ws("",
          pruneCols.map(c => coalesce(col(c).cast("string"), lit("null"))): _*)
        .isin(touched.map(_.mkString("")): _*))
    // Event-time window prune on the read-back scan, ON TOP of the
    // partition-tuple prune: a streaming feed lands every micro-batch
    // in the SAME (ticker, day) partitions, so the tuple prune alone
    // still re-scans the day's accumulated files each trigger and the
    // merge cost ramps with store history (measured: fixed 7500-row
    // batches' per-merge time ~2 s at batch 2 vs ~6 s with an 18 s
    // spike by batch 8 of one run — scale/REPORT_r10.md bisection).
    // The event-time column is part of the index key, so any existing
    // row that can match a batch key carries one of the batch's own ts
    // values — all inside the batch's [min, max] ts window — and the
    // window predicate is pushed to parquet, skipping every earlier
    // file by row-group stats. Batch rows always have non-null index
    // cols here (keepCond), so min/max are total over the batch and
    // the prune can never hide a matching row. One extra tiny agg on
    // the cached batch buys a scan bounded by the batch's time span
    // instead of the partition's history.
    // Skipped when the partition prune itself degraded to None (a
    // >4096-partition bulk backfill): such a batch spans the table's
    // whole history, the between-predicate would prune nothing, and
    // the min/max agg is one whole Spark action per upsert — the prune
    // pays only on the streaming path it was built for (round-10
    // ADVICE).
    val tsWindow: Option[Column] = partitionPrune.flatMap { _ =>
      val m = twObs.get
      (Option(m.getOrElse("mn", null)), Option(m.getOrElse("mx", null))) match {
        case (Some(lo), Some(hi)) =>
          Some(col(dt.tsCol).between(lit(lo), lit(hi)))
        case _ => None
      }
    }
    val existingRaw0 = readOrEmpty(spark, root, dt,
      deduped.withColumn("version", lit(1)).schema)
    val existingRaw1 = partitionPrune
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
    // Batch-bounded broadcast sides (streaming path): when the
    // partition-tuple prune holds (≤4096 touched partitions) and the
    // batch is admission-capped (cheap mode, input unknown = -1) or
    // provably small, every merge frame derived from the batch —
    // distinct probe keys, the pruned read-back, its per-key max
    // version — is bounded by BATCH size, not store size, so they ride
    // the joins as broadcasts and the big side keeps its one idx
    // partitioning instead of re-exchanging per join (guide §3.1). A
    // bulk backfill (prune degraded, or a large full-counts batch)
    // keeps the shuffle joins: its read-back is store-sized and must
    // never be collected to the driver.
    val smallBatch = partitionPrune.isDefined && (input < 0L || input <= 1000000L)
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (smallBatch) broadcast(df) else df
    val existing = existingAll
      .join(maybeBroadcast(deduped.select(idxCols.map(col): _*).distinct()),
        idxCols, "left_semi")
      .select((idxCols ++ payloadCols :+ "version").map(col): _*)
      .cache()

    // Both working caches release on EVERY exit path (A6 failures, IO
    // errors mid-stage/publish) — a failed micro-batch must not leak
    // executor storage for the life of the session.
    try {

    // A3 (vs store): drop rows whose payload already exists for the key.
    // Null-safe equality: disjoint-null trade/quote payloads compare
    // correctly (reference: sql_db.py:485-492).
    val fresh = deduped.join(maybeBroadcast(existing),
      nullSafeEq(deduped, existing, idxCols ++ payloadCols), "left_anti")

    // A4: version = max(existing)+rank within key. Within-batch conflict
    // order uses a deterministic payload-hash sort (the reference uses
    // arrival order; a distributed batch has no arrival order, so we make
    // replay-stable ordering explicit).
    val maxv = existing.groupBy(idxCols.map(col): _*)
      .agg(max(col("version")).as("__maxv"))
    val w = Window.partitionBy(idxCols.map(col): _*)
      .orderBy(xxhash64(payloadCols.map(col): _*))
    val versionedRaw = fresh
      .join(maybeBroadcast(maxv), idxCols, "left")
      .withColumn("version",
        (coalesce(col("__maxv"), lit(0L)) + row_number().over(w)).cast("int"))
      .drop("__maxv")
    val versioned = verObs.map(o => versionedRaw.observe(o,
      count(when(col("version") === 1, lit(1))).as("v1")))
      .getOrElse(versionedRaw)

    // T7: exchange-local calendar partition columns from event time
    // (eventTs/partCols defined with the pruned read-back above)
    val outLazy = versioned.withColumn("y", py).withColumn("m", pmo).withColumn("d", pda)
      .select((idxCols ++ payloadCols ++ Seq("version") ++ partCols.drop(1)).distinct.map(col): _*)
    // Pin the merge output ONCE (eager localCheckpoint): every consumer
    // below — counts, per-ticker stats, conflicts, and the data append
    // itself — previously re-executed the whole merge pipeline
    // (read-back scan + semi/anti joins + version window) from the
    // deduped/existing caches: 2 full executions per streaming
    // micro-batch, 4 on the full-counts path. A micro-batch's merge
    // output is batch-bounded, so the pinned blocks are small at any
    // store size; the pipeline now runs exactly once per upsert
    // (guide §5: localCheckpoint to cut lineage / avoid recompute). In
    // cheap mode the in-plan assert_true A6 guard fires HERE, still
    // before anything is staged or committed. The blocks release via
    // the context cleaner once the batch's frame is unreferenced.
    val out = labeled("merge + pin output")(outLazy.localCheckpoint(true))

    // ALL stats counts must run before the data append below: the append
    // invalidates the cached `existing` plan (recacheByPath) — with the
    // merge output pinned above, downstream consumers read checkpoint
    // blocks and can no longer be poisoned by that invalidation, but the
    // counts stay ahead of the append anyway (they are part of the
    // pre-commit stats row).
    val written = if (collectCounts) out.count() else -1L
    val dedupedN = if (collectCounts) deduped.count() else -1L
    val nullSkipped = if (collectCounts) input - nonNull.count() else -1L
    val conflicts =
      if (collectCounts) written - out.filter(col("version") === 1).count()
      else -1L

    // A12 transactional batch commit (reference: sql_db.py:455,553-557 —
    // BEGIN IMMEDIATE around the whole batch): data files and the batch's
    // A7/A8 stats-log row (the reference's O(1) running min/max/count
    // maintenance, sql_db.py:34-40,559-669) are STAGED, moved into place,
    // and made visible by one atomic manifest rename ([[TableLog]]). A
    // crash anywhere before that rename leaves only unreferenced files —
    // readers see the pre-batch state, and stats can never drift from
    // data. Readers merge the stats log (sum/min/max re-aggregate
    // losslessly) and never scan the data, however large the table grows.
    var writtenFinal = written
    var cheapStats: Option[UpsertStats] = None
    if (!collectCounts || written > 0) {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
      val sp = new org.apache.hadoop.fs.Path(statsLogPath(root, dt))
      val stageId = java.util.UUID.randomUUID().toString
      val stageData = new org.apache.hadoop.fs.Path(root, s"${stagePrefix(dt)}$stageId-data")
      val stageStats = new org.apache.hadoop.fs.Path(root, s"${stagePrefix(dt)}$stageId-stats")

      val statsKeys = Seq("ticker") ++ dt.extraIndexCols.filter(_ == "interval")
      val statsDf = out.groupBy(statsKeys.map(col): _*)
        .agg(count(lit(1)).as("row_count"),
          min(col(dt.tsCol)).as("min_ts"), max(col(dt.tsCol)).as("max_ts"))
      if (collectCounts) {
        statsDf.coalesce(1).write.parquet(stageStats.toString)
      } else {
        // cheap mode: the per-ticker stats rows are tiny — collect them
        // (the mode's single extra action) and derive `written` from
        // their sum; the local relation then writes without a job. The
        // same action fires the observations (and the assert_true A6
        // guard — a violating batch fails HERE, before anything is staged
        // or committed).
        val statsRows = labeled("stats rows")(statsDf.collect())
        writtenFinal = statsRows.map(_.getAs[Long]("row_count")).sum
        def metric(o: Option[Observation], key: String): Long =
          o.flatMap(_.get.get(key)).map(_.asInstanceOf[Long]).getOrElse(-1L)
        val inputN = metric(batchObs, "input")
        val nullIdx = metric(batchObs, "null_idx")
        val nullPay = metric(batchObs, "null_payload")
        val dedupN = metric(dedupObs, "n")
        val v1 = metric(verObs, "v1")
        cheapStats = Some(UpsertStats(inputN, writtenFinal,
          if (dedupN >= 0) dedupN - writtenFinal else -1L,
          if (nullIdx >= 0 && nullPay >= 0) nullIdx + nullPay else -1L,
          if (v1 >= 0) writtenFinal - v1 else -1L))
        if (writtenFinal > 0) {
          spark.createDataFrame(java.util.Arrays.asList(statsRows: _*), statsDf.schema)
            .coalesce(1).write.parquet(stageStats.toString)
        }
      }
      if (writtenFinal != 0) {
        // Migration/genesis commit BEFORE promoting this batch: a
        // pre-manifest table snapshots its legacy files into their own
        // commit; a fresh table publishes an empty genesis commit. Either
        // way the log exists from here on, so a crash between promote and
        // publish leaves this batch's files UNREFERENCED (invisible,
        // vacuumable) — a later run can never sweep a torn batch in as
        // "legacy" data.
        if (!TableLog.exists(fs, tp))
          TableLog.publish(fs, tp,
            TableLog.legacyFiles(fs, tp), TableLog.legacyFiles(fs, sp))
        // Pin the table's partitioning tz on first publish; later upserts
        // with a different tz fall back to ticker-only read-back pruning.
        writeTzMarkerIfAbsent(fs, tzMarkerPath(root, dt), exchangeTz)
        // One file per touched partition either way. A batch-bounded
        // streaming merge takes coalesce(1) — a NARROW op on the pinned
        // checkpoint blocks, so the write costs no exchange and no AQE
        // wave (the dynamic writer still splits by partition dir); a
        // bulk backfill keeps the hash repartition, whose width the
        // store-sized batch actually needs.
        labeled("stage data write") {
          (if (smallBatch) out.coalesce(1)
           else out.repartition(partCols.map(col): _*))
            .write
            .partitionBy(partCols: _*)
            .parquet(stageData.toString)
        }
        val dataRel = TableLog.promote(fs, stageData, tp)
        val statsRel = TableLog.promote(fs, stageStats, sp)
        TableLog.publish(fs, tp, dataRel, statsRel)
        // Manifest squash: a streaming sink lands one manifest per
        // micro-batch and every read pays an O(commits) listing. Each
        // AutoSquashEvery commits, fold the live set into one reset
        // manifest (no data rewrite) and prune the superseded manifests —
        // commit listing stays O(1) however long the stream runs.
        if (TableLog.maybeCheckpoint(fs, tp, AutoSquashEvery))
          TableLog.vacuum(fs, tp, sp)
      }
      fs.delete(stageData, true)
      fs.delete(stageStats, true)
    }

    cheapStats.getOrElse(UpsertStats(input, writtenFinal,
      if (collectCounts) dedupedN - written else -1L, nullSkipped, conflicts))
    } finally { deduped.unpersist(); existing.unpersist() }
  }

  /** Read the stored table (post-merge). Manifest-aware: only files a
    * committed manifest references are visible (a crashed half-written
    * batch is not); tables without a commit log (legacy layout) read the
    * directory. `mergeSchema` unifies files from before/after any
    * dynamically-added column (A10): old rows carry null in the new
    * column. `basePath` keeps partition-column inference — and therefore
    * Catalyst partition pruning — identical to a plain directory read. */
  // Unified-schema memo per (table, last commit id): mergeSchema reads
  // every file's footer on every call — O(files) per read, per
  // micro-batch on the streaming path. The union schema only changes
  // when a commit lands (evolution), so one mergeSchema inference per
  // commit id is cached and later reads pass the schema explicitly (the
  // parquet reader null-fills columns a file lacks, which is exactly the
  // append-only evolution semantics).
  private val tableSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, org.apache.spark.sql.types.StructType)]()

  def table(spark: SparkSession, root: String, dt: StockDataType): DataFrame = {
    val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedState(fs, tp) match {
      case Some(st @ (_, files)) if files.nonEmpty => tableFromState(spark, tp, st)
      case _ =>
        spark.read.option("mergeSchema", "true").parquet(tablePath(root, dt))
    }
  }

  private def tableFromState(spark: SparkSession, tp: org.apache.hadoop.fs.Path,
      state: (Long, Seq[String])): DataFrame = {
    val (lastId, files) = state
    val key = tp.toString
    val cached = tableSchemaCache.get(key)
    if (cached != null && cached._1 == lastId)
      spark.read.schema(cached._2).option("basePath", tp.toString).parquet(files: _*)
    else {
      val df = spark.read.option("mergeSchema", "true")
        .option("basePath", tp.toString).parquet(files: _*)
      tableSchemaCache.put(key, (lastId, df.schema))
      df
    }
  }

  /** Time-travel read: the table AS OF `commitId` — byte-identical to
    * what a reader saw after that commit published, however many batches
    * landed since. The manifest log makes this free: a snapshot is just
    * the commit prefix ≤ commitId (back to its preceding reset). The
    * natural use at scale is a REPRODUCIBLE training snapshot: pin the
    * commit id a run trained on and re-read it later, while ingestion
    * keeps appending. Snapshots survive until the next reset commit's
    * vacuum reclaims pre-reset files ([[TableLog.effectiveAt]]).
    * @throws IllegalArgumentException for unknown ids or pre-manifest
    *         (legacy) tables */
  def tableAt(spark: SparkSession, root: String, dt: StockDataType,
      commitId: Long): DataFrame = {
    val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = TableLog.commits(fs, tp)
    require(all.nonEmpty, s"${dt.name} has no commit log (legacy table) — no history to travel")
    require(all.exists(_.id == commitId),
      s"unknown commit $commitId for ${dt.name}; have ${all.map(_.id).mkString(",")}")
    val files = TableLog.effectiveAt(all, commitId)._1
      .map(r => new org.apache.hadoop.fs.Path(tp, r).toString)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        table(spark, root, dt).schema)
    else spark.read.option("mergeSchema", "true")
      .option("basePath", tp.toString).parquet(files: _*)
  }

  /** Commit ids currently in the log for `dt` (ascending) — the pinnable
    * snapshot handles for [[tableAt]]. */
  def commitIds(spark: SparkSession, root: String, dt: StockDataType): Seq[Long] = {
    val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableLog.commits(fs, tp).map(_.id)
  }

  /** One snapshot of the commit log: (last commit id, absolute committed
    * data files), or None if the table predates the log. Reading id and
    * file set from the SAME listing keeps the schema memo consistent when
    * a commit lands concurrently with a read. */
  private def committedState(fs: org.apache.hadoop.fs.FileSystem,
      tp: org.apache.hadoop.fs.Path): Option[(Long, Seq[String])] = {
    val cs = TableLog.commits(fs, tp)
    if (cs.isEmpty) None
    else Some((cs.last.id, TableLog.effectiveFrom(cs)._1
      .map(r => new org.apache.hadoop.fs.Path(tp, r).toString)))
  }

  /** Compact the small files that per-micro-batch appends accumulate
    * (SURVEY §7.4 risk 5): rewrite the table so each partition directory
    * holds one file again, preserving every row/version, plus ONE
    * consolidated stats-log file. The swap is a `reset` commit in the
    * [[TableLog]] manifest — readers atomically flip from the old file
    * set to the new one (no delete-then-rename window), and old files and
    * superseded manifests are vacuumed afterwards. The reference
    * sidesteps compaction because SQLite updates B-trees in place; a
    * columnar store pays it as a periodic maintenance job instead.
    * @return number of rows in the compacted table */
  def compact(spark: SparkSession, root: String, dt: StockDataType): Long =
    writerLock(root, dt).synchronized { compactLocked(spark, root, dt) }

  private def compactLocked(spark: SparkSession, root: String, dt: StockDataType): Long = {
    import org.apache.hadoop.fs.Path
    val df = table(spark, root, dt)
    val partCols = Seq("ticker", "y", "m", "d").filter(df.columns.contains)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tp = new Path(tablePath(root, dt))
    val sp = new Path(statsLogPath(root, dt))
    val stageId = java.util.UUID.randomUUID().toString
    val stageData = new Path(root, s"${stagePrefix(dt)}$stageId-data")
    val stageStats = new Path(root, s"${stagePrefix(dt)}$stageId-stats")

    df.repartition(partCols.map(col): _*)
      .write
      .partitionBy(partCols: _*)
      .parquet(stageData.toString)
    val rows = spark.read.parquet(stageData.toString).count()
    // consolidated stats log: one row per key over the full table, same
    // written-rows semantics the per-batch log accumulates
    val statsKeys = Seq("ticker") ++ dt.extraIndexCols.filter(_ == "interval")
    df.groupBy(statsKeys.map(col): _*)
      .agg(count(lit(1)).as("row_count"),
        min(col(dt.tsCol)).as("min_ts"), max(col(dt.tsCol)).as("max_ts"))
      .coalesce(1)
      .write.parquet(stageStats.toString)

    val dataRel = TableLog.promote(fs, stageData, tp)
    val statsRel = TableLog.promote(fs, stageStats, sp)
    TableLog.publish(fs, tp, dataRel, statsRel, reset = true)
    fs.delete(stageData, true)
    fs.delete(stageStats, true)
    TableLog.vacuum(fs, tp, sp, stageRoot = Some(new Path(root)),
      stagePrefix = stagePrefix(dt))
    rows
  }

  /** A7: per-ticker stats view (reference __table_stats__,
    * sql_db.py:559-599). Parquet footers already carry min/max; this
    * materializes the discovery-API shape. */
  def tableStats(spark: SparkSession, root: String, dt: StockDataType): DataFrame =
    table(spark, root, dt).groupBy(col("ticker"))
      .agg(count(lit(1)).as("row_count"),
        min(col(dt.tsCol)).as("min_ts"), max(col(dt.tsCol)).as("max_ts"))

  /** A8: per-(ticker, interval) stats view (reference __interval_stats__,
    * sql_db.py:601-669). */
  def intervalStats(spark: SparkSession, root: String, dt: StockDataType): DataFrame = {
    require(dt.extraIndexCols.contains("interval"), s"${dt.name} has no interval column")
    table(spark, root, dt).groupBy(col("ticker"), col("interval"))
      .agg(count(lit(1)).as("row_count"),
        min(col(dt.tsCol)).as("min_ts"), max(col(dt.tsCol)).as("max_ts"))
  }

  private def statsLogPath(root: String, dt: StockDataType) = s"$root/${dt.name}__stats"

  /** Partitioning-identity marker: the tz that stamped this table's
    * (y,m,d) partition columns, persisted on first publish. Upserts
    * whose tz disagrees with the marker degrade the read-back prune to
    * ticker-only (merge stays exact; see the prune comment in
    * [[upsertLocked]]). One tiny immutable file — create-if-absent is
    * atomic on both local FS and the object-store binding (conditional
    * PUT), so concurrent first writers cannot disagree. */
  private def tzMarkerPath(root: String, dt: StockDataType) =
    new org.apache.hadoop.fs.Path(s"$root/${dt.name}__tz")

  // The marker is immutable once written (create-if-absent, never
  // modified): memoize positive reads so the streaming sink pays the
  // exists+open+read round-trip once per table, not once per micro-batch.
  // Absence is NOT cached — the marker lands at this table's first
  // publish.
  private val tzMarkerCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def readTzMarker(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] = {
    val key = fs.makeQualified(p).toString
    val hit = tzMarkerCache.get(key)
    if (hit != null) Some(hit)
    else if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val tz =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      tzMarkerCache.put(key, tz)
      Some(tz)
    }
  }

  private def writeTzMarkerIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, tz: String): Unit =
    if (!fs.exists(p)) try {
      val out = fs.create(p, false)
      try out.write(tz.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () } // lost the create race: marker stands

  /** A7/A8 without touching the data: merge the per-batch stats log that
    * [[upsert]] appends. Equals the full-scan view (StatsSpec) at a cost
    * proportional to the number of batches, not rows — the discovery
    * query stays cheap at any table size. Note: rows are counted as
    * WRITTEN (post-dedup, including versioned conflicts), same as the
    * scan views. */
  def incrementalStats(spark: SparkSession, root: String, dt: StockDataType): DataFrame = {
    val keys = Seq("ticker") ++ dt.extraIndexCols.filter(_ == "interval")
    val tp = new org.apache.hadoop.fs.Path(tablePath(root, dt))
    val sp = new org.apache.hadoop.fs.Path(statsLogPath(root, dt))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log =
      if (TableLog.exists(fs, tp)) {
        val files = TableLog.effective(fs, tp)._2
          .map(r => new org.apache.hadoop.fs.Path(sp, r).toString)
        spark.read.parquet(files: _*)
      } else spark.read.parquet(statsLogPath(root, dt))
    log.groupBy(keys.map(col): _*)
      .agg(sum(col("row_count")).as("row_count"),
        min(col("min_ts")).as("min_ts"), max(col("max_ts")).as("max_ts"))
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
