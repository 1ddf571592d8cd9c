package graft.corpus

import graft.store.{InPlaceWrite, ManifestTable, TableLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-corpus sink — where the cleaning/dedup plane's output
  * lands. Snapshots write partitioned by (split, lang) — the two
  * predicates every training read filters on, so Catalyst prunes a
  * train-English read to exactly its directories — and become visible
  * atomically through the SAME manifest layer as the tick store
  * ([[graft.store.ManifestTable]] over [[graft.store.TableLog]]): files
  * written in place → ONE publish, read back through one relation. A crash
  * mid-write leaves files unreferenced (invisible, vacuumable), never a
  * half-visible corpus; every snapshot's commit id is a pinnable,
  * reproducible training input ([[snapshotAt]]), so "which data did run
  * N train on" has an exact answer while later snapshots keep landing.
  *
  * The split column is the x17 assignment (salted md5 mod 100 →
  * 80/10/10): a pure function of doc_id, so re-snapshotting a GROWN
  * corpus never moves an existing doc across splits.
  */
object CorpusStore {

  private def tablePath(root: String) = s"$root/corpus"

  /** Deterministic split assignment — the x17 formula. */
  def withSplit(docs: DataFrame): DataFrame = {
    val bucket = pmod(graft.functions.HashFunctions.md5Long(
      concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
    docs.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
  }

  /** Atomically publish a corpus snapshot; returns the commit id.
    * `docs` needs doc_id and lang; split derives if absent. */
  def writeSnapshot(docs: DataFrame, root: String): Long = {
    val spark = docs.sparkSession
    val tp = new Path(tablePath(root))
    val fs = ManifestTable.fs(spark, tp)
    val rows = if (docs.columns.contains("split")) docs else withSplit(docs)
    ManifestTable.ensureLog(fs, tp)
    val rel = InPlaceWrite.parquet(
      rows.repartition(col("split"), col("lang")), // one file per partition dir
      tp, Seq("split", "lang"))
    // reset commit: a snapshot REPLACES the live corpus (prior
    // snapshots stay pinnable via snapshotAt until a vacuum)
    TableLog.publish(fs, tp, rel, Nil, reset = true)
  }

  /** The live committed corpus (partition columns inferred, so split/lang
    * filters prune directories). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val tp = new Path(tablePath(root))
    val fs = ManifestTable.fs(spark, tp)
    val live = ManifestTable.latest(fs, tp).filter(_.data.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(s"no committed corpus under $tp"))
    ManifestTable.relation(spark, fs, tp, live.data, live)
  }

  /** Doc-level changelog between two pinned snapshots: one row per
    * (doc_id, change ∈ added|removed). The audit trail for "what moved
    * between the corpus run N trained on and run N+1" — an anti-join
    * each way on doc_id, no content comparison (content-stable ids are
    * the corpus contract; re-texted docs get new ids upstream). */
  def diff(spark: SparkSession, root: String, fromId: Long, toId: Long): DataFrame = {
    val from = snapshotAt(spark, root, fromId).select(col("doc_id"))
    val to = snapshotAt(spark, root, toId).select(col("doc_id"))
    to.join(from, Seq("doc_id"), "left_anti").withColumn("change", lit("added"))
      .unionByName(
        from.join(to, Seq("doc_id"), "left_anti").withColumn("change", lit("removed")))
  }

  /** The corpus exactly as of `commitId` — the reproducible-training pin. */
  def snapshotAt(spark: SparkSession, root: String, commitId: Long): DataFrame = {
    val tp = new Path(tablePath(root))
    val fs = ManifestTable.fs(spark, tp)
    val s = ManifestTable.at(fs, tp, commitId)
    ManifestTable.relation(spark, fs, tp, s.data, s)
  }
}
