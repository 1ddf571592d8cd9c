package graft.corpus

import graft.store.{InPlaceWrite, TableLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-corpus sink — where the cleaning/dedup plane's output
  * lands. Snapshots write partitioned by (split, lang) — the two
  * predicates every training read filters on, so Catalyst prunes a
  * train-English read to exactly its directories — and become visible
  * atomically through the SAME [[graft.store.TableLog]] manifest
  * protocol as the tick store: files written in place → ONE publish. A crash
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
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = if (docs.columns.contains("split")) docs else withSplit(docs)
    if (!TableLog.exists(fs, tp))
      TableLog.publish(fs, tp, TableLog.legacyFiles(fs, tp), Nil)
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
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (files, _) = TableLog.effective(fs, tp)
    require(files.nonEmpty, s"no committed corpus under $tp")
    spark.read.option("basePath", tp.toString)
      .parquet(files.map(f => new Path(tp, f).toString): _*)
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
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = TableLog.commits(fs, tp)
    require(all.exists(_.id == commitId), s"unknown commit $commitId under $tp")
    val (files, _) = TableLog.effectiveAt(all, commitId)
    require(files.nonEmpty, s"commit $commitId references no files")
    spark.read.option("basePath", tp.toString)
      .parquet(files.map(f => new Path(tp, f).toString): _*)
  }
}
