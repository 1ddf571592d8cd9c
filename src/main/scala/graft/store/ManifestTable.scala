package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.StructType

/** The table layer under both stores ([[StockStore]] and
  * [[graft.corpus.CorpusStore]]): for a table path, the file system it is
  * read and committed through, its committed state as of the latest
  * commit or an earlier one, the genesis commit, and the one relation
  * every reader builds over a commit's files. The manifest protocol
  * itself (publish, squash, vacuum) is the Spark-free [[TableLog]];
  * writers serialize on locks of their own. One log-backed layer serves
  * every reader and writer, as in Delta Lake (VLDB 2020). */
object ManifestTable {

  /** The file system a store reads and commits `p` through: on the local
    * FS, [[LocalStoreFs]], which creates manifests, markers and
    * directories without forking `chmod`. */
  def fs(spark: SparkSession, p: Path): FileSystem =
    LocalStoreFs.forPath(p, spark.sparkContext.hadoopConfiguration)

  /** A table's committed files as of one commit: `stamp` names the
    * commit, `data` are its effective files, relative to the table
    * directory, `fileStats` the stats lines published for them, and
    * `latest` says whether the commit was the log's last when it was
    * read. */
  final case class Snapshot(stamp: TableLog.Commit.Stamp, data: Seq[String],
      fileStats: Seq[TableLog.FileStatsLine], latest: Boolean)

  /** The log's last commit, or None if the table predates the log (or is
    * absent). Reading id and file set from the SAME listing keeps the
    * schema memo consistent when a commit lands concurrently with a
    * read. */
  def latest(fs: FileSystem, tp: Path): Option[Snapshot] = {
    val all = TableLog.commits(fs, tp)
    all.lastOption.map(snapshot(all, _))
  }

  /** The table AS OF `commitId`: what a reader saw after that commit
    * published, back to its preceding reset ([[TableLog.effectiveAt]]).
    * @throws IllegalArgumentException for unknown ids or pre-manifest
    *         (legacy) tables */
  def at(fs: FileSystem, tp: Path, commitId: Long): Snapshot = {
    val all = TableLog.commits(fs, tp)
    require(all.nonEmpty, s"$tp has no commit log (legacy table) — no history to travel")
    snapshot(all, all.find(_.id == commitId).getOrElse(throw new IllegalArgumentException(
      s"unknown commit $commitId under $tp; have ${all.map(_.id).mkString(",")}")))
  }

  private def snapshot(all: Seq[TableLog.Commit], c: TableLog.Commit): Snapshot = {
    val (data, fileStats) = TableLog.effectiveAt(all, c.id)
    Snapshot(c.stamp, data, fileStats, latest = c.id == all.last.id)
  }

  /** Migration/genesis commit, published BEFORE a writer puts files in
    * the table's directories: a pre-manifest table snapshots its legacy
    * files into their own commit, with no stats; a fresh table publishes
    * an empty genesis commit. Either
    * way the log exists from here on, so a crash between a write and its
    * publish leaves the written files UNREFERENCED (invisible,
    * vacuumable) — a later run can never sweep a torn batch in as
    * "legacy" data. */
  def ensureLog(fs: FileSystem, tp: Path): Unit =
    if (!TableLog.exists(fs, tp)) TableLog.publish(fs, tp, TableLog.legacyFiles(fs, tp), Nil)

  // Union-schema memo per directory, valid for one commit stamp: inferring
  // it reads every file's footer (a Spark job), and [[carrySchemaMemo]]
  // moves it across this process's own commits that add no column. Only
  // reads of the log's last commit store it, so an as-of read never
  // displaces it. The stamp (log token, id, manifest length and mtime),
  // not the id, keeps a table recreated at the same path apart.
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (TableLog.Commit.Stamp, StructType)]()

  // One FileStatusCache client for every table. Committed files are
  // immutable and carry job-unique absolute paths, so a status seen once
  // stays right for as long as a manifest references the path; reads
  // then list only the partition directories of files this process has
  // not seen ([[cacheStatuses]]). The entries live in Spark's shared,
  // size-bounded cache.
  private var fileStatusCache: FileStatusCache = _
  private def fileStatuses(spark: SparkSession) = synchronized {
    if (fileStatusCache == null) fileStatusCache = FileStatusCache.getOrCreate(spark)
    fileStatusCache
  }

  /** The relation over `files` of snapshot `s`, relative to the table
    * directory `base`: what `spark.read.option("mergeSchema",
    * "true").option("basePath", base).parquet(files)` builds, with the
    * shared status cache and the memoized schema, so it neither globs nor
    * lists what it has seen and starts no listing job for what it has
    * not. The union schema (A10) reads old rows with null in a
    * dynamically-added column; `basePath` keeps partition inference, and
    * so Catalyst partition pruning, as on a plain directory read. A read
    * of only some of a snapshot's files passes it with `latest = false`,
    * so their schema never stands as the whole commit's memo. */
  def relation(spark: SparkSession, fs: FileSystem, base: Path, files: Seq[String],
      s: Snapshot): DataFrame = {
    require(files.nonEmpty, s"commit ${s.stamp.id} references no files under $base")
    val key = base.toString
    val opts = Map("basePath" -> key)
    val memo = Option(schemaMemo.get(key)).collect { case (s.stamp, schema) => schema }
    val paths = files.map(new Path(base, _))
    cacheStatuses(fs, paths, fileStatuses(spark))
    val index = new InMemoryFileIndex(spark, paths, opts, memo, fileStatuses(spark))
    // spark.read fails on a path that does not exist; the index alone
    // would skip a missing root path without a word
    val leaves = index.allFiles()
    if (leaves.length != paths.distinct.length) {
      val found = leaves.map(_.getPath.toUri.getPath).toSet
      val missing = paths.filterNot(p => found(p.toUri.getPath))
      throw new java.io.FileNotFoundException(
        s"committed files missing under $base: ${missing.take(5).mkString(", ")}")
    }
    val partSchema = index.partitionSchema
    val dataSchema = memo match {
      case Some(m) =>
        StructType(m.filterNot(f => partSchema.exists(_.name.equalsIgnoreCase(f.name))))
      case None =>
        new ParquetFileFormat().inferSchema(spark, Map("mergeSchema" -> "true"), leaves).get
    }
    val df = spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
      GraftBridge.asNullable(dataSchema), None, new ParquetFileFormat, opts)(spark))
    if (memo.isEmpty && s.latest) schemaMemo.put(key, (s.stamp, df.schema))
    df
  }

  /** Put the status of every committed file `cache` lacks, from one
    * `listStatus` per partition directory that holds any. Left to the
    * index, more than 32 unseen files start Spark's parallel listing job,
    * one task per file (8.4 s at 600 files on a 4-core host). An orphan
    * beside them stays unlisted; a missing committed file stays out, so
    * the index looks for it and the read fails. Statuses are built as
    * Spark's listing builds them: block hosts, and no permission fields,
    * whose load forks `ls` on the local FS without the native library. */
  private def cacheStatuses(fs: FileSystem, files: Seq[Path], cache: FileStatusCache): Unit =
    files.filter(cache.getLeafFiles(_).isEmpty).groupBy(_.getParent).foreach { case (dir, ps) =>
      val wanted = ps.map(p => p.toUri.getPath -> p).toMap
      val listed = try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      listed.foreach { st =>
        wanted.get(st.getPath.toUri.getPath).foreach(p => cache.putLeafFiles(p, Array(
          new LocatedFileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
            st.getModificationTime, 0, null, null, null, null, st.getPath, st.hasAcl,
            st.isEncrypted, st.isErasureCoded, fs.getFileBlockLocations(st, 0, st.getLen)))))
      }
    }

  /** After a writer publishes, move the schema memo of table `tp` from
    * the commit its read-back saw (`before`) to the writer's own last
    * commit — only when the log moved from `before` by this writer alone,
    * and every data column it wrote is already in the memo with the same
    * type. `own` are the ids the writer published (its commit, then the
    * squash if one fired); they must follow `before.id` with no gap. Ids
    * are max+1 over manifest names, so a gap means another writer
    * (another process, or a direct [[TableLog.publish]]) committed in
    * between, maybe a new column, and the memo stays behind. So does it
    * when the batch brings a new column (A10) or a new type; the next
    * read then infers the schema again. */
  def carrySchemaMemo(fs: FileSystem, tp: Path, before: TableLog.Commit.Stamp,
      own: Seq[Long], written: StructType, partCols: Seq[String]): Unit = {
    val key = tp.toString
    val alone = own.zipWithIndex.forall { case (id, i) => id == before.id + 1 + i }
    Option(schemaMemo.get(key)).collect { case (`before`, s) if alone => s }.foreach { s =>
      val known = s.fields.map(f => f.name -> f.dataType).toMap
      val adds = written.fields.filterNot(f => partCols.contains(f.name))
        .exists(f => !known.get(f.name).contains(f.dataType))
      if (!adds) TableLog.commits(fs, tp)
        .find(c => c.id == own.last && c.table == before.table)
        .foreach(c => schemaMemo.replace(key, (before, s), (c.stamp, s)))
    }
  }
}
