package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import java.nio.charset.StandardCharsets

/** Manifest-based atomic commit log for a parquet table tree — the
  * transactional piece the reference gets from SQLite's `BEGIN IMMEDIATE`
  * (reference: src/stockops/data/database/sql_db.py:455,553-557) and a
  * columnar store normally gets from a table format.
  *
  * Protocol (single writer, like the reference's `writer-1`):
  *   1. the writer creates new parquet files directly in their final
  *      partition directories ([[InPlaceWrite]]; unique names — never
  *      overwrites);
  *   2. visibility is granted by ONE exclusively-created, self-validating
  *      manifest file at `_commits/NNNNNNNNNN.commit`; the manifest lists
  *      every data file the commit adds, with the stats the write gathered
  *      for it, and closes with an `end` sentinel. A crash before the
  *      sentinel lands leaves a torn manifest readers skip, and orphan
  *      files no manifest references — invisible to readers and reclaimed
  *      by [[vacuum]].
  * Because a file's stats ride its own manifest lines, data and stats
  * become visible together and can never drift apart — the per-file
  * stats log of Delta Lake (VLDB 2020).
  *
  * A `reset` commit (compaction or a [[checkpoint]] squash) replaces the
  * whole referenced set: the effective file set is the union of commits
  * after the last reset. Readers derive partition columns from the final
  * directory layout (`basePath`), so Catalyst partition pruning works
  * exactly as on a plain directory table. The atomic-publish primitive
  * is pluggable ([[ManifestStore]]): exclusive create (atomic on HDFS)
  * by default, a conditional put (S3 `If-None-Match: *` and kin) for
  * object stores — so multi-writer safety does not rest on an external
  * scheduler at the object-store design point.
  *
  * Format: line-oriented, closed by a bare `end` line. A `data<TAB>path`
  * line adds a table-relative file; a `filestats<TAB>path<TAB>fields`
  * line carries stats for one file (several lines may name one file, and
  * the fields are the writer's, see [[FileStats]]). Partition path
  * segments are URL-encoded by Spark, so paths are tab/newline-free by
  * construction. Manifests written before per-file stats also hold
  * `stats` lines naming files of a separate stats-log tree; those lines
  * are ignored, and their data files read as files without stats. The
  * sentinel makes a manifest self-validating: it is written DIRECTLY at
  * its final path with `create(overwrite = false)`, so a concurrent writer racing
  * the same id FAILS (and retries with the next id) instead of silently
  * replacing a committed manifest — the POSIX/object-store `rename`
  * overwrite hazard. A reader (or a crash) that catches a manifest
  * mid-write sees no `end` line and skips it as uncommitted; the next
  * writer's max+1 id derivation still counts the torn file's NAME, so
  * the id is never reused, and [[vacuum]] reclaims the torn manifest.
  * Same-JVM writers are additionally serialized per table by a process
  * lock (the reference's single `writer-1`, sql_db.py:455).
  */
object TableLog {

  /** One published manifest. A table dropped and recreated at the same
    * path restarts ids at 0, so an id alone does not name a commit across
    * a process's life — [[stamp]] does: `table` is the log's token (see
    * [[TokenPrefix]]), `len` and `mtime` the manifest file's own, as the
    * commit listing saw them. */
  final case class Commit(id: Long, reset: Boolean,
      dataFiles: Seq[String], fileStats: Seq[FileStatsLine],
      table: String, len: Long, mtime: Long) {
    def stamp: Commit.Stamp = Commit.Stamp(table, id, len, mtime)
  }
  object Commit {
    final case class Stamp(table: String, id: Long, len: Long, mtime: Long)
  }

  /** One `filestats` line: stats `fields` for data file `file` (table
    * relative). The log stores the fields as given; they may hold tabs
    * but no newline. */
  final case class FileStatsLine(file: String, fields: String)

  private def commitsDir(tablePath: Path) = new Path(tablePath, "_commits")

  /** Name prefix of the log's token: an empty `_commits/_table-<uuid>`
    * file that [[publish]] creates when the log has none, so every table
    * this code writes gets a fresh random token when it is created. It
    * tells a table recreated at the same path from the old one — manifest
    * names repeat, and a backend may report equal lengths and no mtime
    * (the object-store binding reports mtime 0). The token rides the
    * listing [[commits]] already makes. Two first writers in different
    * processes may each create one; the smallest name is the token. A
    * log written before tokens existed reads as token "" until its next
    * publish. */
  private val TokenPrefix = "_table-"

  /** True iff at least one VALID published commit exists. Checking for
    * the directory (or for any `*.commit` name) alone is wrong: a crash
    * after mkdirs — or mid-manifest-write, leaving a torn file — would
    * otherwise flip a populated legacy table into "manifest mode with
    * nothing committed" and hide its data. */
  def exists(fs: FileSystem, tablePath: Path): Boolean =
    commits(fs, tablePath).nonEmpty

  /** None for a torn manifest (no `end` sentinel / bad header): either a
    * writer crashed mid-create or we are reading concurrently with one —
    * in both cases the commit has not happened. */
  private def parseUncached(fs: FileSystem, st: FileStatus, table: String): Option[Commit] = {
    val p = st.getPath
    val body = new String(readAll(fs, p), StandardCharsets.UTF_8)
    val lines = body.linesIterator.toSeq
    if (!lines.headOption.contains("graft-commit-v1") ||
        !lines.lastOption.contains("end")) return None
    val kv = lines.drop(1).dropRight(1).filter(_.contains('\t')).map { l =>
      val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
    }
    Some(Commit(
      id = p.getName.stripSuffix(".commit").toLong,
      reset = kv.exists { case (k, v) => k == "reset" && v == "true" },
      dataFiles = kv.collect { case ("data", v) => v },
      fileStats = kv.collect { case ("filestats", v) if v.contains('\t') =>
        val i = v.indexOf('\t'); FileStatsLine(v.substring(0, i), v.substring(i + 1))
      },
      table = table, len = st.getLen, mtime = st.getModificationTime))
  }

  /** Published manifests are IMMUTABLE (created once at their final path,
    * never modified), so a successful parse can be memoized by qualified
    * path: [[commits]] then costs one directory listing instead of
    * O(live manifests) file opens — which a streaming upsert sink pays
    * several times per micro-batch (read-back, exists, publish,
    * maybeCheckpoint), ramping with commit count until the next squash.
    * A hit counts only when the log's token and the listed length and
    * modification time match the parsed file's: a table dropped and
    * recreated at the same path reuses manifest names, and must not be
    * served the old table's file lists. Only Some results are cached: a
    * torn manifest may be a concurrent writer mid-create whose `end`
    * sentinel lands later (exclusive-create seam), so None must be
    * re-read. Vacuumed manifests simply stop being listed, and the
    * least recently used entries make way past 65,536, so a long-lived
    * process stays bounded without dropping the manifests its live
    * tables read on every trigger. */
  private val parseCache = new LruCache[String, Commit](65536)
  private def parse(fs: FileSystem, st: FileStatus, table: String): Option[Commit] = {
    val key = fs.makeQualified(st.getPath).toString
    parseCache.get(key).filter(hit => hit.table == table && hit.len == st.getLen &&
        hit.mtime == st.getModificationTime)
      .orElse {
        val r = parseUncached(fs, st, table)
        r.foreach(parseCache.put(key, _))
        r
      }
  }

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** All VALID commits in order (torn manifests skipped), or empty if
    * the table has no log. */
  def commits(fs: FileSystem, tablePath: Path): Seq[Commit] = {
    val dir = commitsDir(tablePath)
    if (!fs.exists(dir)) Seq.empty
    else {
      val listed = fs.listStatus(dir)
      val table = listed.map(_.getPath.getName).filter(_.startsWith(TokenPrefix))
        .sorted.headOption.fold("")(_.stripPrefix(TokenPrefix))
      listed.filter(_.getPath.getName.endsWith(".commit"))
        .sortBy(_.getPath.getName)
        .flatMap(parse(fs, _, table)).toSeq
    }
  }

  /** Effective committed files from an already-read commit list: the
    * union of commits after the last reset — the data files (relative to
    * the table dir) and the stats lines published for them. */
  def effectiveFrom(all: Seq[Commit]): (Seq[String], Seq[FileStatsLine]) = {
    val lastReset = all.lastIndexWhere(_.reset)
    val live = if (lastReset < 0) all else all.drop(lastReset)
    (live.flatMap(_.dataFiles), live.flatMap(_.fileStats))
  }

  /** Effective committed data files (see [[effectiveFrom]]). The second
    * element is always empty: it stands where the stats-log files were,
    * for callers that still destructure that pair. */
  def effective(fs: FileSystem, tablePath: Path): (Seq[String], Seq[String]) =
    (effectiveFrom(commits(fs, tablePath))._1, Nil)

  /** Effective files AS OF `commitId` (inclusive) — the table exactly
    * as a reader saw it after that commit published. History extends back
    * to the last reset at or before `commitId`; a reset (compaction or
    * squash) plus its vacuum reclaims older files, so snapshots older
    * than the latest reset are only readable until that vacuum runs. */
  def effectiveAt(all: Seq[Commit], commitId: Long): (Seq[String], Seq[FileStatsLine]) =
    effectiveFrom(all.filter(_.id <= commitId))

  /** Same-JVM commit serialization, keyed by qualified table path. The
    * cross-JVM guard is the exclusive create below. */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(fs: FileSystem, tablePath: Path): Object =
    publishLocks.computeIfAbsent(fs.makeQualified(tablePath).toString, _ => new Object)

  /** Atomically publish a commit; returns its id. Ids are max+1 (derived
    * from manifest FILE NAMES — torn files included, so an id is never
    * reused) and the manifest lands via `store.putIfAbsent` at its final
    * path: a concurrent writer racing the same id LOSES the put and
    * retries with the next id, never a silent overwrite (POSIX rename(2)
    * and default object-store puts replace an existing destination —
    * both seams forbid that). With the default [[ManifestStore
    * .ExclusiveCreate]] the `end` sentinel written last makes the commit
    * point the close(): a reader or crash that catches the file earlier
    * sees a torn, skipped manifest. An object-store deployment passes
    * the conditional-put implementation instead ([[ManifestStore
    * .ConditionalPutStub]] and its scaladoc) — there manifests appear
    * atomically whole, and the sentinel check simply never fires.
    * Same-process writers (the [[graft.jobs.JobRegistry]] case) are
    * additionally serialized by the JVM lock. */
  def publish(fs: FileSystem, tablePath: Path, dataFiles: Seq[String],
      fileStats: Seq[FileStatsLine], reset: Boolean = false,
      store: ManifestStore = ManifestStore.ExclusiveCreate): Long = {
    require(!fileStats.exists(l => l.file.contains('\t') || (l.file + l.fields).contains('\n')),
      s"stats lines for $tablePath must hold no newline, nor a tab in the file name")
    val lock = lockFor(fs, tablePath)
    lock.synchronized {
      val dir = commitsDir(tablePath)
      fs.mkdirs(dir)
      val body = new StringBuilder("graft-commit-v1\n")
      if (reset) body.append("reset\ttrue\n")
      dataFiles.foreach(f => body.append("data\t").append(f).append('\n'))
      fileStats.foreach(l =>
        body.append("filestats\t").append(l.file).append('\t').append(l.fields).append('\n'))
      body.append("end\n")
      val bytes = body.toString.getBytes(StandardCharsets.UTF_8)
      var attempt = 0
      var committed = -1L
      while (committed < 0) {
        val names = fs.listStatus(dir).map(_.getPath.getName)
        if (!names.exists(_.startsWith(TokenPrefix)))
          fs.create(new Path(dir, TokenPrefix + java.util.UUID.randomUUID()), false).close()
        val id = names
          .filter(_.endsWith(".commit"))
          .map(_.stripSuffix(".commit").toLong)
          .sorted.lastOption.map(_ + 1).getOrElse(0L)
        val target = new Path(dir, f"$id%020d.commit")
        if (store.putIfAbsent(fs, target, bytes)) committed = id
        else {
          // lost the id to a concurrent writer (other JVM): take the next
          attempt += 1
          require(attempt <= 50, s"publish lost $attempt id races at $dir")
        }
      }
      committed
    }
  }

  /** Squash the live manifest set into ONE `reset` commit referencing
    * exactly the same files, with their stats lines — no data moves or
    * rewrites. A streaming sink lands one manifest per micro-batch, so
    * commit listing (paid by
    * every read) grows O(commits); a checkpoint folds it back to O(1)
    * once [[vacuum]] prunes the superseded manifests. Returns the squash
    * commit id, or -1 when the log has fewer than two live manifests
    * (nothing to squash). */
  def checkpoint(fs: FileSystem, tablePath: Path): Long = maybeCheckpoint(fs, tablePath, 2)

  /** [[checkpoint]] only when `every` or more manifests are live — the
    * amortized form an upsert loop calls after each publish. Returns the
    * squash commit id, or -1 when it published none. */
  def maybeCheckpoint(fs: FileSystem, tablePath: Path, every: Int): Long =
    lockFor(fs, tablePath).synchronized {
      val all = commits(fs, tablePath)
      val lastReset = all.lastIndexWhere(_.reset)
      val liveManifests = if (lastReset < 0) all.length else all.length - lastReset
      if (liveManifests < every || liveManifests < 2) -1L
      else {
        val (data, stats) = effectiveFrom(all)
        publish(fs, tablePath, data, stats, reset = true)
      }
    }

  /** Parquet files already present under `dir` (root-relative) — folded
    * into the first commit when migrating a plain-append table. */
  def legacyFiles(fs: FileSystem, dir: Path): Seq[String] =
    listFilesRecursively(fs, dir)
      .filter(_.getName.endsWith(".parquet"))
      .map(relativize(dir, _))

  /** Every file under `dir`, found by a `listStatus` walk. Not
    * `fs.listFiles(dir, true)`: that builds a `LocatedFileStatus` per
    * file, whose constructor loads the file's permissions — on the local
    * FS without the native library, one forked `ls` per file (20 files
    * in nested partition dirs: 390–460 ms, against 6–10 ms for this walk,
    * on a 4-core Linux host). Spark's own leaf-file listing avoids that
    * constructor for the same reason. */
  def listFilesRecursively(fs: FileSystem, dir: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath) else out += st.getPath
    }
    if (fs.exists(dir)) walk(dir)
    out.result()
  }

  private def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val f = p.toUri.getPath
    require(f.startsWith(b + "/"), s"$p not under $base")
    f.substring(b.length + 1)
  }

  /** Delete files under the table tree that no live commit
    * references, plus manifests older than the last reset and (when
    * `stageRoot` is given) leftover `stagePrefix*` dirs of crashed
    * batches from writers that staged before writing in place. Safe
    * under the single-writer assumption (anything unreferenced is either
    * pre-reset garbage or a crashed write, and no batch is in flight FOR
    * THIS TABLE while the writer vacuums — [[StockStore]] calls it under
    * the table's writer lock). Pass the table-scoped `stagePrefix`
    * ([[StockStore]] uses `stage-<dataType>-`) so the sweep never
    * deletes a sibling table's stage dir. */
  def vacuum(fs: FileSystem, tablePath: Path,
      stageRoot: Option[Path] = None, stagePrefix: String = "stage-"): Long = {
    val live = effective(fs, tablePath)._1.map(r => new Path(tablePath, r).toUri.getPath).toSet
    var removed = 0L
    listFilesRecursively(fs, tablePath)
      .filter(p => p.getName.endsWith(".parquet"))
      .filterNot(p => live.contains(p.toUri.getPath))
      .foreach { p => if (fs.delete(p, false)) removed += 1 }
    // crashed-batch staging dirs (they live beside the table dir)
    stageRoot.foreach { r =>
      if (fs.exists(r)) fs.listStatus(r).map(_.getPath)
        .filter(_.getName.startsWith(stagePrefix))
        .foreach { p => if (fs.delete(p, true)) removed += 1 }
    }
    // drop manifests superseded by the last reset, plus torn manifests
    // from crashed publishes (no writer is in flight while we vacuum, so
    // a sentinel-less file can only be a crash leftover)
    val all = commits(fs, tablePath)
    val lastReset = all.lastIndexWhere(_.reset)
    if (lastReset > 0) all.take(lastReset).foreach { c =>
      fs.delete(new Path(commitsDir(tablePath), f"${c.id}%020d.commit"), false)
    }
    val validNames = all.map(c => f"${c.id}%020d.commit").toSet
    val cd = commitsDir(tablePath)
    if (fs.exists(cd)) fs.listStatus(cd).map(_.getPath)
      .filter(p => (p.getName.endsWith(".commit") && !validNames.contains(p.getName)) ||
        // crashed conditional-put stages (ManifestStore.ConditionalPutStub)
        p.getName.startsWith(".tmp-put-"))
      .foreach { p => if (fs.delete(p, false)) removed += 1 }
    removed
  }
}

/** A map of at most `capacity` entries that evicts the least recently
  * read or written one; every access is synchronized. */
private[store] final class LruCache[K, V](capacity: Int) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > capacity
  }
  def get(k: K): Option[V] = synchronized(Option(m.get(k)))
  def put(k: K, v: V): Unit = synchronized { m.put(k, v); () }
}
