package graft

import graft.model.Streaming
import graft.store.{ObjectStoreFileSystem, StockStore, TableLog}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

/** The local file system under the `hooked` scheme, whose first file
  * created under [[HookedLocalFs.table]] runs [[HookedLocalFs.hook]]
  * first. An upsert creates its data files after its read-back and
  * before its publish, so the hook lands another writer's commit inside
  * that window. */
class HookedLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("hooked:///")
  override def getScheme: String = "hooked"
  private def beforeCreate(p: Path): Unit =
    if (Option(HookedLocalFs.table.get).exists(t => p.toUri.getPath.startsWith(t + "/")))
      Option(HookedLocalFs.hook.getAndSet(null)).foreach { h =>
        HookedLocalFs.ranAt.set(p.getName)
        h.apply()
      }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    beforeCreate(p)
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    beforeCreate(p)
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}
object HookedLocalFs {
  val table = new AtomicReference[String]()
  val hook = new AtomicReference[() => Unit]()
  /** Name of the file whose create ran the hook. */
  val ranAt = new AtomicReference[String]()
}

/** The store's per-process metadata: the manifest parse cache, the
  * union-schema memo, the tz-marker cache and the per-table file-status
  * cache. A streaming sink reads the table back every trigger, so the
  * cost of building that read must follow the files a trigger wrote, and
  * none of the caches may outlive the table they describe. */
class StoreMetadataSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One trade per (ticker, second) starting at `t0Ms`. */
  private def ticks(tickers: Seq[String], t0Ms: Long, perTicker: Int,
      price: Double): DataFrame = {
    import spark.implicits._
    (for (t <- tickers; i <- 0 until perTicker)
      yield (t, new java.sql.Timestamp(t0Ms + i * 1000L), price + i, 5L))
      .toDF("ticker", "timestamp", "price", "volume")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.select("ticker", "timestamp", "price", "volume", "version")
      .collect().map(_.toString).toSeq.sorted

  test("a table dropped and recreated at the same path is read and merged as the new table") {
    val root = SparkTestSession.tempDir("store-recreate")
    // 02:30 UTC is the previous day in New York and the same day in Tokyo,
    // so the two tzs stamp these rows into different day partitions
    val t0 = java.time.Instant.parse("2025-07-02T02:30:00Z").toEpochMilli
    val old = ticks(Seq("AAA", "BBB"), t0, 3, 10.0).withColumn("venue", lit("X"))
    StockStore.upsert(spark, root, Streaming, old, exchangeTz = "America/New_York")
    // a second upsert reads (and memoizes) the old table's tz marker
    assert(StockStore.upsert(spark, root, Streaming, old, exchangeTz = "America/New_York")
      .written == 0)
    assert(StockStore.table(spark, root, Streaming).columns.contains("venue"))
    assert(StockStore.table(spark, root, Streaming).count() == 6)

    val f = fs(root)
    assert(f.delete(new Path(root), true))
    val fresh = ticks(Seq("CCC", "DDD", "EEE"), t0, 2, 20.0)
    val first = StockStore.upsert(spark, root, Streaming, fresh, exchangeTz = "Asia/Tokyo")
    assert(first.written == 6)
    val read = StockStore.table(spark, root, Streaming)
    assert(!read.columns.contains("venue"), "the old table's schema must not survive it")
    assert(sorted(read) == sorted(fresh.withColumn("version", lit(1))))

    // the recreated table is stamped Asia/Tokyo: a replay under the old
    // table's tz must see the existing rows and write nothing
    val replay = StockStore.upsert(spark, root, Streaming, fresh, exchangeTz = "America/New_York")
    assert(replay.written == 0, s"replay wrote $replay")
    assert(StockStore.table(spark, root, Streaming).count() == 6)
  }

  test("table() starts no Spark job after a schema-preserving upsert to a 33+ file store") {
    val root = SparkTestSession.tempDir("store-nojobs")
    val tickers = (0 until 12).map(i => f"T$i%02d")
    val t0 = java.time.Instant.parse("2025-07-02T14:00:00Z").toEpochMilli
    (0 until 3).foreach(k => StockStore.upsert(spark, root, Streaming,
      ticks(tickers, t0 + k * 60000L, 4, 100.0 + k)))
    val tp = new Path(s"$root/streaming")
    assert(TableLog.effective(fs(root), tp)._1.size >= 33)
    assert(TableLog.commits(fs(root), tp).size >= 3)
    StockStore.upsert(spark, root, Streaming, ticks(tickers, t0 + 3 * 60000L, 4, 200.0))

    val (df, jobs) = SparkTestSession.jobsDuring(StockStore.table(spark, root, Streaming))
    assert(jobs == 0, s"building the table started $jobs Spark job(s)")
    assert(df.count() == 12 * 4 * 4)
    assert(df.columns.toSeq == StockStore.table(spark, root, Streaming).columns.toSeq)

    // a batch that adds a column (A10) must not carry the memo forward
    StockStore.upsert(spark, root, Streaming,
      ticks(tickers.take(2), t0 + 4 * 60000L, 2, 300.0).withColumn("venue", lit("Y")))
    val evolved = StockStore.table(spark, root, Streaming)
    assert(evolved.columns.contains("venue"))
    assert(evolved.filter(col("venue") === "Y").count() == 4)
    assert(evolved.count() == 12 * 4 * 4 + 4)
  }

  test("table() over 600 committed files this process has not seen starts no listing job") {
    import spark.implicits._
    val template = SparkTestSession.tempDir("store-listing-template")
    Seq((new java.sql.Timestamp(1751464800000L), 10.0, 5L, 1))
      .toDF("timestamp", "price", "volume", "version")
      .coalesce(1).write.mode("overwrite").parquet(template)
    val file = new java.io.File(template).listFiles().filter(_.getName.endsWith(".parquet")).head
    // 60 partitions of 10 files each under `table`, copied in with
    // java.nio (a Spark write forks permission calls per file) and
    // committed as one manifest, so no status of theirs is in this
    // process's cache; returns the root and the commit id
    def unseen(name: String, table: String, dir: Int => String): (String, Long) = {
      val root = SparkTestSession.tempDir(s"store-listing-600-$name")
      val rels = for (t <- 0 until 60; i <- 0 until 10) yield {
        val rel = f"${dir(t)}/part-$i%02d.parquet"
        val dest = java.nio.file.Paths.get(s"$root/$table/$rel")
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.copy(file.toPath, dest)
        rel
      }
      (root, TableLog.publish(fs(root), new Path(s"$root/$table"), rels, Nil))
    }
    val day = (t: Int) => f"ticker=L$t%02d/y=2025/m=7/d=2"

    // the one job left is the footer-schema merge every first read of a
    // table runs; Spark's parallel listing (one task per file) would be
    // a second, as it was when the index listed the files itself. The
    // as-of read and the corpus read build the same relation.
    val reads = Seq[(String, String, Int => String, String, (String, Long) => DataFrame)](
      ("table", "streaming", day, "ticker", (root, _) => StockStore.table(spark, root, Streaming)),
      ("tableAt", "streaming", day, "ticker",
        (root, id) => StockStore.tableAt(spark, root, Streaming, id)),
      ("corpus", "corpus", t => f"split=train/lang=L$t%02d", "lang",
        (root, _) => graft.corpus.CorpusStore.read(spark, root)))
    reads.foreach { case (name, table, dir, partCol, read) =>
      val (root, id) = unseen(name, table, dir)
      val (df, jobs) = SparkTestSession.jobsDuring(read(root, id))
      assert(jobs == 1, s"building $name started $jobs Spark job(s)")
      assert(df.count() == 600)
      assert(df.select(partCol).distinct().count() == 60)
    }
  }

  test("a column another writer commits inside an upsert stays visible after it") {
    spark.sparkContext.hadoopConfiguration.set("fs.hooked.impl", classOf[HookedLocalFs].getName)
    val root = "hooked://" + SparkTestSession.tempDir("store-foreign")
    val tickers = Seq("AAA", "BBB")
    val t0 = java.time.Instant.parse("2025-07-02T14:00:00Z").toEpochMilli
    StockStore.upsert(spark, root, Streaming, ticks(tickers, t0, 3, 10.0))
    StockStore.upsert(spark, root, Streaming, ticks(tickers, t0 + 60000L, 3, 11.0))
    assert(StockStore.table(spark, root, Streaming).count() == 12)

    // the other writer's files: a store of its own, moved in by the hook
    val side = "hooked://" + SparkTestSession.tempDir("store-foreign-side")
    StockStore.upsert(spark, side, Streaming,
      ticks(Seq("CCC"), t0, 2, 30.0).withColumn("venue", lit("Y")))
    val f = fs(root)
    val tp = new Path(s"$root/streaming")
    val sideTp = new Path(s"$side/streaming")
    val foreign = TableLog.effective(f, sideTp)._1
    val foreignId = new java.util.concurrent.atomic.AtomicLong(-1L)
    HookedLocalFs.hook.set { () =>
      foreign.foreach { rel =>
        f.mkdirs(new Path(tp, rel).getParent)
        assert(f.rename(new Path(sideTp, rel), new Path(tp, rel)))
      }
      foreignId.set(TableLog.publish(f, tp, foreign, Nil))
    }
    HookedLocalFs.table.set(tp.toUri.getPath)
    try StockStore.upsert(spark, root, Streaming, ticks(tickers, t0 + 120000L, 3, 12.0))
    finally { HookedLocalFs.table.set(null); HookedLocalFs.hook.set(null) }

    assert(Option(HookedLocalFs.ranAt.get).exists(_.endsWith(".parquet")),
      s"the hook must run as the upsert creates a data file, ran at ${HookedLocalFs.ranAt.get}")
    val ids = TableLog.commits(f, tp).map(_.id)
    assert(foreignId.get >= 0 && ids.last > foreignId.get,
      s"the other writer's commit ${foreignId.get} must land before the upsert's (ids $ids)")
    val read = StockStore.table(spark, root, Streaming)
    assert(read.columns.contains("venue"), "the other writer's column was dropped")
    assert(read.filter(col("venue") === "Y").count() == 2)
    assert(read.count() == 20)
  }

  test("on graftos://, a table recreated with the same tickers and days is read as the new table") {
    val server = new ObjectStoreServer
    try {
      ObjectStoreFileSystem.register(spark.sparkContext.hadoopConfiguration)
      val osRoot = s"graftos://${server.endpointAuthority}/store"
      val os = fs(osRoot)
      val tp = new Path(s"$osRoot/streaming")
      val t0 = java.time.Instant.parse("2025-07-02T14:00:00Z").toEpochMilli
      // Each generation is written on the local FS and uploaded whole.
      def generation(df: DataFrame): Seq[Long] = {
        val local = SparkTestSession.tempDir("store-os-gen")
        StockStore.upsert(spark, local, Streaming, df)
        val localTp = new Path(s"$local/streaming")
        val lf = fs(local)
        os.delete(new Path(osRoot), true)
        TableLog.listFilesRecursively(lf, localTp).filterNot(_.getName.endsWith(".crc"))
          .foreach { p =>
            val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.toUri))
            val out = os.create(new Path(tp,
              p.toUri.getPath.stripPrefix(localTp.toUri.getPath + "/")), true)
            try out.write(bytes) finally out.close()
          }
        os.listStatus(new Path(tp, "_commits")).filter(_.getPath.getName.endsWith(".commit"))
          .sortBy(_.getPath.getName).map(_.getLen).toSeq
      }
      val oldLens = generation(ticks(Seq("AAA", "BBB"), t0, 3, 10.0).withColumn("venue", lit("X")))
      val old = StockStore.table(spark, osRoot, Streaming)
      assert(old.columns.contains("venue"))
      assert(old.count() == 6)

      val fresh = ticks(Seq("AAA", "BBB"), t0, 3, 20.0)
      val freshLens = generation(fresh)
      // same manifest names and lengths, and this binding reports mtime 0
      assert(freshLens == oldLens)
      assert(os.listStatus(new Path(tp, "_commits")).forall(_.getModificationTime == 0L))
      val read = StockStore.table(spark, osRoot, Streaming)
      assert(!read.columns.contains("venue"), "the old table's schema must not survive it")
      assert(sorted(read) == sorted(fresh.withColumn("version", lit(1))))
    } finally server.stop()
  }

  /** The walk against Hadoop's own recursive listing, as a set. */
  private def assertSameListing(f: FileSystem, dir: Path): Unit = {
    val it = f.listFiles(dir, true)
    val viaListFiles = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).toSet
    val walked = TableLog.listFilesRecursively(f, dir)
    assert(walked.size == walked.toSet.size, "no file listed twice")
    assert(walked.toSet == viaListFiles)
    assert(viaListFiles.nonEmpty)
  }

  test("listFilesRecursively lists what listFiles(recursive) lists, on local FS and graftos://") {
    val root = SparkTestSession.tempDir("store-listing")
    StockStore.upsert(spark, root, Streaming,
      ticks(Seq("AAA", "BBB"), java.time.Instant.parse("2025-07-02T14:00:00Z").toEpochMilli, 3, 1.0))
    val local = fs(root)
    local.mkdirs(new Path(s"$root/streaming/ticker=ZZZ/y=2025/m=7")) // empty leaf dir
    assertSameListing(local, new Path(s"$root/streaming")) // partitions, _commits, .crc files
    assertSameListing(local, new Path(root))
    assert(TableLog.listFilesRecursively(local, new Path(s"$root/absent")).isEmpty)

    val server = new ObjectStoreServer
    try {
      val conf = new Configuration()
      ObjectStoreFileSystem.register(conf)
      val osRoot = s"graftos://${server.endpointAuthority}"
      val os = FileSystem.get(URI.create(osRoot + "/"), conf)
      Seq("ticker=A/y=2025/m=7/d=1/p0.parquet", "ticker=A/y=2025/m=7/d=2/p1.parquet",
          "ticker=B/y=2025/m=7/d=2/p2.parquet", "ticker=B/y=2025/m=8/d=1/p3.parquet",
          "_commits/00000000000000000000.commit", "top.parquet").foreach { k =>
        val out = os.create(new Path(s"$osRoot/t/$k"), false)
        try out.write(k.getBytes) finally out.close()
      }
      assertSameListing(os, new Path(s"$osRoot/t"))
      assert(TableLog.listFilesRecursively(os, new Path(s"$osRoot/t")).size == 6)
    } finally server.stop()
  }
}
