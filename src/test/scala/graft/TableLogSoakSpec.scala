package graft

import graft.store.TableLog
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets

/** Randomized soak of the [[TableLog]] commit protocol: seeded op streams
  * interleave ingest, crashed ingest (orphan files), torn manifests,
  * checkpoint squashes, vacuums, concurrent publisher races, current
  * reads and time-travel reads — against a MODEL of what the log must
  * show. TableLogSpec covers each hazard in a targeted scenario; this
  * spec walks hundreds of random interleavings per seed so protocol
  * holes that need a specific op ORDER (e.g. torn manifest → checkpoint
  * → vacuum → time travel) get exercised without anyone thinking of
  * them. Pure file-level ops (no Spark jobs), so the whole soak is
  * seconds.
  *
  * Model invariants checked continuously:
  *   - `effective` data set == every file a successful publish added
  *     since the last reset-squash (orphans and torn manifests never
  *     appear);
  *   - `effectiveAt(id)` reproduces the exact post-commit snapshot for
  *     every id still on disk (pre-reset ids until a vacuum prunes them);
  *   - vacuum removes every orphan + torn manifest and NOTHING live;
  *   - racing publishers land distinct ids and lose no files.
  */
class TableLogSoakSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def hfs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  for (seed <- 0 until 5)
  test(s"randomized protocol soak, seed=$seed") {
    val rnd = new scala.util.Random(seed)
    val root = SparkTestSession.tempDir(s"tlog-soak-$seed")
    val fs = hfs(root)
    val tp = new Path(s"$root/t")
    fs.mkdirs(tp)

    var expected = Set.empty[String]              // current effective data set
    var snapshots = Map.empty[Long, Set[String]]  // commit id -> post-commit set
    var lastResetId = -1L
    var orphans = Set.empty[String]               // root-relative crashed files
    var fileSeq = 0

    def newFile(tag: String): String = {
      fileSeq += 1
      val rel = s"p=${rnd.nextInt(4)}/part-$tag-$fileSeq.parquet"
      val p = new Path(tp, rel)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      out.write(rel.getBytes(StandardCharsets.UTF_8)); out.close()
      rel
    }

    def doPublish(): Unit = {
      val rels = (0 until 1 + rnd.nextInt(3)).map(_ => newFile("ok"))
      val id = TableLog.publish(fs, tp, rels, Seq.empty)
      expected ++= rels
      snapshots += id -> expected
    }

    def doCrashOrphan(): Unit = orphans += newFile("orphan")

    def doCrashTorn(): Unit = {
      // a publisher that died mid-manifest: header but no `end` sentinel,
      // at the id the next publisher would have taken
      val dir = new Path(tp, "_commits")
      fs.mkdirs(dir)
      val id = fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.endsWith(".commit"))
        .map(_.stripSuffix(".commit").toLong)
        .sorted.lastOption.map(_ + 1).getOrElse(0L)
      val out = fs.create(new Path(dir, f"$id%020d.commit"), false)
      out.write("graft-commit-v1\ndata\tp=0/never-landed.parquet\n"
        .getBytes(StandardCharsets.UTF_8))
      out.close()
    }

    def doCheckpoint(): Unit = {
      val id = TableLog.checkpoint(fs, tp)
      if (id >= 0) { lastResetId = id; snapshots += id -> expected }
    }

    def doVacuum(): Unit = {
      TableLog.vacuum(fs, tp)
      orphans.foreach { rel =>
        assert(!fs.exists(new Path(tp, rel)), s"vacuum must reclaim orphan $rel")
      }
      // every torn manifest must be gone: what remains in _commits parses
      val cd = new Path(tp, "_commits")
      val names = fs.listStatus(cd).map(_.getPath.getName).filter(_.endsWith(".commit"))
      assert(names.length == TableLog.commits(fs, tp).length,
        "vacuum left a torn manifest behind")
      orphans = Set.empty
      // pre-reset snapshots are only readable until their manifests are
      // pruned — which this vacuum just did
      if (lastResetId >= 0) snapshots = snapshots.filter(_._1 >= lastResetId)
    }

    def doRace(): Unit = {
      val n = 2 + rnd.nextInt(3)
      val rels = (0 until n).map(_ => newFile("race"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      val ids = rels.map(rel => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = TableLog.publish(fs, tp, Seq(rel), Seq.empty)
      })).map(_.get())
      pool.shutdown()
      assert(ids.distinct.size == n, s"racing publishers shared a commit id: $ids")
      expected ++= rels
      snapshots += ids.max -> expected
    }

    def checkRead(): Unit = {
      val (data, _) = TableLog.effective(fs, tp)
      assert(data.size == data.distinct.size, "effective set must not duplicate files")
      assert(data.toSet == expected,
        s"effective mismatch: missing=${expected -- data.toSet} extra=${data.toSet -- expected}")
      data.foreach(rel => assert(fs.exists(new Path(tp, rel)), s"live file $rel gone"))
    }

    def checkTimeTravel(): Unit = if (snapshots.nonEmpty) {
      val all = TableLog.commits(fs, tp)
      val id = snapshots.keys.toVector(rnd.nextInt(snapshots.size))
      val (data, _) = TableLog.effectiveAt(all, id)
      assert(data.toSet == snapshots(id),
        s"time travel to $id diverged from the model snapshot")
    }

    doPublish() // genesis, so reads have something from op 1
    for (_ <- 0 until 250) {
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => doPublish()
        case 3         => doCrashOrphan()
        case 4         => doCrashTorn()
        case 5         => doCheckpoint()
        case 6         => doVacuum()
        case 7         => doRace()
        case 8         => checkRead()
        case 9         => checkTimeTravel()
      }
    }
    // closing sweep: everything the model expects, nothing else
    checkRead(); doVacuum(); checkRead(); checkTimeTravel()
  }
}
