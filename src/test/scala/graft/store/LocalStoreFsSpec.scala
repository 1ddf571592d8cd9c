package graft.store

import graft.SparkTestSession
import graft.model.Streaming
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.nio.file.{Files, Paths}

/** The store's fork-free `file:` binding ([[LocalStoreFs]]) creates files
  * and directories with the modes and checksums of Hadoop's local FS,
  * and stays out of every process-wide binding. */
class LocalStoreFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def conf(umask: String) = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", umask)
    c
  }
  private def stock(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem
    fs.initialize(URI.create("file:///"), c)
    fs
  }
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  test("create and mkdirs give the stock local FS's modes under umask 022 and 077") {
    val modes = Seq("777", "755", "750", "700", "644", "640", "600", "444", "421", "1777")
    for (umask <- Seq("022", "077"); m <- modes) {
      val c = conf(umask)
      val perm = new FsPermission(m)
      val made = Seq(stock(c), LocalStoreFs.forPath(new Path("file:///"), c)).map { fs =>
        val dir = new Path(SparkTestSession.tempDir("modes"))
        val file = new Path(dir, "f.bin")
        fs.create(file, perm, false, 4096, 1.toShort, 1L << 20, null).close()
        val nested = new Path(dir, "a/b/c")
        assert(fs.mkdirs(nested, perm))
        Seq(file, new Path(dir, ".f.bin.crc"), nested, new Path(dir, "a"))
          .map(p => p.getName -> mode(p))
      }
      assert(made(1) == made(0), s"umask $umask, mode $m")
    }
  }

  test("a directory created under a setgid parent keeps the bit, as with the stock FS") {
    val made = Seq(stock(conf("022")), LocalStoreFs.forPath(new Path("file:///"), conf("022")))
      .map { fs =>
        val parent = SparkTestSession.tempDir("setgid")
        new ProcessBuilder("chmod", "g+s", parent).start().waitFor()
        assume((mode(new Path(parent)) & 0x400) != 0, "this file store keeps no setgid bit")
        val child = new Path(parent, "d")
        assert(fs.mkdirs(child, new FsPermission("755")))
        mode(child)
      }
    assert((made(0) & 0x400) != 0)
    assert(made(1) == made(0))
  }

  test("files written through the binding carry checksums that verify on read") {
    val fs = LocalStoreFs.forPath(new Path("file:///"), conf("022"))
    val file = new Path(SparkTestSession.tempDir("crc"), "x/data.bin")
    val bytes = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    val out = fs.create(file, false)
    out.write(bytes); out.close()
    assert(Files.exists(Paths.get(new Path(file.getParent, ".data.bin.crc").toUri.getPath)))
    def readBack(): Array[Byte] = {
      val in = stock(conf("022")).open(file)
      try in.readAllBytes() finally in.close()
    }
    assert(readBack().sameElements(bytes))
    // the checksum is live: a flipped byte fails the stock reader
    val raw = Paths.get(file.toUri.getPath)
    val flipped = Files.readAllBytes(raw)
    flipped(100) = (flipped(100) ^ 0xff).toByte
    Files.write(raw, flipped)
    intercept[ChecksumException](readBack())
  }

  test("an upsert writes through the binding and leaves FileSystem.get(file:) and the Hadoop conf as they were") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val cached = FileSystem.get(URI.create("file:///"), hc)
    val hadoopBefore = hc.getPropsWithPrefix("fs.file.")
    val sessionBefore = spark.conf.getAll
    val written = FileSystem.getStatistics("file", classOf[LocalStoreFs.Raw])
    val writtenBefore = written.getBytesWritten
    val root = SparkTestSession.tempDir("bound-upsert")
    val t0 = 1757623532850L
    val batch = (0 until 40).map(i => (s"T${i % 4}", new java.sql.Timestamp(t0 + i * 1000L), 10.0 + i, 5L))
      .toDF("ticker", "timestamp", "price", "volume")
    assert(StockStore.upsert(spark, root, Streaming, batch).written == 40)
    assert(StockStore.table(spark, root, Streaming).count() == 40)

    assert(written.getBytesWritten > writtenBefore, "no byte went through the binding")
    assert(FileSystem.get(URI.create("file:///"), hc) eq cached)
    assert(!cached.isInstanceOf[LocalStoreFs])
    assert(hc.getPropsWithPrefix("fs.file.") == hadoopBefore)
    assert(spark.conf.getAll == sessionBefore)
  }
}
