package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source rules no behaviour test pins: one session builder, one file
  * system binding and one relation builder for the stores. Comments are
  * stripped first, so a scaladoc may still name what the code avoids. */
class SourceGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  /** Every `.scala` file under `dir`, relative to `src/main/scala`, with
    * its comments removed. */
  private def sources(dir: Path): Seq[(String, String)] = {
    val files = Files.walk(dir)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.map { p =>
      val code = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      main.relativize(p).toString -> code
    } finally files.close()
  }

  /** (file, matched text) for every match of `re` under `dirs`. */
  private def hits(re: String, dirs: String*): Seq[(String, String)] =
    dirs.flatMap(d => sources(main.resolve(d))).flatMap { case (f, code) =>
      re.r.findAllIn(code).map(f -> _)
    }.sorted

  test("the source tree is where the guards look") {
    assert(Files.isRegularFile(main.resolve("graft/core/Session.scala")))
  }

  test("SparkSession.builder appears only in core/Session.scala") {
    assert(hits("""SparkSession\s*\.\s*builder""", "graft").map(_._1).distinct ==
      Seq("graft/core/Session.scala"))
  }

  test("the stores open file systems through ManifestTable only") {
    // LocalStoreFs.forPath falls back to a path's own binding, and an
    // InPlaceWrite task deletes an aborted attempt's files through the
    // write's own Hadoop conf
    assert(hits("""getFileSystem\(""", "graft/store", "graft/corpus").map(_._1) ==
      Seq("graft/store/InPlaceWrite.scala", "graft/store/LocalStoreFs.scala"))
  }

  test("the stores read parquet only through ManifestTable, bar the legacy-directory fallbacks") {
    // every other `.parquet(` there is an InPlaceWrite
    val reads = hits("""(?<!InPlaceWrite)\.parquet\(\w*""", "graft/store", "graft/corpus")
    assert(reads == Seq("graft/store/StockStore.scala" -> ".parquet(tablePath"), s"$reads")
    assert(hits("""new\s+InMemoryFileIndex\(""", "graft").map(_._1) ==
      Seq("graft/store/ManifestTable.scala"))
  }

  test("no store writes or reads a separate stats tree") {
    // per-file stats ride the manifest (FileStats); the inspector's
    // `<table>__stats` is a temp view over them, not a directory
    assert(hits("""__stats""", "graft").map(_._1).distinct == Seq("graft/tools/InspectServer.scala"))
  }
}
