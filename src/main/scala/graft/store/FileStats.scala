package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Per-file A7/A8 stats — the row count and the event-time min and max,
  * per value of a key column where the table has one (`interval`) —
  * gathered by the data write's own tasks and published on the file's
  * manifest lines ([[TableLog.FileStatsLine]]). This is the per-file
  * stats log of Delta Lake (VLDB 2020), and the columnar form of the
  * reference's running stats, which its insert updates in the same
  * transaction (reference: sql_db.py:34-40,559-669).
  *
  * A line's fields are `rows<TAB>type<TAB>min<TAB>max[<TAB>key]`: `type`
  * is the event-time column's Spark type, `min` and `max` its internal
  * value as text (epoch microseconds, epoch days, or a URL-encoded
  * string) or `\N` for null, and `key` the URL-encoded key
  * value. The file's ticker is its `ticker=` partition directory. */
object FileStats {

  private val Null = "\\N"

  /** Event-time types a line can carry: the declared timestamp and date
    * columns, and a date kept as a string. */
  private val types: Seq[DataType] = Seq(TimestampType, DateType, StringType)

  private def encode(v: Any): String = v match {
    case null => Null
    case s: UTF8String => URLEncoder.encode(s.toString, UTF_8)
    case n => n.toString
  }

  private def decode(s: String, t: DataType): Any =
    if (s == Null) null
    else t match {
      case StringType => UTF8String.fromString(URLDecoder.decode(s, UTF_8))
      case TimestampType => s.toLong
      case _ => s.toInt
    }

  /** A tracker for a write of `schema` partitioned by `partCols`, keeping
    * the range of `tsCol` per file and per value of the string column
    * `keyCol`; None when a column is missing or of a type no line
    * carries, and then the files are published without stats. */
  def tracker(schema: StructType, partCols: Seq[String], tsCol: String,
      keyCol: Option[String]): Option[Tracker] = {
    val data = StructType(schema.filterNot(f => partCols.contains(f.name)))
    def has(c: String, ok: DataType => Boolean) = data.fieldNames.contains(c) && ok(data(c).dataType)
    if (has(tsCol, types.contains) && keyCol.forall(has(_, _ == StringType)))
      Some(new Tracker(data.fieldIndex(tsCol), data(tsCol).dataType, keyCol.map(data.fieldIndex)))
    else None
  }

  /** Driver side of a write's stats: the tasks' lines per written file. */
  final class Tracker private[FileStats] (ts: Int, tsType: DataType, key: Option[Int])
      extends WriteJobStatsTracker {
    @transient private var byPath = Map.empty[String, Seq[String]]

    override def newTaskInstance(): WriteTaskStatsTracker = new TaskTracker(ts, tsType, key)

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      synchronized { byPath ++= stats.flatMap { case TaskStats(files) => files } }

    /** The stats lines of `files`, relative to `base` as the write
      * returned them. */
    def lines(base: Path, files: Seq[String]): Seq[TableLog.FileStatsLine] = synchronized {
      files.flatMap(f => byPath.getOrElse(new Path(base, f).toString, Nil)
        .map(TableLog.FileStatsLine(f, _)))
    }
  }

  private final case class TaskStats(files: Seq[(String, Seq[String])]) extends WriteTaskStats

  /** One task's stats, per file path as the commit protocol named it.
    * The writer reuses its row, so kept values are copied out of it. */
  private final class TaskTracker(ts: Int, tsType: DataType, key: Option[Int])
      extends WriteTaskStatsTracker {
    private final class Range { var rows = 0L; var min: Any = null; var max: Any = null }
    private val order = TypeUtils.getInterpretedOrdering(tsType)
    private val files = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Any, Range]]

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit =
      files.getOrElseUpdate(filePath, mutable.LinkedHashMap.empty)
    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val byKey = files.getOrElseUpdate(filePath, mutable.LinkedHashMap.empty)
      val k = key.fold(null: Any)(i => if (row.isNullAt(i)) null else row.getUTF8String(i))
      val r = byKey.getOrElse(k, {
        val fresh = new Range; byKey.put(InternalRow.copyValue(k), fresh); fresh
      })
      r.rows += 1
      if (!row.isNullAt(ts)) {
        val v = row.get(ts, tsType)
        if (r.min == null || order.lt(v, r.min)) r.min = InternalRow.copyValue(v)
        if (r.max == null || order.gt(v, r.max)) r.max = InternalRow.copyValue(v)
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskStats(files.toSeq.map { case (path, byKey) =>
        path -> byKey.toSeq.map { case (k, r) =>
          (Seq(r.rows.toString, tsType.catalogString, encode(r.min), encode(r.max)) ++
            key.map(_ => encode(k))).mkString("\t")
        }
      })
  }

  /** The schema of the A7/A8 rows: ticker, the key column, the row count
    * and the event-time range. */
  def schema(keyCol: Option[String], tsType: DataType): StructType =
    StructType(Seq(StructField("ticker", StringType)) ++ keyCol.map(StructField(_, StringType)) ++
      Seq(StructField("row_count", LongType), StructField("min_ts", tsType),
        StructField("max_ts", tsType)))

  /** One parsed stats line. */
  private final case class Line(ticker: String, key: Option[String], rows: Long, tsType: DataType,
      min: Any, max: Any)

  private def parse(l: TableLog.FileStatsLine): Line = {
    val f = l.fields.split("\t", -1)
    val t = types.find(_.catalogString == f(1)).getOrElse(
      throw new IllegalArgumentException(s"stats line of ${l.file}: unknown type ${f(1)}"))
    Line(ticker(l.file), f.lift(4).flatMap(k => Option(decode(k, StringType))).map(_.toString),
      f(0).toLong, t, decode(f(2), t), decode(f(3), t))
  }

  /** The A7/A8 rows `lines` give, one per (ticker, key), folded on the
    * driver: one local frame per event-time type the lines name (a
    * single one unless that column's type changed), so reading them
    * starts no job. */
  def rows(spark: SparkSession, lines: Seq[TableLog.FileStatsLine],
      keyCol: Option[String]): Seq[DataFrame] =
    lines.map(parse).groupBy(_.tsType).toSeq.map { case (t, ls) =>
      val order = TypeUtils.getInterpretedOrdering(t)
      def pick(xs: Seq[Any], better: (Any, Any) => Boolean) = CatalystTypeConverters.convertToScala(
        xs.filter(_ != null).reduceOption((a, b) => if (better(a, b)) a else b).orNull, t)
      val folded = ls.groupBy(l => (l.ticker, l.key)).toSeq.map { case ((tk, k), xs) =>
        Row.fromSeq(Seq(tk) ++ keyCol.map(_ => k.orNull) ++
          Seq(xs.map(_.rows).sum, pick(xs.map(_.min), order.lt), pick(xs.map(_.max), order.gt)))
      }
      spark.createDataFrame(java.util.Arrays.asList(folded: _*), schema(keyCol, t))
    }

  /** The ticker a file's `ticker=` partition directory names. */
  private def ticker(file: String): String =
    file.split('/').find(_.startsWith("ticker=")).map(_.stripPrefix("ticker="))
      .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map(ExternalCatalogUtils.unescapePathName).orNull
}
