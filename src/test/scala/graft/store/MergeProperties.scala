package graft.store

import graft.SparkTestSession
import graft.model.Streaming
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.scalacheck.{Gen, Prop, Properties, Test}

/** [[StockStore.upsert]]'s one-exchange window merge against the join
  * formulation it replaced — a left-semi read-back, a null-safe left-anti
  * join for A3 and a max-version join for A4 — kept here only as the
  * oracle. Random batch sequences carry null payload fields, ±0.0, NaN,
  * replays, in-batch key conflicts and an A10 dynamic column; rows,
  * versions and [[StockStore.UpsertStats]] must be equal after every
  * batch, and the manifest's folded per-file stats
  * ([[StockStore.incrementalStats]]) must equal the full-scan view
  * ([[StockStore.tableStats]]). */
object MergeProperties extends Properties("merge") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkTestSession.spark

  private val idxCols = Seq("ticker", "timestamp")
  private val t0 = 1757623532850L

  private case class Tick(ticker: String, sec: Int, price: Option[Double],
      volume: Option[Long], venue: Option[String])
  private case class Batch(ticks: List[Tick], withVenue: Boolean)

  private val tickGen: Gen[Tick] = for {
    t <- Gen.oneOf("A", "B")
    s <- Gen.choose(0, 2)
    p <- Gen.oneOf(Some(1.0), Some(2.5), Some(0.0), Some(-0.0), Some(Double.NaN), None)
    v <- Gen.oneOf(Some(5L), Some(7L), None)
    venue <- Gen.oneOf(Some("X"), Some("Y"), None)
  } yield Tick(t, s, p, v, venue)

  private def batchGen(prev: List[Tick]): Gen[Batch] = for {
    fresh <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, tickGen))
    replay <- Gen.oneOf(true, false)
    doubled <- Gen.oneOf(true, false)
    withVenue <- Gen.frequency(3 -> false, 1 -> true)
  } yield {
    val ts = (if (replay) prev else Nil) ++ fresh
    Batch(if (doubled) ts ++ ts.take(2) else ts, withVenue)
  }

  private val seqGen: Gen[List[Batch]] = for {
    b1 <- batchGen(Nil)
    b2 <- batchGen(b1.ticks)
    b3 <- batchGen(b2.ticks)
  } yield List(b1, b2, b3)

  private def toDf(b: Batch): DataFrame = {
    val schema = StructType(Seq(StructField("ticker", StringType), StructField("timestamp", TimestampType),
      StructField("price", DoubleType), StructField("volume", LongType)) ++
      (if (b.withVenue) Seq(StructField("venue", StringType)) else Nil))
    val rows = b.ticks.map { t =>
      Row.fromSeq(Seq(t.ticker, new java.sql.Timestamp(t0 + t.sec * 1000L),
        t.price.map(Double.box).orNull, t.volume.map(Long.box).orNull) ++
        (if (b.withVenue) Seq(t.venue.orNull) else Nil))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private val storedSchema = StructType(Seq(StructField("ticker", StringType),
    StructField("timestamp", TimestampType), StructField("price", DoubleType),
    StructField("volume", LongType), StructField("venue", StringType),
    StructField("version", IntegerType)))

  /** The join merge: new rows with their versions, and the batch's stats. */
  private def joinMerge(batch: DataFrame, stored: DataFrame): (Seq[Row], StockStore.UpsertStats) = {
    val payloadCols = batch.columns.toSeq.filterNot(idxCols.contains)
    val anyPayload = payloadCols.map(col(_).isNotNull).reduce(_ || _)
    val deduped = batch.filter(anyPayload).dropDuplicates(idxCols ++ payloadCols).localCheckpoint()
    val existing = stored
      .join(deduped.select(idxCols.map(col): _*).distinct(), idxCols, "left_semi")
      .select((idxCols ++ payloadCols :+ "version").map(col): _*)
    def nullSafeEq(l: DataFrame, r: DataFrame): Column =
      (idxCols ++ payloadCols).map(c => l(c) <=> r(c)).reduce(_ && _)
    val fresh = deduped.join(existing, nullSafeEq(deduped, existing), "left_anti")
    val maxv = existing.groupBy(idxCols.map(col): _*).agg(max(col("version")).as("__maxv"))
    val w = Window.partitionBy(idxCols.map(col): _*).orderBy(xxhash64(payloadCols.map(col): _*))
    val out = fresh.join(maxv, idxCols, "left")
      .withColumn("version", (coalesce(col("__maxv"), lit(0L)) + row_number().over(w)).cast("int"))
      .drop("__maxv")
    val venue = if (payloadCols.contains("venue")) col("venue") else lit(null).cast("string")
    val rows = out.select(col("ticker"), col("timestamp"), col("price"), col("volume"),
      venue.as("venue"), col("version")).collect().toSeq
    val written = rows.size.toLong
    val v1 = rows.count(_.getAs[Int]("version") == 1).toLong
    val dedupedN = deduped.count()
    (rows, StockStore.UpsertStats(batch.count(), written, dedupedN - written,
      batch.filter(!anyPayload).count(), written - v1))
  }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** Upserts `batches` in order into a fresh store and checks each
    * against the join merge over the oracle's own copy of the store. */
  private def agrees(batches: List[Batch]): Boolean = {
    val root = SparkTestSession.tempDir("merge-prop")
    var oracle = Seq.empty[Row]
    batches.forall { b =>
      val batch = toDf(b)
      val stored = spark.createDataFrame(java.util.Arrays.asList(oracle: _*), storedSchema)
      val (fresh, expected) = joinMerge(batch, stored)
      oracle = oracle ++ fresh
      val got = StockStore.upsert(spark, root, Streaming, batch)
      // a store whose batches so far kept no row has no table yet
      val hasTable = java.nio.file.Files.exists(java.nio.file.Paths.get(root, Streaming.name))
      val rows = if (!hasTable) Nil
        else {
          val table = StockStore.table(spark, root, Streaming)
          val venue = if (table.columns.contains("venue")) col("venue") else lit(null).cast("string")
          table.select(col("ticker"), col("timestamp"), col("price"), col("volume"),
            venue.as("venue"), col("version")).collect().toSeq
        }
      val (incremental, scanned) = if (!hasTable) (Nil, Nil)
        else (sorted(StockStore.incrementalStats(spark, root, Streaming).collect().toSeq),
          sorted(StockStore.tableStats(spark, root, Streaming).collect().toSeq))
      val same = got == expected && sorted(rows) == sorted(oracle) && incremental == scanned
      if (!same) println(s"merge mismatch on $b: stats $got vs $expected\n" +
        s"  store  ${sorted(rows)}\n  oracle ${sorted(oracle)}\n" +
        s"  incremental stats $incremental\n  scanned stats $scanned")
      same
    }
  }

  property("the window merge equals the join merge: rows, versions and stats") =
    Prop.forAllNoShrink(seqGen)(agrees)

  /** Every edge the generator may miss, in one sequence: replays that
    * flip the sign of a stored zero or repeat a NaN or a null payload
    * field, both zeros in one batch, an all-null payload, an in-batch key
    * conflict, an exact in-batch duplicate, and a dynamic column arriving
    * on stored keys. */
  property("the window merge equals the join merge on the edge cases") = Prop {
    val base = List(Tick("A", 0, Some(0.0), Some(5L), None), Tick("A", 1, Some(Double.NaN), Some(5L), None),
      Tick("A", 2, None, Some(5L), None), Tick("B", 0, Some(1.0), None, None),
      Tick("B", 1, None, None, None))
    val conflicts = List(Tick("A", 0, Some(2.5), Some(5L), None), Tick("A", 0, Some(1.0), Some(5L), None),
      Tick("A", 0, Some(1.0), Some(5L), None))
    agrees(List(
      Batch(base, withVenue = false),
      Batch(base.map(t => t.copy(price = t.price.map(p => if (p == 0.0) -0.0 else p))) ++ conflicts,
        withVenue = false),
      Batch(List(Tick("A", 0, Some(2.5), Some(5L), Some("X")), Tick("B", 0, Some(1.0), None, None),
        Tick("A", 0, Some(-0.0), Some(5L), None), Tick("A", 0, Some(0.0), Some(5L), None)),
        withVenue = true)))
  }
}
