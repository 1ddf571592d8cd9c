package graft.model

import org.apache.spark.sql.types._

/** The reference's four record schemas (SURVEY §1.2; types asserted at
  * reference: src/stockops/data/historical/eodhd_historical_service.py:43-77
  * and src/stockops/data/streaming/eodhd_streaming_service.py:40-63), plus
  * the per-mode index metadata (reference:
  * src/stockops/data/database/sql_db.py:20-24,59-67).
  *
  * A single unified layout replaces the reference's file-per-(type,
  * exchange, period) SQLite databases: one parquet/Delta-style tree with
  * `ticker` and local-calendar partition columns (SURVEY §1.1).
  */
sealed trait StockDataType {
  def name: String
  /** event-time column (post-transform, TimestampType or DateType) */
  def tsCol: String
  /** index columns beyond ticker+ts (reference: sql_db.py:59-67) */
  def extraIndexCols: Seq[String]
  /** the declared index and payload columns, typed as the transform
    * (`EodhdTransform`) emits them */
  def columns: StructType
  /** payload (non-index, non-version) columns */
  def payloadCols: Seq[String] = columns.fieldNames.toSeq.filterNot(indexCols.contains)
  def indexCols: Seq[String] = Seq("ticker", tsCol) ++ extraIndexCols
  /** valid `interval` domain, if the type carries one (T4) */
  def intervalDomain: Option[Seq[String]]
}

case object HistoricalInterday extends StockDataType {
  val name = "historical_interday"
  val tsCol = "date"
  val extraIndexCols = Seq("interval")
  val columns = StockDataType.fields("ticker" -> StringType, "date" -> DateType,
    "interval" -> StringType, "open" -> DoubleType, "high" -> DoubleType, "low" -> DoubleType,
    "close" -> DoubleType, "adjusted_close" -> DoubleType, "volume" -> LongType)
  val intervalDomain = Some(Seq("d", "w", "m"))
}

case object HistoricalIntraday extends StockDataType {
  val name = "historical_intraday"
  val tsCol = "timestamp"
  val extraIndexCols = Seq("interval")
  val columns = StockDataType.fields("ticker" -> StringType, "timestamp" -> TimestampType,
    "interval" -> StringType, "open" -> DoubleType, "high" -> DoubleType, "low" -> DoubleType,
    "close" -> DoubleType, "volume" -> LongType)
  val intervalDomain = Some(Seq("1m", "5m", "1h"))
}

/** Trades and quotes share one streaming table with disjoint payload
  * columns (reference: sql_db.py:20-24; SURVEY §3.2 step 5). */
case object Streaming extends StockDataType {
  val name = "streaming"
  val tsCol = "timestamp"
  val extraIndexCols = Seq.empty
  val columns = StockDataType.fields("ticker" -> StringType, "timestamp" -> TimestampType,
    "price" -> DoubleType, "volume" -> LongType, "ask_price" -> DoubleType,
    "bid_price" -> DoubleType, "ask_size" -> LongType, "bid_size" -> LongType)
  val intervalDomain = None
}

object StockDataType {
  val all: Seq[StockDataType] = Seq(HistoricalInterday, HistoricalIntraday, Streaming)
  def byName(n: String): StockDataType =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(s"unknown data_type: $n"))

  private[model] def fields(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })
}

object StockSchemas {
  /** Raw provider payload schemas (pre-transform; FIXTURES.md A1). */
  val eodhdIntradayRaw: StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("gmtoffset", LongType),
    StructField("datetime", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType)))

  val eodhdEodRaw: StructType = StructType(Seq(
    StructField("date", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("adjusted_close", DoubleType),
    StructField("volume", LongType)))

  /** WS tick frames; control frames carry status_code/message instead
    * (reference: eodhd_streaming_service.py:118,181-183). */
  val eodhdTradeRaw: StructType = StructType(Seq(
    StructField("s", StringType),
    StructField("p", DoubleType),
    StructField("v", LongType),
    StructField("t", LongType),
    StructField("status_code", LongType),
    StructField("message", StringType)))

  val eodhdQuoteRaw: StructType = StructType(Seq(
    StructField("s", StringType),
    StructField("ap", DoubleType),
    StructField("as", LongType),
    StructField("bp", DoubleType),
    StructField("bs", LongType),
    StructField("t", LongType),
    StructField("status_code", LongType),
    StructField("message", StringType)))
}

/** Exchange config (reference: src/stockops/config/eodhd_config.py:20-30). */
object Exchanges {
  val timezones: Map[String, String] = Map("US" -> "America/New_York")
  def tz(exchange: String): String =
    timezones.getOrElse(exchange, throw new IllegalArgumentException(s"unknown exchange: $exchange"))
}
