package graft.examples

import graft.jobs.Commands
import graft.jobs.Commands.HistoricalCommand
import graft.model._
import graft.read.ReadApi
import graft.read.ReadApi.ReadRequest
import graft.store.StockStore

/** End-to-end usage example: the reference's demo flow (fetch SPY bars →
  * store → range-read → stats) through the public API. Run:
  *   sbt "runMain graft.examples.DemoIngest /tmp/graft_demo"
  */
object DemoIngest {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft_demo")
    val spark = graft.core.Session.local(4, 4)

    // canned provider page (the reference's CI payload shape); production
    // injects an HTTP fetcher here instead
    val cannedPage = Seq(
      """{"date": "2024-10-24", "open": 533.1, "high": 536.0, "low": 531.0, "close": 534.0, "adjusted_close": 529.0, "volume": 4100000}""",
      """{"date": "2024-10-25", "open": 534.65, "high": 537.2601, "low": 531.414, "close": 532.26, "adjusted_close": 527.1013, "volume": 4327190}""")

    val stats = Commands.runHistorical(spark, root,
      HistoricalCommand("SPY", "US", "d", "2024-10-24", "2024-10-25"))(_ => cannedPage)
    println(s"[demo] upsert stats: $stats")

    val df = ReadApi.read(spark, root, ReadRequest(
      HistoricalInterday, "SPY", Some("d"), "2024-01-01", "2025-01-01"))
    println(s"[demo] read back ${df.count()} rows:")
    df.show(truncate = false)

    println("[demo] table stats:")
    StockStore.tableStats(spark, root, HistoricalInterday).show()
    spark.stop()
  }
}
