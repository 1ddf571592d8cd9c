package graft.tools

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model.StockDataType
import graft.store.StockStore
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** S11 — store inspection UI (reference: `docker-compose.yml:263-272`, a
  * dockerized DB Browser for SQLite mounted over the `.db` volume). The
  * Spark-native counterpart is a read-only embedded HTTP server over a
  * [[StockStore]] root: table list, schema, sample rows, stats, commit
  * history, and a guarded ad-hoc SQL endpoint — the four things the
  * reference's browser is used for (eyeball a table, check row counts,
  * spot-check recent rows, run a one-off SELECT).
  *
  * Designed to stay driver-cheap at any table size:
  *   - row counts / min-max come from the O(#batches) incremental stats
  *     log ([[StockStore.incrementalStats]]), never a table scan;
  *   - `/table/<name>` samples are partition-pruned (optional `ticker=`)
  *     and LIMIT-capped (≤ [[MaxRows]]), so the driver collects a bounded
  *     result no matter how large the store is;
  *   - `/sql` parses first and rejects anything that is not a pure query
  *     (any `Command` or `InsertIntoStatement` node → 400), then caps the
  *     result at [[MaxRows]] rows. Views are registered per-request, so
  *     each query sees one consistent committed snapshot.
  *
  * Endpoints (all GET):
  *   - `/`                         HTML index (tables, stats, endpoints)
  *   - `/tables`                   JSON summary per present table
  *   - `/table/<name>`             JSON rows; `?limit=&ticker=&commit=`
  *   - `/table/<name>/schema`      Spark schema JSON
  *   - `/table/<name>/stats`       A7 per-ticker stats (`?interval=true`
  *                                 → A8 per-(ticker, interval))
  *   - `/table/<name>/commits`     pinnable commit ids (time travel)
  *   - `/sql?q=SELECT...`          read-only ad-hoc query over views
  *                                 `<name>` and `<name>__stats`
  */
object InspectServer {

  /** Hard cap on rows any endpoint returns to the browser. */
  val MaxRows = 1000

  /** Operational entry: `scripts/run_main.sh graft.tools.InspectServer
    * <storeRoot> [port]` — serves until killed. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: InspectServer <storeRoot> [port]")
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = graft.core.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt)
    val server = start(spark, args(0), port)
    println(s"inspect server on http://127.0.0.1:${server.getAddress.getPort}/ over ${args(0)}")
    Thread.currentThread.join()
  }

  /** Starts the server (port 0 → ephemeral; read it back from
    * `getAddress.getPort`). Caller owns the lifecycle: `stop(0)`. */
  def start(spark: SparkSession, root: String, port: Int = 0): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(spark, root, ex))
    // one worker: inspection traffic is a human clicking; serializing
    // requests keeps concurrent ad-hoc SQL from stacking driver work
    server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
    server.start()
    server
  }

  private def handle(spark: SparkSession, root: String, ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath
      val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val params = parseQuery(query)
      if (ex.getRequestMethod != "GET") send(ex, 405, "text/plain", "GET only")
      else path match {
        case "/" => send(ex, 200, "text/html", indexHtml(spark, root))
        case "/tables" => send(ex, 200, "application/json", tablesJson(spark, root))
        case "/sql" =>
          params.get("q") match {
            case None => send(ex, 400, "text/plain", "missing q parameter")
            case Some(q) => send(ex, 200, "application/json", runSql(spark, root, q))
          }
        case TablePath(name, sub) =>
          presentTypes(spark, root).find(_.name == name) match {
            case None => send(ex, 404, "text/plain", s"no table '$name' at this root")
            case Some(dt) => sub match {
              case "" | "/" =>
                send(ex, 200, "application/json", rowsJson(spark, root, dt, params))
              case "/schema" =>
                send(ex, 200, "application/json",
                  StockStore.table(spark, root, dt).schema.json)
              case "/stats" =>
                val df =
                  if (params.get("interval").contains("true"))
                    StockStore.intervalStats(spark, root, dt)
                  else StockStore.incrementalStats(spark, root, dt)
                send(ex, 200, "application/json", toJsonArray(df, MaxRows))
              case "/commits" =>
                send(ex, 200, "application/json",
                  StockStore.commitIds(spark, root, dt).mkString("[", ",", "]"))
              case other => send(ex, 404, "text/plain", s"unknown endpoint $other")
            }
          }
        case _ => send(ex, 404, "text/plain", "unknown endpoint")
      }
    } catch {
      case e: Throwable =>
        send(ex, 400, "text/plain", s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally ex.close()

  private object TablePath {
    private val Re = "^/table/([A-Za-z0-9_]+)(/.*)?$".r
    def unapply(path: String): Option[(String, String)] = path match {
      case Re(name, sub) => Some((name, Option(sub).getOrElse("")))
      case _ => None
    }
  }

  /** Data types with a published table under this root. */
  def presentTypes(spark: SparkSession, root: String): Seq[StockDataType] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StockDataType.all.filter(dt => fs.exists(new org.apache.hadoop.fs.Path(rp, dt.name)))
  }

  private def rowsJson(spark: SparkSession, root: String, dt: StockDataType,
      params: Map[String, String]): String = {
    val limit = math.min(params.get("limit").map(_.toInt).getOrElse(50), MaxRows)
    val base = params.get("commit") match {
      case Some(id) => StockStore.tableAt(spark, root, dt, id.toLong)
      case None => StockStore.table(spark, root, dt)
    }
    // ticker is the leading partition column, so this filter prunes
    // directories rather than scanning them
    val pruned = params.get("ticker").fold(base)(t => base.where(base("ticker") === t))
    toJsonArray(pruned, limit)
  }

  private def tablesJson(spark: SparkSession, root: String): String =
    presentTypes(spark, root).map { dt =>
      // O(#batches) incremental log, aggregated to one driver row — no scan
      val agg = StockStore.incrementalStats(spark, root, dt)
        .agg(org.apache.spark.sql.functions.sum("row_count"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .collect()(0)
      val rows = if (agg.isNullAt(0)) 0L else agg.getLong(0)
      val commits = StockStore.commitIds(spark, root, dt)
      s"""{"name":${jstr(dt.name)},"rows":$rows,"statsKeys":${agg.getLong(1)},""" +
        s""""commits":${commits.length},"lastCommit":${commits.lastOption.getOrElse(-1L)}}"""
    }.mkString("[", ",", "]")

  /** Read-only ad-hoc SQL: parse → reject non-queries → register views →
    * run capped. The guard walks the whole tree (CTEs, subqueries) so a
    * command cannot hide under a `WITH`. */
  private def runSql(spark: SparkSession, root: String, q: String): String = {
    val plan = spark.sessionState.sqlParser.parsePlan(q)
    val writes = plan.collect {
      case c: Command => c
      case i: InsertIntoStatement => i
    }
    require(writes.isEmpty,
      s"read-only endpoint: rejected ${writes.head.getClass.getSimpleName}")
    // fresh per-request registration: each query sees one consistent
    // committed snapshot (view creation is metadata-only, no scan)
    presentTypes(spark, root).foreach { dt =>
      StockStore.table(spark, root, dt).createOrReplaceTempView(dt.name)
      StockStore.incrementalStats(spark, root, dt)
        .createOrReplaceTempView(s"${dt.name}__stats")
    }
    toJsonArray(spark.sql(q), MaxRows)
  }

  /** Bounded JSON materialization: LIMIT pushes into the scan, and the
    * driver never holds more than `limit` serialized rows. */
  private def toJsonArray(df: DataFrame, limit: Int): String =
    df.limit(math.min(limit, MaxRows)).toJSON.collect().mkString("[", ",", "]")

  private def indexHtml(spark: SparkSession, root: String): String = {
    val rows = presentTypes(spark, root).map { dt =>
      s"""<tr><td><a href="/table/${dt.name}">${dt.name}</a></td>""" +
        s"""<td><a href="/table/${dt.name}/schema">schema</a></td>""" +
        s"""<td><a href="/table/${dt.name}/stats">stats</a></td>""" +
        s"""<td><a href="/table/${dt.name}/commits">commits</a></td></tr>"""
    }.mkString("\n")
    s"""<!doctype html><html><head><title>graft store inspector</title></head>
       |<body><h1>graft store inspector</h1>
       |<p>root: <code>${escapeHtml(root)}</code></p>
       |<table border="1"><tr><th>table</th><th colspan="3">views</th></tr>
       |$rows</table>
       |<p>Ad-hoc (read-only): <code>/sql?q=SELECT ...</code> over views
       |named as above plus <code>&lt;table&gt;__stats</code>;
       |rows capped at $MaxRows.</p>
       |<p>JSON summary: <a href="/tables">/tables</a></p></body></html>""".stripMargin
  }

  private def parseQuery(raw: String): Map[String, String] =
    raw.split("&").filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def send(ex: HttpExchange, code: Int, ctype: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$ctype; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
