package perfbench

import graft.core.Registry
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Compares how the headline queries run on two data directories — the
  * generated tables and the sf0.1 test data they imitate. For each query
  * and directory: result rows, input records read, shuffle bytes, jobs,
  * tasks and the median wall time over `passes` passes, after one warm
  * pass per directory. Every pass runs both directories, so a slow host
  * window hits both alike.
  *
  * Usage: perfbench.Fidelity <passes> <dirA> <dirB>  (via perfbench/fidelity.py) */
object Fidelity {
  def main(argv: Array[String]): Unit = {
    val passes = argv(0).toInt
    val dirs = argv.drop(1).toSeq
    val spark: SparkSession = Main.session(sys.props("java.io.tmpdir"))
    try {
      val queries = Layers.queryNames.map(n => Registry.allQueries.find(_.name == n).get)
      val rows = dirs.map { d =>
        d -> queries.map { q =>
          val df = q.build(spark, d)
          val obs = Observation()
          df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          q.name -> obs.get("n").asInstanceOf[Long]
        }.toMap
      }.toMap
      val t = Tracer.install(spark)
      val walls = for (p <- 0 until passes; d <- dirs; q <- queries) yield {
        val op = s"${q.name}@$d@$p"
        val t0 = System.nanoTime()
        t.op(op)(q.build(spark, d).write.format("noop").mode("overwrite").save())
        (d, q.name, op, (System.nanoTime() - t0) / 1e9)
      }
      t.drain()
      for (d <- dirs) {
        val med = queries.map(q => q.name -> Stats.median(
          walls.filter(w => w._1 == d && w._2 == q.name).map(_._4))).toMap
        queries.foreach { q =>
          val js = walls.filter(w => w._1 == d && w._2 == q.name).flatMap(w => t.jobsOfOp(w._3))
          println(Json.obj(Seq("dir" -> d, "query" -> q.name, "rows" -> rows(d)(q.name),
            "input_records" -> js.map(_.inputRecords).sum / passes,
            "shuffle_bytes" -> js.map(_.shuffleBytes).sum / passes,
            "jobs" -> js.size / passes, "tasks" -> js.map(_.tasks).sum / passes,
            "wall_s" -> med(q.name), "wall_share" -> med(q.name) / med.values.sum)).s)
        }
      }
    } finally spark.stop()
  }
}
