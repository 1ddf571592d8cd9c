package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only micro-lab for the admission gate's PER-BATCH cost (the
  * streaming figure is throughput-critical: a batch that cannot score
  * 2×rate rows inside one trigger interval puts the stream into a
  * backlog spiral it never exits — observed as a bimodal gate p95,
  * 2.6 s in one Bench run and 29.7 s in another, same code).
  *
  * Replays exactly the foreachBatch body of
  * [[graft.streaming.StreamIngest.qualityGate]] + the StreamBench probe
  * (dedup + left join + two count/min aggregations) over a static batch
  * of the same synthetic docs, so the per-batch plan can be explained
  * and timed without the stream around it.
  *
  * Usage: scripts/run_main.sh graft.tools.LabGate [batchRows] [reps]
  */
object LabGate {
  def docText(seq: org.apache.spark.sql.Column,
      junk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(" ", transform(sequence(lit(0), lit(11)), j =>
      concat(when(junk, lit("zq")).otherwise(lit("w")),
        pmod(seq * 7 + j * j, lit(400)).cast("string"))))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10000)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.core.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, 8) // gateWith's width

    val trusted = spark.range(4000)
      .select(col("id").as("doc_id"), docText(col("id"), lit(false)).as("text"))
    val model = graft.lm.KnBigramLm.train(
      graft.lm.KnBigramLm.bigrams(trusted, "doc_id", "text"))

    // the gate feed's doc shape: every 10th junk-vocab
    def batch(): DataFrame = spark.range(n).select(
      col("id").as("doc_id"),
      docText(col("id"), col("id") % 10 === 9).as("text"))

    def gateOnce(b: DataFrame, explain: Boolean, phase: Boolean = false): (Long, Long) = {
      // mirrors gateWith's CURRENT body: one-pass perDocAll (keeps
      // unscorable docs), no dedup Exchange, no scored-side broadcast
      val all = graft.lm.KnBigramLm.perDocAll(b, "doc_id", "text", model)
        .cache()
      try {
        if (explain) all.explain("formatted")
        if (phase) {
          val t0 = System.nanoTime()
          all.count() // forces the cache: scoring pipeline cost
          println(f"[gate-lab]   cache-fill=${(System.nanoTime() - t0) / 1e9}%.3f")
        }
        val admitted = all.filter(
          col("avg_bits_x100").isNotNull && col("avg_bits_x100") <= 1000L)
        val rejected = all.filter(
          col("avg_bits_x100").isNull || col("avg_bits_x100") > 1000L)
        // same observe-on-noop probe as StreamBench's gate harness:
        // metrics ride CollectMetrics nodes, ONE job, no agg Exchange
        val admObs = org.apache.spark.sql.Observation()
        val rejObs = org.apache.spark.sql.Observation()
        admitted.observe(admObs, count(lit(1)).as("n"))
          .unionAll(rejected.observe(rejObs, count(lit(1)).as("n")))
          .write.format("noop").mode("overwrite").save()
        (admObs.get("n").asInstanceOf[Long], rejObs.get("n").asInstanceOf[Long])
      } finally all.unpersist()
    }

    // warm-up
    gateOnce(batch(), explain = true)
    val times = (1 to reps).map { _ =>
      val b = batch()
      val t0 = System.nanoTime()
      val (na, nr) = gateOnce(b, explain = false, phase = true)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[gate-lab] n=$n admitted=$na rejected=$nr sec=$s%.3f")
      s
    }
    println(f"[gate-lab] n=$n min=${times.min}%.3f p50=${times.sorted.apply(times.size / 2)}%.3f max=${times.max}%.3f")
    spark.stop()
  }
}
