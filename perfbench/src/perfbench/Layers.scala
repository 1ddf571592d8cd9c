package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The traced run's per-layer metric set. Every traced run reports every
  * key; a layer the workload does not touch reads 0. */
object Layers {
  val queryNames: Seq[String] = Seq("h1_pricing_summary", "h2_star_join_broadcast",
    "h3_top_revenue_orders", "h4_order_priority_exists", "q4_ohlc_resample",
    "x7_training_data_pipeline", "d2_minhash_lsh_pairs", "v1_cosine_topk")

  private val units: Seq[(String, String)] = Seq(
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.commit_offsets_s" -> "s", "streaming.unlabeled_job_s" -> "s",
    "sources.ws.latest_offset_s" -> "s", "sources.ws.get_batch_s" -> "s",
    "sources.ws.source_reads_per_frame" -> "ratio",
    "transform.s" -> "s", "transform.frames_dropped_share" -> "ratio",
    "store.jobs_per_trigger" -> "count", "store.stages_per_trigger" -> "count",
    "store.tasks_per_trigger" -> "count", "store.in_job_s" -> "s", "store.driver_gap_s" -> "s",
    "store.job_s.touched_tuples" -> "s", "store.job_s.merge_pin_output" -> "s",
    "store.job_s.stats_rows" -> "s", "store.job_s.stage_data_write" -> "s",
    "store.job_s.other" -> "s",
    "store.readback_bytes_per_trigger" -> "B", "store.files_written_per_trigger" -> "count",
    "store.files_in_touched_partitions" -> "count", "store.latency_slope_s_per_trigger" -> "s",
    "store.manifests_live" -> "count", "store.table_open_s" -> "s",
    "read.build_s" -> "s", "read.collect_s" -> "s", "read.jobs_per_request" -> "count",
    "read.catalyst_s" -> "s", "read.rows_scanned_per_row_returned" -> "ratio",
    "analytics.session_ohlc_s" -> "s", "analytics.asof_join_s" -> "s",
    "analytics.jobs_per_call" -> "count",
    "queries.catalyst_s" -> "s", "queries.in_job_s" -> "s", "queries.task_s" -> "s",
    "queries.shuffle_bytes" -> "B", "queries.spill_bytes" -> "B",
    "jvm.gc_s" -> "s", "jvm.heap_after_gc_mb" -> "MB",
    "tracing.overhead_share" -> "ratio", "tracing.unaccounted_share" -> "ratio",
    "tracing.selftest_leaked_task_s" -> "s") ++
    queryNames.flatMap(q => Seq(s"queries.$q.wall_s" -> "s", s"queries.$q.jobs" -> "count",
      s"queries.$q.driver_gap_s" -> "s"))

  val defaults: Map[String, Double] = units.map { case (k, _) => k -> 0.0 }.toMap
  def unit(k: String): String = units.find(_._1 == k).map(_._2).getOrElse("")

  /** Old-generation occupancy after the last collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
}
