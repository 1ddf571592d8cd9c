package graft.core

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder. Every graft main and the test
  * suite build through it, so the conf the oracle checks, the conf the
  * bench times and the conf the tests run are the same conf; only the
  * task-slot width and the shuffle width differ per caller.
  *
  * What each shared key is for:
  *
  *   - `spark.sql.session.timeZone=UTC`: every derived calendar column
  *     (session slices, partition dates) is computed in UTC, whatever
  *     the host's zone.
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: events.parquet may
  *     carry TIMESTAMP(NANOS), which Spark refuses to read otherwise;
  *     `Tables.events` converts the long to µs timestamps.
  *   - the ObjectHashAggregate sort-based fallback: bounded-buffer
  *     TypedImperativeAggregates (MinKByKey, HLL, capped collect) keep
  *     <= K entries per group, so the stock 128-key sort fallback only
  *     costs (measured: d25 48 s -> 11.6 s at sf1). The threshold is
  *     heap-derived and env-overridable, because the old 2M hard-code
  *     twice proved too small for sf10 bucket stages — see [[Tuning]].
  *     On a cluster, set it in the job conf the same way.
  *   - AQE with `coalescePartitions.parallelismFirst=false`: coalesce
  *     small shuffle stages by SIZE, not parallelism (the setting the
  *     Spark docs recommend). Iterative and bucket stages over kilobytes
  *     collapse to one task instead of `shufflePartitions` scheduling
  *     rounds, while big exchanges keep their width.
  *   - `canChangeCachedPlanOutputPartitioning=true`: cached plans take
  *     part in that coalescing too (the label-propagation working sets
  *     are cached).
  */
object Session {
  /** The conf every session carries, whatever its widths. */
  def conf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    Tuning.ObjHashFallbackConfKey -> Tuning.objHashFallback,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false")

  /** `local[cores]` with `shufflePartitions` shuffle width and [[conf]]. */
  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
