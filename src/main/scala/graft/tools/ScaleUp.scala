package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes an sf1-equivalent dataset (~10x sf0.1) for the empirical
  * scale sweep, WITHOUT touching the read-only driver testdata.
  *
  * Construction goals (so a 10x run measures *scaling*, not a different
  * workload):
  *   - TPC-H facts/dims replicate with disjoint key spaces per replica
  *     (orderkey/custkey/partkey/suppkey shifted by a stride larger than
  *     the sf0.1 max), so join fan-out per key is UNCHANGED and join
  *     outputs scale exactly linearly. Dates are kept as-is so time-range
  *     predicates select 10x the rows at the same selectivity.
  *   - `documents`: replica i>0 rewrites every token t -> "t·i" (a
  *     bijection on the token alphabet). Within-replica shingle/Jaccard
  *     structure is exactly the original's; cross-replica overlap is zero.
  *     Dup pairs therefore scale exactly 10x — any super-linear growth in
  *     d2/d5 is an algorithmic blowup, not a data artifact.
  *   - `embeddings`: replica i applies a deterministic per-dimension sign
  *     flip (one pattern per replica). Sign flips are orthogonal maps, so
  *     all within-replica dot products / cosines are bit-preserved and the
  *     ANN cluster structure replicates; cross-replica vectors decorrelate.
  *   - `region`/`nation` stay fixed (dims in TPC-H don't scale).
  *
  * Run: sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 data/sf1 10"
  */
object ScaleUp {
  // Strides chosen > any source (sf0.1) key so replica key spaces never
  // collide. NOTE the contract with the registry's synthetic-id unions:
  // queries place synthesized variants (near-dup copies, leaked docs,
  // junk feeds) at +1e12-scale offsets, ABOVE any id this synthesizer
  // can produce through sf100000 — a +1e6-scale offset would alias
  // replica ids exactly (replica i of doc k has id i*1e6 + k).
  private val OrderStride = 10000000L
  private val CustStride  = 1000000L
  private val PartStride  = 1000000L
  private val SuppStride  = 100000L
  private val EventStride = 10000000L
  private val UserStride  = 1000000L
  private val DocStride   = 1000000L
  private val VecStride   = 1000000L

  /** The registry's synthetic-id namespace floor: every synthesized
    * variant id (near-dup copy, leaked doc, junk feed, corrupted media)
    * lives at or above this, so NO id this synthesizer can produce may
    * reach it. The ROUNDLOG §9.13 defect class — synthetic ids aliasing
    * replica ids at 100% on the scaled corpora — is now an ASSERTION,
    * not an offset convention someone has to remember. */
  val SyntheticIdFloor: Long = 1000000000000L

  /** Largest id `replicate`+`shifted` can emit for a table. */
  def maxReplicaId(maxSourceId: Long, stride: Long, replicas: Int): Long =
    (replicas - 1).toLong * stride + maxSourceId

  /** Fails loudly when a replication would intersect the registry's
    * synthetic namespaces (or wrap a stride into a neighbor replica's
    * key space). Called per table before anything is written; the spec
    * case that would have caught the r6–r8 aliasing lives in
    * ScaleUpSpec (a +1e6-scale synthetic offset fails this check at
    * every replica count > 1). */
  def assertReplicaDomain(table: String, maxSourceId: Long, stride: Long,
      replicas: Int): Unit = {
    require(maxSourceId < stride,
      s"$table: max source id $maxSourceId >= stride $stride — replica " +
        "key spaces would overlap each other")
    val top = maxReplicaId(maxSourceId, stride, replicas)
    require(top < SyntheticIdFloor,
      s"$table: replica ids reach $top >= synthetic-id floor " +
        s"$SyntheticIdFloor at replicas=$replicas — the registry's " +
        "synthesized variants would alias real replica ids (ROUNDLOG §9.13)")
  }

  /** One scan -> R replicas via an exploded replica column. */
  private def replicate(df: DataFrame, r: Int): DataFrame =
    df.withColumn("rep", explode(lit((0 until r).toArray)))

  private def shifted(c: String, stride: Long) =
    (col(c) + col("rep").cast("long") * stride).as(c)

  def main(args: Array[String]): Unit = {
    val in  = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "data/sf1"
    val r   = if (args.length > 2) args(2).toInt else 10

    val spark = graft.core.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, 32)
    def rd(t: String) = spark.read.parquet(s"$in/$t.parquet")
    def wr(df: DataFrame, t: String, files: Int): Unit =
      df.drop("rep").repartition(files).write.mode("overwrite").parquet(s"$out/$t.parquet")
    // collision-domain gate: every shifted key column's replica domain
    // must stay below the synthetic-id floor (one tiny agg per table)
    def gate(t: String, keys: (String, Long)*): Unit = {
      val maxes = rd(t).agg(max(col(keys.head._1).cast("long")),
        keys.tail.map(k => max(col(k._1).cast("long"))): _*).head()
      keys.zipWithIndex.foreach { case ((c, stride), i) =>
        assertReplicaDomain(s"$t.$c", maxes.getLong(i), stride, r)
      }
    }
    gate("lineitem", "l_orderkey" -> OrderStride, "l_partkey" -> PartStride,
      "l_suppkey" -> SuppStride)
    gate("orders", "o_orderkey" -> OrderStride, "o_custkey" -> CustStride)
    gate("customer", "c_custkey" -> CustStride)
    gate("supplier", "s_suppkey" -> SuppStride)
    gate("part", "p_partkey" -> PartStride)
    gate("events", "event_id" -> EventStride, "user_id" -> UserStride)
    gate("documents", "doc_id" -> DocStride)
    gate("embeddings", "vec_id" -> VecStride)

    wr(replicate(rd("lineitem"), r).select(
      shifted("l_orderkey", OrderStride), shifted("l_partkey", PartStride),
      shifted("l_suppkey", SuppStride), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"), col("rep")),
      "lineitem", 32)

    wr(replicate(rd("orders"), r).select(
      shifted("o_orderkey", OrderStride), shifted("o_custkey", CustStride),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"), col("rep")), "orders", 16)

    wr(replicate(rd("customer"), r).select(
      shifted("c_custkey", CustStride),
      when(col("rep") === 0, col("c_name"))
        .otherwise(concat(col("c_name"), lit("#r"), col("rep"))).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"), col("rep")),
      "customer", 4)

    wr(replicate(rd("supplier"), r).select(
      shifted("s_suppkey", SuppStride),
      when(col("rep") === 0, col("s_name"))
        .otherwise(concat(col("s_name"), lit("#r"), col("rep"))).as("s_name"),
      col("s_nationkey"), col("s_acctbal"), col("rep")), "supplier", 1)

    wr(replicate(rd("part"), r).select(
      shifted("p_partkey", PartStride),
      when(col("rep") === 0, col("p_name"))
        .otherwise(concat(col("p_name"), lit("#r"), col("rep"))).as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"),
      col("rep")), "part", 2)

    rd("region").write.mode("overwrite").parquet(s"$out/region.parquet")
    rd("nation").write.mode("overwrite").parquet(s"$out/nation.parquet")

    wr(replicate(rd("events"), r).select(
      shifted("event_id", EventStride), col("ts"),
      shifted("user_id", UserStride), col("event_type"), col("value"),
      col("props"), col("rep")), "events", 8)

    // documents: token-alphabet bijection per replica. The suffix must
    // survive the engine's tokenizer ([a-zA-Z0-9]+ runs) as part of the
    // SAME token — an earlier middle-dot variant ("t·i") split into
    // (t, i), doubling token volume and interleaving a digit between
    // every pair of real tokens, so "10x" runs actually carried 19x the
    // shingle volume and a different within-replica Jaccard structure.
    // "tzRz" keeps token count and shingle structure exactly 1:1 per
    // replica; collisions with real corpus tokens are vanishingly rare
    // and timing-irrelevant.
    wr(replicate(rd("documents"), r).select(
      shifted("doc_id", DocStride),
      when(col("rep") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("([a-zA-Z0-9]+)"),
          concat(lit("$1z"), col("rep").cast("string"), lit("z")))).as("text"),
      col("lang"), col("source"), col("n_chars"), col("rep")), "documents", 8)

    // embeddings: orthogonal per-replica sign flip — sign(i, dim) from a
    // cheap integer mix; replica 0 keeps the exact original floats.
    val signFlip = transform(col("embedding"), (x, j) =>
      when(col("rep") === 0, x).otherwise(
        x * when(pmod(hash(col("rep") * 131071 + j), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f))))
    wr(replicate(rd("embeddings"), r).select(
      shifted("vec_id", VecStride), signFlip.as("embedding"), col("label"),
      col("rep")), "embeddings", 4)

    // Quick audit line per table.
    Seq("lineitem", "orders", "customer", "supplier", "part", "events",
      "documents", "embeddings").foreach { t =>
      println(s"[scaleup] $t rows=${spark.read.parquet(s"$out/$t.parquet").count()}")
    }
    spark.stop()
  }
}
