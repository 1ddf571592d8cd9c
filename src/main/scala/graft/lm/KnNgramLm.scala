package graft.lm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Interpolated Kneser-Ney LM at ARBITRARY order n — the
  * [[KnBigramLm]] (n=2) / [[KnTrigramLm]] (n=3) recursion with the
  * continuation-count construction parameterized over order
  * (Chen & Goodman 1998), D = 3/4 at every level:
  *
  *   p_k(w|ctx_k) = (C_k − D)/S_k + D·N_k/S_k · p_{k−1}(w|ctx_{k−1})
  *   p_1(w)       = (tc(w) + 1)/(TT + V)
  *
  * where at the top level C_n is the TOKEN count of the n-gram and at
  * every lower level C_k is the continuation (TYPE) count — the number
  * of distinct words preceding the k-gram in the level-(k+1) table —
  * S_k = Σ C_k over the context, and N_k = distinct continuations of
  * the context. KnNgramLmSpec proves Σ_w p_n(w|ctx) = 1 exactly in
  * rationals for every order (the same telescoping argument at each
  * level: Σ(C−D) + D·N = S). It asserts that n=3 matches [[KnTrigramLm]]
  * bit for bit (num, den and bits) and that n=2 matches [[KnBigramLm]]
  * on num/den only: the bigram quantizes surprisal as
  * `len(bin(den)) − len(bin(num))`, not `len(bin(den div num))`
  * (num=1, den=8 gives 3 there and 4 here).
  *
  * Arithmetic: exact num/den rationals in DECIMAL(38,0) (DuckDB
  * HUGEINT), surprisal quantized from the BIGINT-safe quotient
  * `den div num` = floor(1/p) — see [[KnTrigramLm]]'s scaladoc for the
  * bound argument; each extra order multiplies den by 4·S_k, so the
  * 38-digit budget holds through order 4 at any realistic SF (the
  * trigram's ~1e19 worst case times a ~1e5 context-sum factor).
  *
  * 100 TB shape, per order: the level-n gram table joins
  * corpus-linearly; every lower-level table is keyed by ≤(n−1)-grams
  * and shrinks with depth; context tables keyed by a single word (and
  * the unigram/scalar tables) broadcast. One corpus-linear score pass,
  * map-side-combinable rollup; count tables pin eagerly (train IS an
  * action, the d15/c12 lesson).
  */
object KnNgramLm {

  private def suffixCols(n: Int, k: Int): Seq[String] =
    (n - k + 1 to n).map(i => s"w$i")
  private def ctxCols(n: Int, k: Int): Seq[String] =
    (n - k + 1 until n).map(i => s"w$i")

  /** (doc_id, w1..wn) gram stream; docs with < n tokens drop. */
  def ngrams(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"order $n: need n >= 2")
    val t = graft.functions.TextFunctions.lowerTokens(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), t.as("t"))
      .where(size(col("t")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("t")) - (n - 1)),
        i => struct((0 until n).map(j =>
          element_at(col("t"), i + j).as(s"w${j + 1}")): _*))).as("g"))
      .select(col("doc_id") +: (1 to n).map(i => col(s"g.w$i")): _*)
  }

  /** Level k's tables: `gram` keyed by the k-suffix with count `cnt{k}`
    * (tokens at k=n, continuation types below), `ctx` keyed by the
    * (k−1)-context with `csum{k}`/`ndist{k}`. */
  final case class Level(k: Int, gram: DataFrame, ctx: DataFrame)
  /** `ttv` = tt + v collected once per model instance (scal is ONE row
    * at any corpus size): the base-level smoothing denominator rides
    * [[score]] as a literal, not a per-query crossJoin(broadcast) —
    * see [[KnBigramLm.Model.ntv]]. */
  final case class Model(n: Int, levels: Seq[Level], tc: DataFrame, scal: DataFrame) {
    lazy val ttv: Long = scal.select((col("tt") + col("v")).as("ttv")).head().getLong(0)
  }

  def train(grams: DataFrame, n: Int): Model = train(grams, n, 1L)

  /** Count-threshold pruned training (SRILM-style count cutoff at the
    * TOP level): only n-grams with token count ≥ `minTopCount` are
    * retained (1 = unpruned). The cutoff applies to the top level ONLY,
    * deliberately:
    *
    *   - Every lower table derives from the pruned top table, so ALL of
    *     them are bounded by its size — one knob bounds the whole model.
    *   - Suffix closure holds by construction (each retained gram's
    *     suffix IS a row of the next level's type table), so the
    *     closed-vocab normalization Σ_{w ∈ vocab} p_n(w|ctx) = 1 keeps
    *     holding EXACTLY: the telescoping Σ(C−D) + D·N = S is table-
    *     agnostic per level, and closure keeps every retained gram's
    *     mass inside the vocab sum. An independent cutoff at a lower
    *     level would break closure (a retained top gram whose suffix
    *     was pruned leaks its first-term mass outside tc) — measured
    *     here as a silently-NULL model when a cutoff emptied a middle
    *     level. KnNgramLmSpec proves the pruned Σp=1 in rationals.
    *
    * Pruned-away grams fall to the lower-order interpolation like any
    * unseen gram.
    *
    * 100 TB shape — the point: the order-n gram table is the model's
    * one corpus-linear term (x72 measured it at 34× per 100× data);
    * singleton cutoffs make the RETAINED table grow with the number of
    * REPEATED n-grams instead, which saturates as the corpus outgrows
    * its novelty. The filter rides the training aggregation (map-side
    * combine unchanged), before the checkpoint pins anything.
    */
  def train(grams: DataFrame, n: Int, minTopCount: Long): Model = {
    require(n >= 2, s"order $n: need n >= 2")
    require(minTopCount >= 1L, "minTopCount must be >= 1")
    val levels = Seq.newBuilder[Level]
    // top level: token counts; each lower level's gram table is the
    // TYPE count of the level above (one row per distinct gram there)
    val top = grams.groupBy(suffixCols(n, n).map(col): _*)
      .agg(count(lit(1)).as(s"cnt$n"))
    var gramTable = (if (minTopCount <= 1L) top
      else top.filter(col(s"cnt$n") >= minTopCount))
      .localCheckpoint(true) // one materialization feeds every derived table
    if (gramTable.isEmpty) throw new IllegalStateException(
      s"minTopCount=$minTopCount pruned every order-$n gram — an empty " +
        "model scores everything NULL; lower the cutoff")
    var k = n
    while (k >= 2) {
      val ctx = gramTable.groupBy(ctxCols(n, k).map(col): _*)
        .agg(sum(col(s"cnt$k")).cast("long").as(s"csum$k"),
          count(lit(1)).as(s"ndist$k"))
      levels += Level(k, gramTable, ctx)
      if (k > 2) {
        gramTable = gramTable.groupBy(suffixCols(n, k - 1).map(col): _*)
          .agg(count(lit(1)).as(s"cnt${k - 1}"))
          .localCheckpoint(true)
      }
      k -= 1
    }
    val t2 = levels.result().last.gram // level-2 type table
    val tc = t2.groupBy(col(s"w$n")).agg(count(lit(1)).as("tc"))
    val scal = tc.agg(sum(col("tc")).cast("long").as("tt"), count(lit(1)).as("v"))
    Model(n, levels.result(), tc, scal)
  }

  /** Appends exact num{n}/den{n} (DECIMAL(38,0)), the quantized `bits`,
    * and the `unseen` flag (top-level gram unseen). */
  def score(grams: DataFrame, m: Model): DataFrame = {
    val n = m.n
    var df = grams
    m.levels.foreach { lvl =>
      df = df.join(lvl.gram, suffixCols(n, lvl.k), "left")
      // contexts keyed by one word are vocab-sized: broadcast them
      val ctxT = if (lvl.k - 1 <= 1) broadcast(lvl.ctx) else lvl.ctx
      df = df.join(ctxT, ctxCols(n, lvl.k), "left")
    }
    df = df.join(broadcast(m.tc), Seq(s"w$n"), "left")
      .withColumn("num1", expr("CAST(coalesce(tc, 0) + 1 AS DECIMAL(38,0))"))
      .withColumn("den1", lit(m.ttv).cast("decimal(38,0)"))
    for (k <- 2 to n) {
      df = df
        .withColumn(s"num$k", expr(
          s"""CASE
               WHEN cnt$k IS NOT NULL THEN CAST(4 * cnt$k - 3 AS DECIMAL(38,0)) * den${k - 1} + CAST(3 * ndist$k AS DECIMAL(38,0)) * num${k - 1}
               WHEN csum$k IS NOT NULL THEN CAST(3 * ndist$k AS DECIMAL(38,0)) * num${k - 1}
               ELSE num${k - 1} END"""))
        .withColumn(s"den$k", expr(
          s"""CASE WHEN csum$k IS NOT NULL THEN CAST(4 * csum$k AS DECIMAL(38,0)) * den${k - 1}
               ELSE den${k - 1} END"""))
    }
    df.withColumn("bits",
        length(bin(expr(s"CAST(den$n DIV num$n AS BIGINT)"))).cast("long"))
      .withColumn("unseen", when(col(s"cnt$n").isNull, 1L).otherwise(0L))
  }

  /** Persist every level's tables (train once, score forever — the
    * same contract as the n=2/n=3 siblings). The order is stored in the
    * layout (`level{k}` / `ctx{k}` dirs), so [[load]] re-derives it. */
  def save(m: Model, root: String): Unit = {
    m.levels.foreach { lvl =>
      lvl.gram.write.mode("overwrite").parquet(s"$root/level${lvl.k}.parquet")
      lvl.ctx.write.mode("overwrite").parquet(s"$root/ctx${lvl.k}.parquet")
    }
    m.tc.write.mode("overwrite").parquet(s"$root/tc.parquet")
    m.scal.write.mode("overwrite").parquet(s"$root/scal.parquet")
  }

  def load(spark: org.apache.spark.sql.SparkSession, root: String, n: Int): Model =
    Model(n,
      (n to 2 by -1).map(k => Level(k,
        spark.read.parquet(s"$root/level$k.parquet"),
        spark.read.parquet(s"$root/ctx$k.parquet"))),
      spark.read.parquet(s"$root/tc.parquet"),
      spark.read.parquet(s"$root/scal.parquet"))

  /** What a [[pickTheta]] call is sizing for. */
  sealed trait ThetaTarget
  object ThetaTarget {
    /** Storage budget: retained top-level table must hold ≤ this many
      * grams (the model's one corpus-linear term — x72 measured it at
      * 34× per 100× data; everything else derives from it). */
    final case class MaxGrams(maxGrams: Long) extends ThetaTarget
    /** Quality floor: retained train-token mass must stay ≥ this many
      * ppm of the unpruned mass (θ=1 is 10⁶ ppm by definition). */
    final case class MinMassPpm(minMassPpm: Long) extends ThetaTarget
  }

  /** Sizes the count cutoff FROM DATA: given a prune curve (x75's
    * one-pass sweep — one row per candidate θ with the retained table
    * size `n_kept` and retained mass `mass_keep_ppm`), returns the θ
    * to pass as [[train]]'s `minTopCount`:
    *
    *   - [[ThetaTarget.MaxGrams]]: the SMALLEST candidate θ whose
    *     retained table fits the budget — the least aggressive cutoff
    *     that meets the storage bound (n_kept is non-increasing in θ).
    *     Fails fast if even the largest candidate doesn't fit, naming
    *     the shortfall — extend the curve's candidate grid rather than
    *     silently over-shooting the budget.
    *   - [[ThetaTarget.MinMassPpm]]: the LARGEST candidate θ still
    *     retaining the mass floor — the most aggressive cutoff that
    *     meets the quality bar (mass_keep_ppm is non-increasing in θ).
    *     Always satisfiable when θ=1 is a candidate.
    *
    * Driver-side by design: the curve is one row per candidate θ
    * (x75 sweeps 5), not data-sized. A 100 TB job runs the curve once
    * (1/7 the cost of one train — scale/REPORT_r10.md §4) and feeds
    * the picked θ straight into the real train. */
  def pickTheta(curve: DataFrame, target: ThetaTarget): Long = {
    val rows = curve
      .select(col("theta").cast("long"), col("n_kept").cast("long"),
        col("mass_keep_ppm").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty prune curve — nothing to pick from")
    target match {
      case ThetaTarget.MaxGrams(budget) =>
        rows.find(_._2 <= budget).map(_._1).getOrElse(
          throw new IllegalStateException(
            s"no candidate cutoff fits maxGrams=$budget (largest " +
              s"θ=${rows.last._1} still keeps ${rows.last._2} grams); " +
              "extend the curve's candidate grid"))
      case ThetaTarget.MinMassPpm(floor) =>
        rows.reverse.find(_._3 >= floor).map(_._1).getOrElse(
          throw new IllegalStateException(
            s"no candidate cutoff retains minMassPpm=$floor (θ=" +
              s"${rows.head._1} keeps only ${rows.head._3} ppm); the " +
              "floor is unreachable on this corpus/grid"))
    }
  }

  def perDoc(scored: DataFrame): DataFrame =
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("unseen")).cast("long").as("n_unseen"),
        sum(col("bits")).cast("long").as("kn_bits_q"))
      .withColumn("avg_bits_x100", expr("(kn_bits_q * 100) div n_grams"))

  /** One-pass per-doc scoring that RETAINS unscorable docs (< n tokens):
    * the order-n sibling of [[KnBigramLm.perDocAll]] — one row per
    * distinct doc_id, [[perDoc]] columns, all null when the doc has no
    * order-n grams. See the bigram version for why (gate per-trigger
    * plan: one aggregation, no dedup Exchange, no per-trigger broadcast
    * build of the scored side). */
  def perDocAll(docs: DataFrame, idCol: String, textCol: String, m: Model): DataFrame = {
    val n = m.n
    val t = graft.functions.TextFunctions.lowerTokens(col(textCol))
    val grams = docs
      .select(col(idCol).as("doc_id"), t.as("t"))
      .select(col("doc_id"), explode_outer(when(size(col("t")) >= n, transform(
        sequence(lit(1), size(col("t")) - (n - 1)),
        i => struct((0 until n).map(j =>
          element_at(col("t"), i + j).as(s"w${j + 1}")): _*)))).as("g"))
      .select(col("doc_id") +: (1 to n).map(i => col(s"g.w$i").as(s"w$i")): _*)
    score(grams, m)
      .groupBy(col("doc_id"))
      .agg(count(col("w1")).as("cnt"),
        sum(when(col("w1").isNotNull, col("unseen"))).cast("long").as("u"),
        sum(when(col("w1").isNotNull, col("bits"))).cast("long").as("b"))
      .select(col("doc_id"),
        when(col("cnt") > 0, col("cnt")).as("n_grams"),
        col("u").as("n_unseen"),
        col("b").as("kn_bits_q"),
        when(col("cnt") > 0, expr("(b * 100) div cnt")).as("avg_bits_x100"))
  }
}
