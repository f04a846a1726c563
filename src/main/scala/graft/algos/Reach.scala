package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{RunConfig, Step}
import graft.graph.TemporalGraph
import graft.ml.GraphLearn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Approximate neighbourhood function — HyperBall (Boldi–Vigna 2013), the
 * web-graph algorithm behind effective-diameter / reach analytics at
 * billion-node scale: every node carries a HyperLogLog counter of its
 * out-ball B(v, t) = {w : dist(v → w) ≤ t}; one superstep merges each
 * node's counter with its out-neighbours' counters (set union becomes
 * elementwise register max), so after t steps the counter estimates
 * |B(v, t)| — exact BFS would need Θ(n²) state, the sketch needs
 * m = 16 registers per node.
 *
 * Everything is DETERMINISTIC and integer-exact, so the DuckDB oracle
 * replays it bit-for-bit:
 *  - the node hash is the portable [[GraphLearn.hmix]] family (~30 bits);
 *    register index j = h mod 16, and ρ = 27 − ⌊log₂(h div 16)⌋ via
 *    `length(bin(w))` — a string op both engines share, no float log;
 *  - registers live SPARSELY as (id, j, ρ) rows (absent = 0): state is
 *    ≤ 16·|V| rows, the merge is a plain `groupBy(id, j).max(ρ)` — no
 *    arrays, no collect_list, hub in-degree absorbed by partial
 *    aggregation exactly like the PageRank message sum;
 *  - the HLL denominator Σ 2^{−ρ_j} is computed as the exact INTEGER
 *    Σ 2^{27−ρ_j} (+ 2^27 per zero register), so the estimate is a pure
 *    function of one exact integer — float summation order cannot differ.
 *
 * Per superstep: ONE exchange (the message re-key to src); the edge list
 * joins the register frame on dst. 16 registers (b = 4, α₁₆ = 0.673,
 * Flajolet et al. 2007) keep the sketch ~26% relative error — the
 * HyperBall paper's plumbing at its smallest size; raising m is a
 * constant, not a shape change.
 */
object Reach {

  val M = 16                       // registers (b = 4)
  private val Alpha16 = 0.673      // Flajolet et al. 2007, table for m = 16
  private val Scale = 134217728L   // 2^27: ρ ∈ [1, 27] ⇒ 2^(27−ρ) is integral

  /**
   * Sparse HLL registers of every node's out-ball after `iters` supersteps.
   * @return (id, j 0..15, rho 1..27) — absent (id, j) means register 0
   */
  def registers(
      spark: SparkSession,
      g: TemporalGraph,
      iters: Int,
      seed: Long = 42L): DataFrame = {
    require(iters >= 0 && iters <= 64, s"iters=$iters out of [0, 64]")
    val init = g.nodes
      .withColumn("__h", GraphLearn.hmix(seed, col("id") -> GraphLearn.M1))
      .withColumn("__w", expr("__h DIV 16"))
      .select(
        col("id"),
        (col("__h") % M).cast("long").as("j"),
        when(col("__w") === 0L, lit(27L))
          .otherwise(lit(27L) - length(bin(col("__w"))).cast("long"))
          .as("rho"))
    if (iters == 0) return init

    // WIDE internal loop (one row per node, registers as 16 columns; see
    // [[runWide]]) — the public sparse (id, j, rho) contract is restored by
    // exploding the final state; absent registers are the r_j = 0 columns.
    val wide = runWide(spark, g, init, iters, s"hyperball-$seed", _ => ())
    try
      Pin.pin(wide
        .select(
          col("id"),
          explode(array((0 until M).map(j =>
            struct(lit(j.toLong).as("j"), col(s"r$j").as("rho"))): _*)).as("e"))
        .select(col("id"), col("e.j").as("j"), col("e.rho").as("rho"))
        .filter(col("rho") > 0L))
    finally Pin.release(wide)
  }

  /**
   * The HyperBall superstep loop over the WIDE register layout: state is
   * ONE row per node, `(id, r0..r15)` — the r5 sparse (id, j, rho) layout
   * shipped 16 rows per node per edge message and needed an extra (id, j)
   * → id re-key for every estimate pass (measured: the register exchange
   * dominated the harmonic leg's 1.28 GB shuffle). Wide, the per-step
   * exchange carries 16× fewer rows of the same payload, the merge is 16
   * columnar `max` aggregates in ONE id-keyed exchange, and ball estimates
   * become pure row expressions — no re-key at all. Register VALUES are
   * identical (elementwise max; absent ≡ 0).
   *
   * The edge frame is persisted once, hash-partitioned on the join key,
   * so the per-step plan neither recomputes the simpleEdges dedup nor
   * re-exchanges the edge side (the r5 shape re-ran the distinct every
   * step). Safe to free before returning: states are checkpoint-truncated.
   *
   * @param initSparse one (id, j, rho) row per node ([[registers]] iters=0)
   * @param onStep     called with each step's MATERIALIZED wide state
   */
  private def runWide(
      spark: SparkSession,
      g: TemporalGraph,
      initSparse: DataFrame,
      iters: Int,
      runId: String,
      onStep: DataFrame => Unit): DataFrame = {
    // exactly one register row per node initially → widen by projection
    val initWide = initSparse.select(
      col("id") +: (0 until M).map(j =>
        when(col("j") === j, col("rho")).otherwise(lit(0L)).as(s"r$j")): _*)
    val regCols = (0 until M).map(j => col(s"r$j"))
    Pin.scope { pins =>
      val e = pins.persist(g.simpleEdges.repartition(col("dst")))
      SuperstepRunner.run(
        spark, initWide, RunConfig(maxSteps = iters, runId = runId)) {
        (state, _) =>
          val msgs = e
            .join(state, e("dst") === state("id"))
            .select(e("src").as("id") +: regCols: _*)
          val maxes = (0 until M).map(j => max(col(s"r$j")).as(s"r$j"))
          val next = state
            .unionByName(msgs)
            .groupBy("id")
            .agg(maxes.head, maxes.tail: _*)
          Step(next, { m => onStep(m); (false, Map.empty) })
      }.state
    }
  }

  /**
   * Per-node ball-size estimates at EVERY t = 0..iters — the quantity
   * HyperBall was built for (Boldi–Vigna 2013 §5 compute harmonic and
   * closeness centrality from exactly these per-step deltas). Runs the
   * same superstep loop as [[registers]]; after each step the |V|-row
   * estimate frame is local-checkpointed (its own blocks — superstep
   * states are freed eagerly, so a lazy view over them would not survive).
   * Per-step overhead: ONE extra exchange — the ≤16·|V|-row register frame
   * re-keys from (id, j) to id for the estimate aggregation — and the
   * resulting frames land hash-partitioned on id, so the centrality joins
   * downstream are exchange-free.
   *
   * Estimates are UNROUNDED: downstream folds must start from the raw
   * doubles (both engines compute them identically from exact-integer
   * denominators) — per-step decimal rounding would let Spark's
   * BigDecimal-exact `round` and DuckDB's float `round` pick ADJACENT
   * doubles at a boundary, and the fold amplifies that 1e-6 input gap
   * past the final rounding. Round once, at the end.
   *
   * @return one (id, ball_est, unrounded) frame per t, index 0..iters
   */
  def ballSeries(
      spark: SparkSession,
      g: TemporalGraph,
      iters: Int,
      seed: Long = 42L): Vector[DataFrame] = Pin.scope { pins =>
    require(iters >= 1 && iters <= 64, s"iters=$iters out of [1, 64]")
    val init = registers(spark, g, iters = 0, seed = seed)
    val ests = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    ests += pins.pin(estimateRaw(init))
    // wide loop ([[runWide]]): the per-step estimate is a pure row
    // expression over the already-materialized wide state — the r5 sparse
    // layout paid an extra (id, j) → id exchange per step for it
    val finalState = runWide(
      spark, g, init, iters, s"hyperball-series-$seed",
      m => ests += pins.pin(estimateRawWide(m)))
    // only the pinned estimate frames escape
    Pin.release(finalState)
    ests.map(pins.keep).toVector
  }

  /**
   * Harmonic and closeness centrality from the HyperBall ball series —
   * the paper's headline application. With ΔB(t) = max(|B(t)|−|B(t−1)|, 0)
   * (clamped: HLL estimates are not strictly monotone at rounding scale):
   *
   *  - harmonic_est  = Σ_t ΔB(t)/t            (Boldi–Vigna harmonic centrality)
   *  - closeness_est = (|B(T)|−1) / Σ_t t·ΔB(t)  over the REACHABLE set
   *    (0 when nothing is reached — the disconnected-graph convention)
   *  - ball_est      = |B(T)|
   *
   * The per-step estimate frames are hash-partitioned on id, so the T+1
   * joins below are exchange-free; folds are explicit left-to-right
   * chains over the UNROUNDED per-step estimates (see [[ballSeries]]), so
   * the DuckDB oracle replays every float op in the same order from
   * bit-identical inputs; rounding happens once, on the outputs.
   *
   * @return (id, ball_est, harmonic_est ROUND 6, closeness_est ROUND 6)
   */
  def harmonicCloseness(
      spark: SparkSession,
      g: TemporalGraph,
      iters: Int,
      seed: Long = 42L): DataFrame = {
    val series = ballSeries(spark, g, iters, seed)
    val wide = series.zipWithIndex
      .map { case (f, t) => f.select(col("id"), col("ball_est").as(s"b$t")) }
      .reduce((a, b) => a.join(b, Seq("id")))
    val deltas = (1 to iters).map(t => greatest(col(s"b$t") - col(s"b${t - 1}"), lit(0.0)))
    val harmonic = deltas.zipWithIndex.map { case (d, i) => d / (i + 1).toDouble }.reduce(_ + _)
    val sumDist = deltas.zipWithIndex.map { case (d, i) => d * (i + 1).toDouble }.reduce(_ + _)
    val closeness =
      when(sumDist > 0.0, (col(s"b$iters") - 1.0) / sumDist).otherwise(lit(0.0))
    try
      Pin.pin(wide.select(
        col("id"),
        round(col(s"b$iters"), 6).as("ball_est"),
        round(harmonic, 6).as("harmonic_est"),
        round(closeness, 6).as("closeness_est")))
    finally Pin.release(series: _*)
  }

  /**
   * Integer effective diameter from the ball series: the smallest t with
   * N(t) ≥ q·N(T), N(t) = Σ_v |B(v,t)| the neighbourhood function — the
   * web-graph "90% effective diameter" when q = 0.9 (reported WITHOUT the
   * fractional interpolation: the integer form avoids dividing by
   * near-zero late-step increments, which would amplify float-sum noise
   * past oracle rounding). One bounded (≤ iters+1 row) collect.
   *
   * @return one row (eff_diameter, reach_total ROUND 2)
   */
  def effectiveDiameter(
      spark: SparkSession,
      g: TemporalGraph,
      iters: Int,
      q: Double = 0.9,
      seed: Long = 42L): DataFrame = {
    require(q > 0.0 && q <= 1.0, s"q=$q out of (0, 1]")
    val series = ballSeries(spark, g, iters, seed)
    val ns =
      try series.map(f => f.agg(sum("ball_est")).first().getDouble(0))
      finally Pin.release(series: _*)
    val target = q * ns.last
    val eff = ns.indexWhere(_ >= target)
    import spark.implicits._
    Seq((eff.toLong, ns.last))
      .toDF("eff_diameter", "rt")
      .select(col("eff_diameter"), round(col("rt"), 2).as("reach_total"))
  }

  /**
   * Per-node ball-size estimate from a [[registers]] frame: the HLL raw
   * estimate α·m²/Σ2^{−ρ_j} with the standard small-range (linear
   * counting) correction m·ln(m/V₀) when raw ≤ 2.5m and V₀ > 0 zero
   * registers remain. Pure per-node function — no cross-node float sums.
   * @return (id, ball_est ROUND 6)
   */
  def estimate(registersDf: DataFrame): DataFrame =
    estimateRaw(registersDf).select(col("id"), round(col("ball_est"), 6).as("ball_est"))

  /** [[estimateRaw]] over the WIDE register layout (id, r0..r15): denom
    * and v0 are the same exact integers (a zero register contributes
    * 2^27 exactly as the sparse path's (M − np)·Scale term), and the
    * final when/otherwise float expression is copied verbatim — so the
    * ball_est doubles are bit-identical to the sparse path's. A pure row
    * expression: no aggregation, no exchange. */
  private def estimateRawWide(wide: DataFrame): DataFrame = {
    val c = Alpha16 * (M.toDouble * M.toDouble) * Scale.toDouble
    val denom = (0 until M)
      .map(j => pow(lit(2.0), lit(27L) - col(s"r$j")).cast("long"))
      .reduce(_ + _)
    val v0 = (0 until M)
      .map(j => when(col(s"r$j") === 0L, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    wide
      .select(col("id"), denom.as("denom"), v0.as("v0"))
      .select(
        col("id"),
        when(
          lit(c) / col("denom").cast("double") <= 2.5 * M && col("v0") > 0L,
          lit(M.toDouble) * log(lit(M.toDouble) / col("v0").cast("double")))
          .otherwise(lit(c) / col("denom").cast("double"))
          .as("ball_est"))
  }

  /** As [[estimate]] without the final 6-dp rounding — the form downstream
    * float folds ([[harmonicCloseness]]) must consume (see [[ballSeries]]). */
  def estimateRaw(registersDf: DataFrame): DataFrame = {
    val c = Alpha16 * (M.toDouble * M.toDouble) * Scale.toDouble
    registersDf
      .groupBy("id")
      .agg(
        count(lit(1)).as("np"),
        sum(pow(lit(2.0), lit(27L) - col("rho")).cast("long")).as("ps"))
      .select(
        col("id"),
        ((lit(M.toLong) - col("np")) * Scale + col("ps")).as("denom"),
        (lit(M.toLong) - col("np")).as("v0"))
      .select(
        col("id"),
        when(
          lit(c) / col("denom").cast("double") <= 2.5 * M && col("v0") > 0L,
          lit(M.toDouble) * log(lit(M.toDouble) / col("v0").cast("double")))
          .otherwise(lit(c) / col("denom").cast("double"))
          .as("ball_est"))
  }
}
