package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{NoRows, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Temporal SEIR/SI epidemics (reference
 * raphtory/src/algorithms/dynamics/temporal/epidemics.rs:182, after
 * https://arxiv.org/abs/2007.14386), re-expressed as a deterministic
 * distributed fixpoint.
 *
 * The reference runs an event-driven simulation: a binary heap pops the
 * earliest infection, samples incubation/recovery from Exp(rate) and a
 * Bernoulli(p) transmission per exploded out-edge event inside the node's
 * active window [infected+incubation, +recovery). Its outcome depends on
 * the rng stream consumed in pop order — irreproducible across runs and
 * unparallelizable.
 *
 * This version derives every random quantity from a COUNTER-BASED hash of
 * the seed and the entity it concerns — incubation/recovery per node via
 * inverse-CDF Exp sampling of a hash-uniform, transmission per temporal
 * edge event via a hash-Bernoulli — so the whole process is a pure
 * function of (graph, seed). The simulation then collapses to a monotone
 * label-correcting fixpoint, the same shape as temporal reachability:
 *
 *   infected(v) = min( t₀ if v is a seed,
 *                      min over edge events (u→v, t) with
 *                        active(u) ≤ t < recovered(u) and transmit-draw
 *                        success : t )
 *
 * where active(u) = infected(u) + incubation(u), recovered(u) =
 * active(u) + recovery(u). Infection times only ever decrease, so the
 * superstep relaxation (one edges⋈states join + one min-aggregate per
 * round) converges; distribution semantics match the reference (the exact
 * draw streams differ — outcomes are only comparable within one
 * implementation, same caveat as FastRP).
 *
 * Divergence note: the reference's `IntoSeeds for Probability` seeds EVERY
 * node regardless of p (epidemics.rs:101-110 ignores the rng — an upstream
 * quirk); [[seedFraction]] implements the documented intent (each node
 * seeded independently with probability p).
 */
object Epidemics {

  final case class Config(
      infectionProb: Double,
      initialInfection: Long,
      recoveryRate: Option[Double] = None,
      incubationRate: Option[Double] = None,
      seed: Long = 42L,
      maxIter: Int = 50,
      checkpointDir: Option[String] = None)

  /** Hash-uniform in (0, 1): (h + 0.5) / 2^20 of a 20-bit bucket. */
  private def hashUniform(cols: Column*): Column =
    (pmod(xxhash64(cols: _*), lit(1L << 20)).cast("double") + 0.5) / lit((1L << 20).toDouble)

  /** Exp(rate) sample truncated to whole time units (the reference casts
    * `dist.sample(rng) as i64`). */
  private def expSample(rate: Double, cols: Column*): Column =
    floor(-log(lit(1.0) - hashUniform(cols: _*)) / lit(rate)).cast("long")

  /** Seed helpers mirroring `IntoSeeds`. */
  def seedNumber(g: TemporalGraph, n: Int, seed: Long): DataFrame =
    g.nodes
      .orderBy(xxhash64(lit(seed), lit("seed-pick"), col("id")), col("id"))
      .limit(n)
      .select("id")

  def seedFraction(g: TemporalGraph, p: Double, seed: Long): DataFrame =
    g.nodes
      .filter(hashUniform(lit(seed), lit("seed-frac"), col("id")) < p)
      .select("id")

  /**
   * @param seeds DataFrame with an `id` column — the initially infected.
   * @return (id, infected, active, recovered) for every node the outbreak
   *         reached (matching the reference's map over infected nodes;
   *         `recovered` is Long.MaxValue under SI / no recovery), pinned
   *         once; the caller frees it with [[Pin.release]].
   */
  def run(spark: SparkSession, g: TemporalGraph, seeds: DataFrame, cfg: Config): DataFrame = Pin.scope { pins =>
    require(cfg.infectionProb >= 0.0 && cfg.infectionProb <= 1.0)
    // per-node deterministic draws
    val incub = cfg.incubationRate
      .map(r => expSample(r, lit(cfg.seed), lit("incub"), col("id")))
      .getOrElse(lit(1L))
    val recov = cfg.recoveryRate
      .map(r => expSample(r, lit(cfg.seed), lit("recov"), col("id")))
      .getOrElse(lit(null).cast("long")) // null = never recovers
    val draws = pins.persist(g.nodes.select(col("id"), incub.as("incub"), recov.as("recov")))

    // transmissible temporal edge events: the per-event Bernoulli draw is a
    // pure column filter — events that fail the draw never enter any join
    val transmissible = pins.persist(g.edges
      .filter(col("src") =!= col("dst"))
      .filter(
        pmod(
          xxhash64(lit(cfg.seed), lit("transmit"), col("src"), col("dst"), col("ts"), col("event_id")),
          lit(1L << 20)).cast("double") < lit(cfg.infectionProb * (1L << 20)))
      .select(col("src"), col("dst"), col("ts")))

    val init = g.nodes
      .join(seeds.select(col("id")).distinct().withColumn("s", lit(true)), Seq("id"), "left")
      .select(
        col("id"),
        when(col("s"), lit(cfg.initialInfection)).otherwise(lit(null).cast("long"))
          .as("infected"))

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(
        maxSteps = cfg.maxIter,
        checkpointDir = cfg.checkpointDir,
        runId = "seir")) { (state, _) =>
      val active = state
        .filter(col("infected").isNotNull)
        .join(draws, Seq("id"))
        .select(
          col("id").as("src"),
          (col("infected") + col("incub")).as("start_t"),
          when(col("recov").isNull, lit(Long.MaxValue))
            .otherwise(col("infected") + col("incub") + col("recov")).as("end_t"))
      val candidates = transmissible
        .join(active, Seq("src"))
        .filter(col("ts") >= col("start_t") && col("ts") < col("end_t"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("ts")).as("cand"))
      val next = state
        .join(candidates, Seq("id"), "left")
        .select(
          col("id"),
          least(col("infected"), col("cand")).as("infected"),
          (coalesce(col("cand"), lit(Long.MaxValue)) <
            coalesce(col("infected"), lit(Long.MaxValue))).as("changed"))
      Step(next.select("id", "infected", "changed"), NoRows(col("changed"), "changes"))
    }

    val out = pins.own(result.state)
      .filter(col("infected").isNotNull)
      .join(draws, Seq("id"))
      .select(
        col("id"),
        col("infected"),
        (col("infected") + col("incub")).as("active"),
        when(col("recov").isNull, lit(Long.MaxValue))
          .otherwise(col("infected") + col("incub") + col("recov")).as("recovered"))
    pins.keep(pins.pin(out))
  }
}
