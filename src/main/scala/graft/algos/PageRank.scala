package graft.algos

import graft.bsp.SuperstepRunner
import graft.bsp.SuperstepRunner.{RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Unweighted PageRank with the reference's exact semantics
 * (raphtory/src/algorithms/centrality/pagerank.rs:55-179):
 *
 *  - n = |V| over the view; initial score 1/n (pagerank.rs:30);
 *  - out_degree = number of *distinct* out-neighbours (SURVEY §1.1);
 *  - per superstep: score' = (1−d)/n + d·Σ_{u ∈ distinct in-nbrs} score_u /
 *    outdeg_u  (pagerank.rs:88-105), then + sink mass
 *    d/n·Σ_{outdeg=0} score (computed from the *previous* superstep's scores
 *    and added to every node, pagerank.rs:107-127);
 *  - convergence: Σ|Δ| ≤ tol·n (L1) or √(ΣΔ²) ≤ tol·n (L2)
 *    (pagerank.rs:143-156), capped at maxIter supersteps.
 *
 * Spark plan per superstep — ONE plan, materialized by the runner's pin:
 * the CSR out-adjacency `(src, dsts, out_deg)` (one row per source,
 * persisted, hash-partitioned on src) joins the current rank state,
 * explodes, and partially aggregates map-side before the `groupBy(dst)`
 * shuffle (hub in-degree skew is absorbed by partial aggregation); the
 * sink mass is a one-row broadcast aggregate *inside the same plan* (no
 * driver round-trip); the diff column rides along in the state. With
 * tol = 0 (forced-iteration benches) no per-superstep driver action runs
 * beyond the state materialization; with tol > 0 one tiny aggregate over
 * the cached state checks convergence. That one plan still runs as
 * SEVERAL Spark jobs (AQE submits shuffle and broadcast stages as jobs of
 * their own, and the eager pin adds one): the benchmark's per-layer
 * `bsp.jobs_per_step` measures 6.6 per superstep on chain-iterate.
 */
object PageRank {

  final case class Config(
      maxIter: Int = 20,
      tol: Double = 1e-6,
      damping: Double = 0.85,
      useL2Norm: Boolean = true,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      maxShard: Int = graft.graph.TemporalGraph.DefaultMaxShard)

  /** @return (id, score) per node. */
  def run(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): DataFrame =
    runWithStats(spark, g, cfg)._1

  /** As [[run]], also returning the number of supersteps executed. */
  def runWithStats(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): (DataFrame, Int) = {
    // Hub-salted CSR (north rule): a hub's neighbour list arrives as
    // multiple (src, salt) shard rows, each carrying the TOTAL out_deg, so
    // the message explode below is per-shard (bounded rows) and needs no
    // merge. The shards stay hash-partitioned on src — the per-superstep
    // rank join reuses the persisted layout without re-shuffling the CSR.
    val adj = g.adjacencyOut(cfg.maxShard).persist()
    try runOnAdjacency(spark, adj, g.nodes, cfg)
    finally adj.unpersist(false)
  }

  /** PageRank over a PREBUILT (and ideally persisted) salted CSR adjacency
    * from [[graft.graph.TemporalGraph.adjacencyOut]]. In a deployment the
    * CSR is built once (or loaded from a [[graft.sources.GraphStore]]
    * snapshot) and reused across algorithm runs and restarts — callers that
    * iterate or benchmark should pass it in rather than pay the build per
    * run. */
  def runOnAdjacency(
      spark: SparkSession,
      adj: DataFrame,
      nodes: DataFrame,
      cfg: Config = Config()): (DataFrame, Int) = {
    val r = runFull(spark, adj, nodes, cfg)
    (r.state.select("id", "score"), r.steps)
  }

  /**
   * Personalized PageRank (Haveliwala 2002) — the seed-relative relevance
   * score GNN pipelines use for neighbourhood selection (PPRGo) and
   * recommenders use for candidate generation: teleport AND sink mass
   * redistribute to the seed distribution p (uniform over the seed set)
   * instead of uniformly, so score mass stays near the seeds:
   *
   *   score' = (1−d)·p + d·Σ msgs + d·sink_mass·p
   *
   * With seeds = all nodes this IS standard PageRank (p = 1/n — asserted
   * in PageRankSpec). Same superstep plan as [[runFull]]: one persisted
   * salted-CSR join per step, sink mass as an in-plan broadcast aggregate;
   * the personalization column rides in the state, so personalization adds
   * ZERO exchanges. Convergence uses the same Σ‖Δ‖ ≤ tol·n gate.
   *
   * @param seeds one column `id`; duplicates ignored
   * @return (id, score) per node
   */
  def personalized(
      spark: SparkSession,
      g: TemporalGraph,
      seeds: DataFrame,
      cfg: Config = Config()): DataFrame = {
    val adj = g.adjacencyOut(cfg.maxShard).persist()
    try {
      val base = g.nodes
        .join(
          adj.select(col("src").as("id"), col("out_deg")).dropDuplicates("id"),
          Seq("id"),
          "left")
        .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"))
      val seedSet = seeds.select(col("id")).distinct()
      val sCount = seedSet.count().toDouble
      require(sCount > 0, "personalized: empty seed set")
      val n = base.count().toDouble
      val damp = cfg.damping
      val init = base
        .join(seedSet.withColumn("__s", lit(1)), Seq("id"), "left")
        .select(
          col("id"), col("out_deg"),
          when(col("__s").isNotNull, lit(1.0 / sCount)).otherwise(lit(0.0)).as("p"))
        .withColumn("score", col("p"))

      val result = SuperstepRunner.run(
        spark,
        init,
        RunConfig(
          maxSteps = cfg.maxIter,
          checkpointDir = cfg.checkpointDir,
          checkpointEvery = cfg.checkpointEvery,
          runId = "ppr")) { (state, _) =>
        val sinkAgg = broadcast(
          state
            .filter(col("out_deg") === 0)
            .agg(coalesce(sum("score"), lit(0.0)).as("sink_mass")))
        val msgs = adj
          .join(state.select(col("id"), col("score")), adj("src") === col("id"))
          .select(explode(col("dsts")).as("id"), (col("score") / col("out_deg")).as("w"))
          .groupBy("id")
          .agg(sum("w").as("msum"))
        val newScore =
          lit(1.0 - damp) * col("p") +
            lit(damp) * coalesce(col("msum"), lit(0.0)) +
            lit(damp) * col("sink_mass") * col("p")
        val next = state
          .join(msgs, Seq("id"), "left")
          .crossJoin(sinkAgg)
          .select(
            col("id"), col("out_deg"), col("p"),
            newScore.as("score"),
            abs(newScore - col("score")).as("diff"))
        Step(
          next.select("id", "out_deg", "p", "score", "diff"),
          { materialized =>
            if (cfg.tol <= 0.0) (false, Map.empty)
            else {
              val row = materialized
                .agg(sum(if (cfg.useL2Norm) col("diff") * col("diff") else col("diff")).as("d"))
                .first()
              val d = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
              val normed = if (cfg.useL2Norm) math.sqrt(d) else d
              (normed <= cfg.tol * n, Map("diff" -> normed))
            }
          })
      }
      result.state.select("id", "score")
    } finally adj.unpersist(false)
  }

  /**
   * WEIGHTED PageRank: the transition out of u distributes score
   * proportionally to per-edge weights — score'(v) = (1−d)/n +
   * d·Σ_{u→v} score(u)·w(u,v)/out_w(u) + sink mass, where out_w(u) is
   * u's total outgoing weight. With all weights 1 this reduces EXACTLY
   * to the unweighted [[run]] (w/out_w = 1/out_deg, same float ops).
   *
   * `weights` is one row per distinct edge `(src, dst, w)` with w ≥ 1 —
   * a contract [[TemporalGraph.adjacencyOutWeighted]] ENFORCES rather than
   * trusts (duplicates collapse by summing; w < 1 fails the CSR build
   * loudly instead of seeding NaN/÷0 message terms). INTEGER
   * weights make the whole computation a deterministic function of exact
   * integers and the iteration count, so a DuckDB oracle replays it —
   * the natural transcript weighting (event multiplicity, or the
   * half-life recency decay in `q_graph_pagerank_weighted`, which
   * quantizes decay to powers of two for exactness).
   *
   * Same plan shape as [[runFull]]: hub-salted weighted CSR persisted
   * hash-partitioned once, one message exchange per superstep, sink mass
   * as an in-plan one-row broadcast.
   */
  def weighted(
      spark: SparkSession,
      g: TemporalGraph,
      weights: org.apache.spark.sql.DataFrame,
      cfg: Config = Config()): DataFrame = {
    val adj = g.adjacencyOutWeighted(weights, cfg.maxShard).persist()
    try {
      val init0 = g.nodes
        .join(
          adj.select(col("src").as("id"), col("out_w")).dropDuplicates("id"),
          Seq("id"),
          "left")
        .select(col("id"), coalesce(col("out_w"), lit(0L)).as("out_w"))
      val n = init0.count().toDouble
      val damp = cfg.damping
      val init = init0.withColumn("score", lit(1.0 / n))

      val result = SuperstepRunner.run(
        spark,
        init,
        RunConfig(cfg.maxIter, cfg.checkpointDir, cfg.checkpointEvery, runId = "wpagerank")) {
        (state, _) =>
          val sinkAgg = broadcast(
            state
              .filter(col("out_w") === 0)
              .agg(coalesce(sum("score"), lit(0.0)).as("sink_mass")))
          val msgs = adj
            .join(state.select(col("id"), col("score")), adj("src") === col("id"))
            .select(explode(col("dsts")).as("m"), col("score"), col("out_w"))
            .select(
              col("m.dst").as("id"),
              (col("score") * col("m.w") / col("out_w")).as("wv"))
            .groupBy("id")
            .agg(sum("wv").as("msum"))
          val newScore =
            lit((1.0 - damp) / n) + lit(damp) * coalesce(col("msum"), lit(0.0)) +
              lit(damp / n) * col("sink_mass")
          val next = state
            .join(msgs, Seq("id"), "left")
            .crossJoin(sinkAgg)
            .select(
              col("id"), col("out_w"),
              newScore.as("score"),
              abs(newScore - col("score")).as("diff"))
          Step(
            next.select("id", "out_w", "score", "diff"),
            { m =>
              if (cfg.tol <= 0.0) (false, Map.empty)
              else {
                val row = m
                  .agg(sum(if (cfg.useL2Norm) col("diff") * col("diff") else col("diff")).as("d"))
                  .first()
                val d = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
                val normed = if (cfg.useL2Norm) math.sqrt(d) else d
                (normed <= cfg.tol * n, Map("diff" -> normed))
              }
            })
      }
      result.state.select("id", "score")
    } finally adj.unpersist(false)
  }

  /** As [[runOnAdjacency]], returning the full [[SuperstepRunner.RunResult]]
    * — the per-superstep `wallMs` metrics let benches report a MEDIAN
    * superstep time, robust to mid-run tenancy bursts on a shared host
    * (a single burst poisons a total-wall metric; see BENCH.md). */
  def runFull(
      spark: SparkSession,
      adj: DataFrame,
      nodes: DataFrame,
      cfg: Config = Config()): SuperstepRunner.RunResult = {

    // state: (id, score, out_deg); sinks have out_deg = 0. dropDuplicates:
    // hub shards repeat (src, out_deg).
    val init = nodes
      .join(
        adj.select(col("src").as("id"), col("out_deg")).dropDuplicates("id"),
        Seq("id"),
        "left")
      .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"))
    val n = init.count().toDouble
    val damp = cfg.damping
    val teleport = (1.0 - damp) / n
    val init2 = init.withColumn("score", lit(1.0 / n))

    val result = SuperstepRunner.run(
      spark,
      init2,
      RunConfig(
        maxSteps = cfg.maxIter,
        checkpointDir = cfg.checkpointDir,
        checkpointEvery = cfg.checkpointEvery,
        runId = "pagerank")) { (state, _) =>
      // sink mass from the previous superstep's scores, as a broadcast
      // one-row aggregate inside the same plan (pagerank.rs:107-127)
      val sinkAgg = broadcast(
        state
          .filter(col("out_deg") === 0)
          .agg(coalesce(sum("score"), lit(0.0)).as("sink_mass")))

      val msgs = adj
        .join(state.select(col("id"), col("score")), adj("src") === col("id"))
        .select(explode(col("dsts")).as("id"), (col("score") / col("out_deg")).as("w"))
        .groupBy("id")
        .agg(sum("w").as("msum"))

      val newScore =
        lit(teleport) + lit(damp) * coalesce(col("msum"), lit(0.0)) +
          lit(damp / n) * col("sink_mass")

      val next = state
        .join(msgs, Seq("id"), "left")
        .crossJoin(sinkAgg)
        .select(
          col("id"),
          col("out_deg"),
          newScore.as("score"),
          abs(newScore - col("score")).as("diff"))

      Step(
        next.select("id", "out_deg", "score", "diff"),
        { materialized =>
          if (cfg.tol <= 0.0) (false, Map.empty)
          else {
            val row = materialized
              .agg(sum(if (cfg.useL2Norm) col("diff") * col("diff") else col("diff")).as("d"))
              .first()
            val d = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
            val normed = if (cfg.useL2Norm) math.sqrt(d) else d
            (normed <= cfg.tol * n, Map("diff" -> normed))
          }
        })
    }
    result
  }
}
