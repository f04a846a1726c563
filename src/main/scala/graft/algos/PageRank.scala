package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Check, RunConfig, Step}
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
  def runWithStats(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): (DataFrame, Int) =
    // Hub-salted CSR (north rule): a hub's neighbour list arrives as
    // multiple (src, salt) shard rows, each carrying the TOTAL out_deg, so
    // the explode in the message pass is per-shard (bounded rows) and needs no
    // merge. The shards stay hash-partitioned on src — the per-superstep
    // rank join reuses the persisted layout without re-shuffling the CSR.
    Pin.scope { pins =>
      runOnAdjacency(spark, pins.persist(g.adjacencyOut(cfg.maxShard)), g.nodes, cfg)
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
   * in PageRankSpec). The personalization column rides in the state, so
   * personalization adds ZERO exchanges.
   *
   * @param seeds one column `id`; duplicates ignored
   * @return (id, score) per node
   */
  def personalized(
      spark: SparkSession,
      g: TemporalGraph,
      seeds: DataFrame,
      cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    val adj = pins.persist(g.adjacencyOut(cfg.maxShard))
    iterate(spark, adj, g.nodes, "out_deg", "ppr", cfg, Some(seeds))(
      TemporalGraph.pushOut(_, _, col("score") / col("out_deg")))
      .state.select("id", "score")
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
   */
  def weighted(
      spark: SparkSession,
      g: TemporalGraph,
      weights: DataFrame,
      cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    val adj = pins.persist(g.adjacencyOutWeighted(weights, cfg.maxShard))
    iterate(spark, adj, g.nodes, "out_w", "wpagerank", cfg)(weightedMessages)
      .state.select("id", "score")
  }

  /** As [[runOnAdjacency]], returning the full [[SuperstepRunner.RunResult]]
    * — the per-superstep `wallMs` metrics let benches report a MEDIAN
    * superstep time, robust to mid-run tenancy bursts on a shared host
    * (a single burst poisons a total-wall metric; see BENCH.md). */
  def runFull(
      spark: SparkSession,
      adj: DataFrame,
      nodes: DataFrame,
      cfg: Config = Config()): SuperstepRunner.RunResult =
    iterate(spark, adj, nodes, "out_deg", "pagerank", cfg)(
      TemporalGraph.pushOut(_, _, col("score") / col("out_deg")))

  /** Weighted message pass over the struct-array CSR
    * `(src, salt, dsts: array<struct<dst, w>>, out_w)`: each entry ships
    * score·w/out_w to its dst; `(id, msum)`. */
  private[graft] def weightedMessages(adj: DataFrame, scores: DataFrame): DataFrame =
    adj
      .join(scores, adj("src") === col("id"))
      .select(explode(col("dsts")).as("m"), col("score"), col("out_w"))
      .select(col("m.dst").as("id"), (col("score") * col("m.w") / col("out_w")).as("wv"))
      .groupBy("id")
      .agg(sum("wv").as("msum"))

  /**
   * The one superstep loop behind every variant, so all of them have the
   * superstep plan described above and differ only in the message pass.
   * The state is `(id, <deg>, [p,] score, diff)`; sinks have `<deg>` = 0.
   *
   * Teleport and sink mass go to 1/n per node, or — with `seeds` — to the
   * seed distribution p carried in the state. Each variant keeps its own
   * float expression and CSR: deriving one from another (p = 1/n, or all
   * weights 1) would change the float ops, and so the scores, and would put
   * the struct-array CSR on the unweighted path.
   *
   * @param deg      the CSR's degree column: `out_deg`, or `out_w` (weighted)
   * @param messages the CSR kind's message pass: (adj, (id, score)) => (id, msum)
   */
  private def iterate(
      spark: SparkSession,
      adj: DataFrame,
      nodes: DataFrame,
      deg: String,
      runId: String,
      cfg: Config,
      seeds: Option[DataFrame] = None)(
      messages: (DataFrame, DataFrame) => DataFrame): SuperstepRunner.RunResult = {
    // dropDuplicates: hub shards repeat (src, <deg>)
    val base = nodes
      .join(adj.select(col("src").as("id"), col(deg)).dropDuplicates("id"), Seq("id"), "left")
      .select(col("id"), coalesce(col(deg), lit(0L)).as(deg))
    val n = base.count().toDouble
    val damp = cfg.damping
    val msum = coalesce(col("msum"), lit(0.0))
    val (init, newScore) = seeds match {
      case None =>
        (
          base.withColumn("score", lit(1.0 / n)),
          lit((1.0 - damp) / n) + lit(damp) * msum + lit(damp / n) * col("sink_mass"))
      case Some(s) =>
        val seedSet = s.select(col("id")).distinct()
        val sCount = seedSet.count().toDouble
        require(sCount > 0, "personalized: empty seed set")
        val p = when(col("__s").isNotNull, lit(1.0 / sCount)).otherwise(lit(0.0))
        (
          base
            .join(seedSet.withColumn("__s", lit(1)), Seq("id"), "left")
            .select(col("id"), col(deg), p.as("p"))
            .withColumn("score", col("p")),
          lit(1.0 - damp) * col("p") + lit(damp) * msum + lit(damp) * col("sink_mass") * col("p"))
    }
    val carried = (Seq("id", deg) ++ seeds.map(_ => "p")).map(col)

    SuperstepRunner.run(
      spark,
      init,
      RunConfig(
        maxSteps = cfg.maxIter,
        checkpointDir = cfg.checkpointDir,
        checkpointEvery = cfg.checkpointEvery,
        runId = runId)) { (state, _) =>
      // sink mass from the previous superstep's scores (pagerank.rs:107-127)
      val sinkAgg = broadcast(
        state
          .filter(col(deg) === 0)
          .agg(coalesce(sum("score"), lit(0.0)).as("sink_mass")))
      val next = state
        .join(messages(adj, state.select(col("id"), col("score"))), Seq("id"), "left")
        .crossJoin(sinkAgg)
        .select(carried :+ newScore.as("score") :+ abs(newScore - col("score")).as("diff"): _*)
      Step(
        next,
        Check { materialized =>
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
  }
}
