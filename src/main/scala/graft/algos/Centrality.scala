package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Check, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Spectral centralities the reference's centrality module stops short of
 * (raphtory/src/algorithms/centrality/mod.rs ships betweenness, degree,
 * HITS, PageRank): eigenvector centrality (Bonacich 1987) and Katz
 * centrality (Katz 1953) — the two classic power-iteration scores a
 * link-graph analytics user reaches for next. Both run as fixed-point
 * Dataset jobs over the SAME persisted hub-salted CSR the PageRank/HITS
 * supersteps use, so the scale shape is identical: per superstep the only
 * wide exchange is the message partial-aggregation, hub in-degree skew is
 * absorbed map-side, and the CSR never re-shuffles.
 *
 * Determinism/replayability contract (the DuckDB oracle replays pinned
 * iteration counts):
 *  - eigenvector normalizes by the GLOBAL MAX of the received sums
 *    (L∞ / sup-norm power iteration) — `max` is order-independent, so the
 *    normalizer is bit-stable under any aggregation order; the per-node
 *    message sums are float groupBy sums like PageRank's, absorbed by the
 *    6-dp oracle rounding;
 *  - Katz applies no per-step normalization at all (x ← β + α·Aᵀx); with
 *    α below 1/λ_max the series converges absolutely.
 */
object Centrality {

  final case class Config(
      maxIter: Int = 20,
      tol: Double = 1e-6,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      maxShard: Int = graft.graph.TemporalGraph.DefaultMaxShard)

  /**
   * Eigenvector centrality by sup-norm power iteration on Aᵀ
   * (recv(v) = Σ_{u→v} x(u) over distinct in-neighbours, then
   * x ← recv / max(recv)). Scores land in [0, 1] with the principal
   * eigenvector's direction; nodes outside every cycle's basin (e.g.
   * pure sources on a DAG) decay to 0, the standard directed-graph
   * behaviour. `tol = 0` forces `maxIter` supersteps (oracle mode);
   * otherwise stops when the L∞ score delta ≤ tol.
   *
   * @return (id, score)
   */
  def eigenvector(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): DataFrame =
    Pin.scope { pins =>
      eigenvectorOnAdjacency(spark, pins.persist(g.adjacencyOut(cfg.maxShard)), g.nodes, cfg)
    }

  /** As [[eigenvector]] over a prebuilt (ideally persisted) salted CSR.
    *
    * The state carries the RAW received sums; the sup-norm division is
    * applied LAZILY — at the start of the NEXT superstep (and once on the
    * final state) — so the normalizer is a one-row broadcast aggregate
    * over the already-CACHED state instead of over the uncached message
    * join. The r5 shape aggregated `max(recv)` over the join output inside
    * the same plan, which executed the CSR join + message aggregation
    * twice per superstep (measured: 0.077 GB shuffled/step vs PageRank's
    * 0.043 on the same graph). Same float ops in the same order — score
    * values are bit-identical (max is order-independent; the division
    * happens once per node per iteration either way). The normalized
    * scores read the final state twice (row + max), so they are pinned
    * once; the caller owns that frame and frees it with [[Pin.release]]. */
  def eigenvectorOnAdjacency(
      spark: SparkSession,
      adj: DataFrame,
      nodes: DataFrame,
      cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    // raw = 1.0 with an implied sup-norm of 1.0 reproduces init score 1.0
    val init = nodes.select(col("id"), lit(1.0).as("recv"))
    def mxOver(state: DataFrame) =
      broadcast(state.agg(coalesce(max("recv"), lit(0.0)).as("mx")))
    val normed =
      col("recv") / when(col("mx") === 0.0, 1.0).otherwise(col("mx"))
    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(cfg.maxIter, cfg.checkpointDir, cfg.checkpointEvery, runId = "eigenvector")) {
      (state, _) =>
        // previous step's normalized scores, from the cached state
        val scores = state.crossJoin(mxOver(state)).select(col("id"), normed.as("score"))
        val recv = TemporalGraph.pushOut(adj, scores, col("score"))
        val next = state
          .crossJoin(mxOver(state))
          .select(col("id"), normed.as("prev"))
          .join(recv, Seq("id"), "left")
          .select(col("id"), coalesce(col("msum"), lit(0.0)).as("recv"), col("prev"))
        Step(
          next.select("id", "recv", "prev"),
          Check { m =>
            if (cfg.tol <= 0.0) (false, Map.empty)
            else {
              // both aggregates run over the cached materialized state
              val mxRow = m.agg(coalesce(max("recv"), lit(0.0))).first()
              val mx = mxRow.getDouble(0)
              val guard = if (mx == 0.0) 1.0 else mx
              val r = m.agg(max(abs(col("recv") / guard - col("prev")))).first()
              val d = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
              (d <= cfg.tol, Map("max_diff" -> d))
            }
          })
    }
    val state = pins.own(result.state)
    pins.keep(pins.pin(state.crossJoin(mxOver(state)).select(col("id"), normed.as("score"))))
  }

  /**
   * Katz centrality, fixed-iteration truncation of
   * x = Σ_{k≥1} αᵏ(Aᵀ)ᵏ·β1 + β1: per superstep x ← β + α·Σ_{u→v} x(u),
   * init x = β. With α < 1/λ_max this converges to the Katz score; the
   * pinned-iteration form is exactly replayable. No normalization —
   * callers wanting [0,1] can divide by the max afterwards.
   *
   * @return (id, score)
   */
  def katz(
      spark: SparkSession,
      g: TemporalGraph,
      alpha: Double = 0.1,
      beta: Double = 1.0,
      cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha out of (0, 1)")
    val adj = pins.persist(g.adjacencyOut(cfg.maxShard))
    val init = g.nodes.select(col("id"), lit(beta).as("score"))
    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(cfg.maxIter, cfg.checkpointDir, cfg.checkpointEvery, runId = "katz")) {
      (state, _) =>
        val recv = TemporalGraph.pushOut(adj, state.select(col("id"), col("score")), col("score"))
        val newScore = lit(beta) + lit(alpha) * coalesce(col("msum"), lit(0.0))
        val next = state
          .select(col("id"), col("score").as("prev"))
          .join(recv, Seq("id"), "left")
          .select(col("id"), newScore.as("score"), abs(newScore - col("prev")).as("diff"))
        Step(
          next.select("id", "score", "diff"),
          Check { m =>
            if (cfg.tol <= 0.0) (false, Map.empty)
            else {
              val r = m.agg(max("diff")).first()
              val d = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
              (d <= cfg.tol, Map("max_diff" -> d))
            }
          })
    }
    result.state.select("id", "score")
  }
}
