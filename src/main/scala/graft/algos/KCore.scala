package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{RunConfig, Stable, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Iterative k-core peeling on distinct-BOTH-neighbour degree, matching the
 * reference (raphtory/src/algorithms/cores/k_core.rs:41-95): a node is in
 * the k-core iff at least k of its distinct undirected neighbours are in
 * the k-core; initial set = nodes with degree ≥ k; peel until fixpoint.
 *
 * State per superstep is the alive-node set; each round is one
 * semi-join + groupBy over the (persisted) neighbour-pair table.
 */
object KCore {

  final case class Config(
      k: Int,
      maxIter: Int = 1000,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10)

  /** Node ids in the k-core: one `id` column. */
  def coreSet(spark: SparkSession, g: TemporalGraph, cfg: Config): DataFrame = Pin.scope { pins =>
    val pairs = pins.persist(g.undirectedPairs)

    val init = pairs
      .groupBy(col("node").as("id"))
      .agg(count(lit(1)).as("d"))
      .filter(col("d") >= cfg.k)
      .select("id")

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(cfg.maxIter, cfg.checkpointDir, cfg.checkpointEvery, runId = s"kcore-${cfg.k}")) {
      (alive, _) =>
        // alive neighbours count, restricted to currently-alive centers
        val next = pairs
          .join(alive.select(col("id").as("node")), Seq("node"), "left_semi")
          .join(alive.select(col("id").as("nbr")), Seq("nbr"), "left_semi")
          .groupBy(col("node").as("id"))
          .agg(count(lit(1)).as("alive_nbrs"))
          .filter(col("alive_nbrs") >= cfg.k)
          .select("id")
        // an empty core stops at once: it is its own fixpoint
        Step(next, Stable("alive", Seq(count(lit(1))), orZero = true))
    }
    result.state.select("id")
  }

  /** k-core as an induced subgraph view (reference k_core, :95). */
  def coreSubgraph(spark: SparkSession, g: TemporalGraph, cfg: Config): TemporalGraph =
    g.subgraph(coreSet(spark, g, cfg))

  /**
   * FULL core decomposition — every node's core number in one run — via
   * the h-index fixpoint (Lü et al. 2016 "The H-index of a network node
   * and its relation to degree and coreness"; the distributed form of
   * Montresor et al. 2011): `c_0(v) = deg(v)`,
   * `c_{t+1}(v) = min(c_t(v), H{c_t(u) : u ∈ N(v)})` with H the h-index
   * (largest h with ≥ h neighbours of value ≥ h). The sequence is
   * monotone non-increasing and its fixpoint is exactly coreness(v), so
   * node ∈ k-core ⟺ coreness(v) ≥ k for EVERY k at once — [[coreSet]]
   * answers one k per peel, this answers all of them.
   *
   * Scale shape: per superstep ONE join of the persisted undirected-pair
   * table to the (id, c) state plus a window PARTITIONED BY the node
   * (the h-index rank runs inside each node's own neighbour list — the
   * shuffle key is the node id, the same exchange every iterative
   * algorithm here pays; no global sort, no collect). Convergence: the
   * state sum is strictly decreasing until fixpoint, so `sum(c)`
   * unchanged ⟺ done.
   *
   * @return (id, coreness)
   */
  def coreness(
      spark: SparkSession,
      g: TemporalGraph,
      maxIter: Int = 100,
      checkpointDir: Option[String] = None): DataFrame = Pin.scope { pins =>
    // persisted hash-partitioned on the per-step join key (`nbr`): the
    // h-index join then reuses the layout every superstep instead of
    // re-exchanging the full pair frame (the r5 shape paid that exchange
    // per step; only the narrow state frame should move)
    val pairs = pins.persist(g.undirectedPairs.repartition(col("nbr")))
    val init = pairs
      .groupBy(col("node").as("id"))
      .agg(count(lit(1)).as("c"))
    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(maxIter, checkpointDir, 10, runId = "coreness")) { (state, _) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node")
        .orderBy(col("cn").desc, col("nbr"))
      val h = pairs
        .join(state.select(col("id").as("nbr"), col("c").as("cn")), Seq("nbr"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .groupBy(col("node").as("id"))
        .agg(max(least(col("cn"), col("rn"))).as("h"))
      val next = state
        .join(h, Seq("id"), "left")
        .select(col("id"), least(col("c"), coalesce(col("h"), lit(0L))).as("c"))
      Step(next, Stable("sum_c", Seq(coalesce(sum("c"), lit(0L)))))
    }
    result.state.select(col("id"), col("c").as("coreness"))
  }
}
