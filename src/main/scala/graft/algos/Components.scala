package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{NoRows, RunConfig, Stable, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Reachability-based component operators complementing
 * [[ConnectedComponents]] (the WCC): per-seed in/out components and the
 * largest-connected-component view.
 */
object Components {

  /** Nodes reachable FROM the seed along out-edges, with BFS distance —
    * reference out_component (algorithms/components/out_components.rs:165). */
  def outComponent(spark: SparkSession, g: TemporalGraph, seed: Long, maxIter: Int = 100): DataFrame =
    bfs(spark, g.simpleEdges, seed, maxIter)

  /** Nodes that can REACH the seed along out-edges (= BFS on reversed
    * edges) — reference in_component (components/in_components.rs:168). */
  def inComponent(spark: SparkSession, g: TemporalGraph, seed: Long, maxIter: Int = 100): DataFrame =
    bfs(spark, g.simpleEdges.select(col("dst").as("src"), col("src").as("dst")), seed, maxIter)

  private def bfs(
      spark: SparkSession,
      edges: DataFrame,
      seed: Long,
      maxIter: Int): DataFrame = Pin.scope { pins =>
    val e = pins.persist(edges)
    val init = spark.range(1).select(lit(seed).as("id"), lit(0).as("dist"))
    val result = SuperstepRunner.run(spark, init, RunConfig(maxSteps = maxIter, runId = "bfs")) {
      (state, step) =>
        val frontier = state.filter(col("dist") === step - 1)
        val nxt = frontier
          .join(e, frontier("id") === e("src"))
          .select(col("dst").as("id"), lit(step).as("dist"))
          .join(state.select("id"), Seq("id"), "left_anti")
          .distinct()
        // the anti-join adds only unvisited nodes: none at this step ⇒ done
        Step(state.unionByName(nxt), NoRows(col("dist") === step, "reached"))
    }
    result.state
  }

  /**
   * Whole-graph in-components: for EVERY node, the set of nodes that can
   * reach it — reference in_components (components/in_components.rs:68,
   * which runs a BFS per node; total output is the transitive closure in
   * both implementations). Returns (id, members: sorted array, size).
   * Direction "out" gives out_components (out_components.rs:65).
   *
   * Scale note: the closure is Θ(Σ|component|²) rows — inherent to the
   * operator (the reference materializes the same per-node lists); run it
   * on bounded views. The fixpoint composes the closure with itself, so
   * reachable path length doubles per superstep: O(log diameter) rounds.
   */
  def allComponents(
      spark: SparkSession,
      g: TemporalGraph,
      direction: String = "in",
      maxIter: Int = 10000): DataFrame = Pin.scope { pins =>
    val base = g.simpleEdges.filter(col("src") =!= col("dst"))
    // pair (id, m) = "m is in the <direction>-component of id"
    val e = pins.persist(direction match {
      case "in"  => base.select(col("dst").as("id"), col("src").as("m"))
      case "out" => base.select(col("src").as("id"), col("dst").as("m"))
      case other => throw new IllegalArgumentException(s"direction=$other")
    })
    e.count()

    val closure = SuperstepRunner.run(
      spark,
      e,
      RunConfig(maxSteps = maxIter, runId = s"allcomp-$direction")) { (state, _) =>
      // square the relation: (id ← m) ∘ (m ← m2) ⇒ (id ← m2)
      val ext = state
        .join(state.select(col("id").as("m"), col("m").as("m2")), Seq("m"))
        .select(col("id"), col("m2").as("m"))
      Step(state.unionByName(ext).distinct(), Stable("pairs", Seq(count(lit(1)))))
    }.state

    g.nodes
      .join(closure, Seq("id"), "left")
      .groupBy("id")
      .agg(
        sort_array(collect_list(col("m"))).as("members"),
        count(col("m")).as("size"))
  }

  /** Largest weakly connected component as an induced subgraph view —
    * reference LargestConnectedComponent (components/lcc.rs:29). */
  def largestConnectedComponent(spark: SparkSession, g: TemporalGraph): TemporalGraph = {
    val labels = ConnectedComponents.run(spark, g)
    val top = labels
      .groupBy("label")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("label"))
      .limit(1)
      .select("label")
    val members = labels.join(top, Seq("label"), "left_semi").select("id")
    g.subgraph(members)
  }

  /** Component size histogram `(label, size)` — handy result op over WCC. */
  def componentSizes(spark: SparkSession, g: TemporalGraph): DataFrame =
    ConnectedComponents
      .run(spark, g)
      .groupBy("label")
      .agg(count(lit(1)).as("size"))
}
