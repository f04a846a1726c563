package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Never, NoRows, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Betweenness centrality — Brandes' algorithm expressed as batched
 * multi-source BFS joins (the reference runs sequential per-source Brandes,
 * raphtory/src/algorithms/centrality/betweenness.rs:29-119; semantics
 * matched exactly: directed out-edges, distinct neighbours, optional
 * first-k source sample in id order, normalization 1/((n−1)(n−2))).
 *
 * ALL sources run simultaneously: state is keyed by (source, node), so the
 * forward phase is one frontier join per BFS level for every source at
 * once, and the backward (dependency-accumulation) phase is one join per
 * level descending, each phase one [[SuperstepRunner]] run. Cost is O(k·V)
 * state and O(diameter) supersteps — exact betweenness is inherently
 * quadratic; use `k` to sample sources at scale (the reference offers the
 * same escape hatch).
 * The result is pinned: the caller owns it (free with `Pin.release`).
 */
object Betweenness {

  def run(
      spark: SparkSession,
      g: TemporalGraph,
      k: Option[Int] = None,
      normalized: Boolean = false): DataFrame = Pin.scope { pins =>
    val edges = pins.persist(g.simpleEdges)
    val nodes = pins.persist(g.nodes)
    val n = nodes.count()

    val sources = k.fold(nodes)(kk => nodes.orderBy("id").limit(kk)).select(col("id").as("s"))

    // ---- forward phase: per-(source, node) BFS distance + path counts ----
    // state: (s, v, dist, sigma); superstep k expands the level k − 1
    // frontier and converges on the first empty level. BFS depth is below
    // n, so n supersteps always reach it.
    val fwd = SuperstepRunner.run(
      spark,
      sources.select(col("s"), col("s").as("v"), lit(0).as("dist"), lit(1.0).as("sigma")),
      RunConfig(maxSteps = n.toInt, runId = "betweenness-forward")) { (state, step) =>
      val expanded = state
        .filter(col("dist") === step - 1)
        .join(edges, col("v") === edges("src"))
        .groupBy(col("s"), col("dst").as("v"))
        .agg(sum("sigma").as("sig"))
      val newly = expanded
        .join(state.select(col("s"), col("v")), Seq("s", "v"), "left_anti")
        .select(col("s"), col("v"), lit(step).as("dist"), col("sig").as("sigma"))
      Step(state.unionByName(newly), NoRows(col("dist") === step, "reached"))
    }
    val state = pins.own(fwd.state)
    val maxLevel = fwd.steps - 1

    // ---- backward phase: dependency accumulation by descending level ----
    // state: (s, v, delta). Superstep k pushes level l = maxLevel − k + 1
    // onto level l − 1; a level's delta is final before it is read. Level
    // 0 (the sources) adds nothing to betweenness, so its update is skipped.
    val dependency = pins.own(SuperstepRunner.run(
      spark,
      state.select(col("s"), col("v"), lit(0.0).as("delta")),
      RunConfig(maxSteps = maxLevel - 1, runId = "betweenness-backward")) { (delta, step) =>
      val l = maxLevel - step + 1
      val w = state
        .filter(col("dist") === l)
        .join(delta, Seq("s", "v"))
        .select(col("s"), col("v").as("w"), col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      // predecessors: v --edge--> w with dist(v) = l − 1
      val contrib = w
        .join(edges, w("w") === edges("dst"))
        .select(col("s"), col("src").as("v"), col("sigma_w"), col("delta_w"))
        .join(
          state.filter(col("dist") === l - 1).select(col("s"), col("v"), col("sigma")),
          Seq("s", "v"))
        .groupBy(col("s"), col("v"))
        .agg(sum(col("sigma") / col("sigma_w") * (lit(1.0) + col("delta_w"))).as("dinc"))
      Step(
        delta
          .join(contrib, Seq("s", "v"), "left")
          .select(col("s"), col("v"), (col("delta") + coalesce(col("dinc"), lit(0.0))).as("delta")),
        Never)
    }.state)

    // bc(v) = Σ_s delta(s, v) over dist ≥ 1, i.e. v ≠ s
    val summed = dependency
      .filter(col("v") =!= col("s"))
      .groupBy(col("v").as("id"))
      .agg(sum("delta").as("bc"))
    Pin.pin(
      nodes
        .join(summed, Seq("id"), "left")
        .select(
          col("id"),
          (coalesce(col("bc"), lit(0.0)) *
            lit(if (normalized && n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0))
            .as("betweenness")))
  }
}
