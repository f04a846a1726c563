package graft.algos

import graft.bsp.Pin
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
 * level descending. Cost is O(k·V) state and O(diameter) supersteps —
 * exact betweenness is inherently quadratic; use `k` to sample sources at
 * scale (the reference offers the same escape hatch).
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

    val sources = k match {
      case Some(kk) => nodes.orderBy("id").limit(kk).select(col("id").as("s"))
      case None => nodes.select(col("id").as("s"))
    }

    // ---- forward phase: per-(source, node) BFS distance + path counts ----
    // state: (s, v, dist, sigma)
    var state = pins.pin(
      sources.select(col("s"), col("s").as("v"), lit(0).as("dist"), lit(1.0).as("sigma")))
    var level = 0
    var frontierCount = state.count()
    var maxLevel = 0
    while (frontierCount > 0) {
      val frontier = state.filter(col("dist") === level)
      val expanded = frontier
        .join(edges, frontier("v") === edges("src"))
        .groupBy(col("s"), col("dst").as("v"))
        .agg(sum("sigma").as("sig"))
      val newly = expanded
        .join(state.select(col("s"), col("v")), Seq("s", "v"), "left_anti")
        .select(col("s"), col("v"), lit(level + 1).as("dist"), col("sig").as("sigma"))
      state = pins.replace(state, Pin.pin(state.unionByName(newly)))
      frontierCount = state.filter(col("dist") === level + 1).count()
      if (frontierCount > 0) maxLevel = level + 1
      level += 1
    }

    // ---- backward phase: dependency accumulation by descending level ----
    // delta: (s, v, delta); betweenness accumulates level by level.
    var delta = pins.pin(state.select(col("s"), col("v"), lit(0.0).as("delta")))
    var acc = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bc", org.apache.spark.sql.types.DoubleType))))

    for (l <- maxLevel to 1 by -1) {
      val w = state
        .filter(col("dist") === l)
        .join(delta, Seq("s", "v"))
        .select(col("s"), col("v").as("w"), col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      // betweenness contribution of the popped level (w != s always here,
      // since dist >= 1)
      acc = pins.replace(acc, Pin.pin(acc.unionByName(
        w.groupBy(col("w").as("id")).agg(sum("delta_w").as("bc")))))
      // predecessors: v --edge--> w with dist(v) = l − 1
      val contrib = w
        .join(edges, w("w") === edges("dst"))
        .select(col("s"), col("src").as("v"), col("sigma_w"), col("delta_w"))
        .join(
          state.filter(col("dist") === l - 1).select(col("s"), col("v"), col("sigma")),
          Seq("s", "v"))
        .groupBy(col("s"), col("v"))
        .agg(sum(col("sigma") / col("sigma_w") * (lit(1.0) + col("delta_w"))).as("dinc"))
      delta = pins.replace(delta, Pin.pin(
        delta
          .join(contrib, Seq("s", "v"), "left")
          .select(col("s"), col("v"), (col("delta") + coalesce(col("dinc"), lit(0.0))).as("delta"))))
    }

    val summed = acc.groupBy("id").agg(sum("bc").as("bc"))
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
