package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{NoRows, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Path / reachability algorithms as frontier-join iterations.
 */
object Paths {

  /**
   * Unweighted single-source shortest paths (BFS levels) with cutoff —
   * reference `single_source_shortest_path`
   * (raphtory/src/algorithms/pathing/single_source_shortest_path.rs:62),
   * which walks out-edges breadth-first and records first-visit paths.
   *
   * @return (id, dist, path) — `path` is one first-visit path as an array of
   *         node ids (lexicographically-smallest parent wins ties, making
   *         the result deterministic where the reference's is
   *         iteration-order dependent).
   */
  def sssp(spark: SparkSession, g: TemporalGraph, source: Long, cutoff: Int): DataFrame = Pin.scope { pins =>
    val edges = pins.persist(g.simpleEdges)
    val init = spark
      .range(1)
      .select(lit(source).as("id"), lit(0).as("dist"), array(lit(source)).as("path"))

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(maxSteps = cutoff, runId = "sssp")) { (state, step) =>
      val frontier = state.filter(col("dist") === step - 1)
      val expanded = frontier
        .join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id"), lit(step).as("dist"), concat(col("path"), array(col("dst"))).as("path"))
      // keep first (smallest-dist) visit; deterministic tie-break on path
      val newNodes = expanded
        .join(state.select(col("id")), Seq("id"), "left_anti")
        .groupBy("id")
        .agg(min("dist").as("dist"), min("path").as("path"))
      // the anti-join adds only unvisited nodes: none at this step ⇒ done
      Step(state.unionByName(newNodes), NoRows(col("dist") === step, "reached"))
    }
    result.state.select("id", "dist", "path")
  }

  /**
   * Weighted single-source shortest paths with full reference-Dijkstra
   * parity (algorithms/pathing/dijkstra.rs:97:
   * `dijkstra_single_source_shortest_paths(g, source, targets, weight,
   * direction)`), expressed as bulk Bellman–Ford relaxation — the
   * distributed counterpart of the sequential heap walk:
   * dist'(v) = min(dist(v), min over incident edges (dist(u) + w(u,v))),
   * iterated to fixpoint or cap.
   *
   *  - `weightCol = None` ⇒ every logical edge has weight 1 (the
   *    reference's default); otherwise multi-edges take the minimum
   *    weight per (src, dst) pair;
   *  - `direction` ∈ out | in | both (reference defaults to both);
   *  - `targets = Some(...)` restricts the result rows (the reference
   *    returns paths only for the requested targets);
   *  - `path` is a first-visit shortest path; ties broken by the
   *    lexicographically-smallest (dist, path) struct — deterministic
   *    where the reference's heap order is not.
   *
   * @return (id, dist, path) for reached nodes (targets if given),
   *         pinned once; the caller frees it with [[Pin.release]].
   */
  def dijkstra(
      spark: SparkSession,
      g: TemporalGraph,
      source: Long,
      targets: Option[Seq[Long]] = None,
      weightCol: Option[String] = None,
      direction: String = "both",
      maxIter: Int = 200): DataFrame = Pin.scope { pins =>
    val weighted = weightCol match {
      case Some(c) =>
        g.edges
          .select(col("src"), col("dst"), col(c).cast("double").as("w"))
          .groupBy("src", "dst")
          .agg(min("w").as("w"))
      case None => g.simpleEdges.select(col("src"), col("dst"), lit(1.0).as("w"))
    }
    val w = pins.persist(direction match {
      case "out" => weighted
      case "in"  => weighted.select(col("dst").as("src"), col("src").as("dst"), col("w"))
      case "both" =>
        weighted
          .unionByName(weighted.select(col("dst").as("src"), col("src").as("dst"), col("w")))
          .groupBy("src", "dst")
          .agg(min("w").as("w"))
      case other => throw new IllegalArgumentException(s"direction=$other")
    })

    val init = g.nodes.select(
      col("id"),
      when(col("id") === source, lit(0.0)).otherwise(lit(Double.PositiveInfinity)).as("dist"),
      when(col("id") === source, array(lit(source))).otherwise(lit(null)).as("path"))

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(maxSteps = maxIter, runId = "dijkstra")) { (state, _) =>
      val relax = w
        .join(state.select(col("id"), col("dist"), col("path")), w("src") === col("id"))
        .filter(col("dist") =!= Double.PositiveInfinity)
        .select(
          w("dst").as("id"),
          struct(
            (col("dist") + col("w")).as("dist"),
            concat(col("path"), array(w("dst"))).as("path")).as("cand"))
        .groupBy("id")
        .agg(min("cand").as("cand")) // lexicographic (dist, path) min
      val next = state
        .join(relax, Seq("id"), "left")
        .select(
          col("id"),
          when(col("cand").isNotNull && col("cand.dist") < col("dist"), col("cand.dist"))
            .otherwise(col("dist")).as("dist"),
          when(col("cand").isNotNull && col("cand.dist") < col("dist"), col("cand.path"))
            .otherwise(col("path")).as("path"),
          (col("cand").isNotNull && col("cand.dist") < col("dist")).as("changed"))
      Step(next.select("id", "dist", "path", "changed"), NoRows(col("changed"), "relaxed"))
    }
    val reached = pins.own(result.state)
      .filter(col("dist") =!= Double.PositiveInfinity)
      .select("id", "dist", "path")
    pins.keep(pins.pin(targets match {
      case Some(ts) => reached.filter(col("id").isin(ts: _*))
      case None     => reached
    }))
  }

  /** Distances-only wrapper over [[dijkstra]] with out-direction weights —
    * kept for the original weightedSssp call shape. */
  def weightedSssp(
      spark: SparkSession,
      g: TemporalGraph,
      source: Long,
      weightCol: String,
      maxIter: Int = 50): DataFrame =
    dijkstra(spark, g, source, None, Some(weightCol), "out", maxIter)
      .select("id", "dist")

  /**
   * Temporally-respecting reachability from seed nodes: taint spreads along
   * an edge event (u→v, t) iff u is tainted with taint time ≤ t; v's taint
   * time becomes the earliest such event time (reference
   * algorithms/pathing/temporal_reachability.rs:78, earliest-taint BFS).
   *
   * @param seeds (node id, start time millis)
   * @return (id, taint_ts) — earliest time each reachable node is tainted.
   */
  def temporalReachability(
      spark: SparkSession,
      g: TemporalGraph,
      seeds: Seq[(Long, Long)],
      maxIter: Int = 100): DataFrame = Pin.scope { pins =>
    import spark.implicits._
    val events = pins.persist(g.edges.select(col("src"), col("dst"), col("ts")))
    val init = seeds.toDF("id", "taint_ts")

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(maxSteps = maxIter, runId = "temporal-reach")) { (state, _) =>
      val spread = events
        .join(state, events("src") === state("id") && events("ts") >= state("taint_ts"))
        .groupBy(events("dst").as("id"))
        .agg(min(events("ts")).as("spread_ts"))
      val merged = state
        .join(spread, Seq("id"), "full")
        .select(
          col("id"),
          least(coalesce(col("taint_ts"), col("spread_ts")), coalesce(col("spread_ts"), col("taint_ts")))
            .as("taint_ts"),
          (col("taint_ts").isNull ||
            (col("spread_ts").isNotNull && col("spread_ts") < col("taint_ts"))).as("changed"))
      Step(merged.select("id", "taint_ts", "changed"), NoRows(col("changed"), "changed"))
    }
    result.state.select("id", "taint_ts")
  }
}
