package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Never, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Force-directed graph layout — Fruchterman–Reingold
 * (layout/fruchterman_reingold.rs:18) and the cohesive variant
 * (layout/cohesive_fruchterman_reingold.rs:26), as iterative DataFrame
 * supersteps.
 *
 * Physics per iteration (reference `update_positions`):
 *  - repulsion on i from every other j: (scale²/d)·unit(j→i)
 *    (`compute_repulsion`);
 *  - attraction on i towards each distinct neighbour: (d²/scale)·unit(i→j)
 *    (`compute_attraction`);
 *  - v ← (v + f·dt)·cooloff; p ← p + v·dt.
 *
 * Divergences, both deliberate:
 *  - the reference seeds positions with an unseeded rng (`quad_rand`),
 *    making runs non-reproducible; init here is hash-derived from (seed,
 *    id) — same distribution, deterministic;
 *  - all-pairs repulsion is O(n²). `exact = true` keeps reference parity
 *    (a crossJoin — fine up to ~10⁴ nodes); the default scale path bins
 *    nodes into grid cells of `cellSize`: near-field (same + 8 adjacent
 *    cells) is exact, far-field uses per-cell centroid × count (a
 *    Barnes–Hut-style monopole with one broadcastable cell summary per
 *    iteration), so each superstep is one near-pair join + one broadcast
 *    map-side pass. Cost is O(n·C) for C occupied cells — ample for the
 *    visualization-scale graphs layout exists for (≤10⁶ points); a
 *    100 TB graph should be laid out on an aggregated view (e.g. one
 *    node per [[Louvain]] community) rather than per-entity.
 *
 * The cohesive variant computes WCC, and when the graph is disconnected
 * adds virtual attraction edges from the globally max-degree node to each
 * component's max-degree node (cohesive_fruchterman_reingold.rs:37-51).
 * Note the reference then (apparently unintentionally) laysout the
 * ORIGINAL graph, discarding the virtual edges; this implementation uses
 * them, which is the documented intent ("adds virtual edges between
 * isolated nodes").
 */
object Layout {

  final case class Config(
      iterations: Int = 50,
      scale: Double = 1.0,
      nodeStartSize: Double = 1.0,
      cooloff: Double = 0.975,
      dt: Double = 0.1,
      seed: Long = 42L,
      exact: Boolean = false,
      cellSize: Double = 0.0, // 0 → 2·scale
      checkpointDir: Option[String] = None,
      portable: Boolean = false)

  /** Hash-uniform double in [-half, half) derived from (seed, id, axis).
    * Portable form uses the polynomial LCG family (same as FastRP) so a
    * DuckDB oracle can replay the init draw bit-exactly — every
    * intermediate is integer arithmetic in [0, ~1e15], and the single
    * division by 1e6 is IEEE-exact in both engines. */
  private def hashUniform(id: Column, axis: Int, seed: Long, half: Double, portable: Boolean): Column = {
    val u =
      if (portable)
        expr(s"cast(pmod(pmod(id, 1000000007L) * 1000003L + $axis * 999983L " +
          s"+ ${seed}L * 31L + 12345L, 1000000007L) % 2000000L as double) / 1000000.0 - 1.0")
      else
        expr(s"cast(pmod(xxhash64(${seed}L, $axis, id), 2000000) as double) / 1000000.0 - 1.0")
    (u * half).as(s"c$axis")
  }

  /** @return (id, x, y) final positions. */
  def fruchtermanReingold(
      spark: SparkSession,
      g: TemporalGraph,
      cfg: Config = Config()): DataFrame =
    run(spark, g.nodes, neighboursOf(g), cfg)

  /** (id, nbr) distinct symmetric neighbour set. */
  private def neighboursOf(g: TemporalGraph): DataFrame =
    g.undirectedPairs.select(col("node").as("id"), col("nbr"))

  /** Cohesive FR: bridge components with virtual edges first. */
  def cohesiveFruchtermanReingold(
      spark: SparkSession,
      g: TemporalGraph,
      cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    val comps = pins.own(ConnectedComponents.run(spark, g)) // (id, label)
    val nComps = comps.select("label").distinct().count()
    val neighbours =
      if (nComps <= 1) neighboursOf(g)
      else {
        val deg = g.degrees.select(col("id"), col("deg"))
        val withComp = deg.join(comps, Seq("id"))
        // global bridge node: max degree, min id tie-break (deterministic;
        // the reference's max_item)
        val bridge = withComp
          .orderBy(col("deg").desc, col("id"))
          .limit(1)
          .select(col("id").as("bridge_id"))
        // per-component anchor: its max-degree node (min id tie-break)
        val anchors = withComp
          .groupBy("label")
          .agg(max(struct(col("deg").as("deg"), (-col("id")).as("negid"))).as("best"))
          .select((-col("best.negid")).as("anchor_id"))
        val virt = anchors
          .crossJoin(broadcast(bridge))
          .filter(col("anchor_id") =!= col("bridge_id"))
          .select(col("bridge_id").as("a"), col("anchor_id").as("b"))
        neighboursOf(g)
          .unionByName(virt.select(col("a").as("id"), col("b").as("nbr")))
          .unionByName(virt.select(col("b").as("id"), col("a").as("nbr")))
          .distinct()
      }
    run(spark, g.nodes, neighbours, cfg)
  }

  private def run(
      spark: SparkSession,
      nodes: DataFrame,
      neighbours: DataFrame, // (id, nbr) symmetric, distinct
      cfg: Config): DataFrame = Pin.scope { pins =>
    val half = cfg.nodeStartSize / 2.0
    val cell = if (cfg.cellSize > 0) cfg.cellSize else 2.0 * cfg.scale
    val init = nodes.select(
      col("id"),
      hashUniform(col("id"), 0, cfg.seed, half, cfg.portable).as("x"),
      hashUniform(col("id"), 1, cfg.seed, half, cfg.portable).as("y"),
      lit(0.0).as("vx"),
      lit(0.0).as("vy"))
    val nbr = pins.persist(neighbours)

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(
        maxSteps = cfg.iterations,
        checkpointDir = cfg.checkpointDir,
        runId = "fruchterman-reingold")) { (state, _) =>
      val rep = if (cfg.exact) exactRepulsion(state, cfg) else gridRepulsion(state, cfg, cell)
      // attraction: d²/scale towards each neighbour → vector form
      // (alt − pos)·d/scale, summed per node
      val att = state
        .select(col("id").as("nbr"), col("x").as("nx"), col("y").as("ny"))
        .join(nbr, Seq("nbr"))
        .join(state.select(col("id"), col("x"), col("y")), Seq("id"))
        .withColumn("d", hypot(col("nx") - col("x"), col("ny") - col("y")))
        .filter(col("d") > 0.0)
        .groupBy("id")
        .agg(
          sum((col("nx") - col("x")) * col("d") / cfg.scale).as("afx"),
          sum((col("ny") - col("y")) * col("d") / cfg.scale).as("afy"))
      val next = state
        .join(rep, Seq("id"), "left")
        .join(att, Seq("id"), "left")
        .select(
          col("id"),
          col("x"), col("y"),
          ((col("vx") + (coalesce(col("rfx"), lit(0.0)) + coalesce(col("afx"), lit(0.0))) * cfg.dt)
            * cfg.cooloff).as("vx"),
          ((col("vy") + (coalesce(col("rfy"), lit(0.0)) + coalesce(col("afy"), lit(0.0))) * cfg.dt)
            * cfg.cooloff).as("vy"))
        .select(
          col("id"),
          (col("x") + col("vx") * cfg.dt).as("x"),
          (col("y") + col("vy") * cfg.dt).as("y"),
          col("vx"), col("vy"))
      Step(next, Never)
    }
    result.state.select("id", "x", "y")
  }

  private def hypot(dx: Column, dy: Column): Column = sqrt(dx * dx + dy * dy)

  /** Reference-parity all-pairs repulsion: Σ_j≠i (scale²/d)·unit(j→i). */
  private def exactRepulsion(state: DataFrame, cfg: Config): DataFrame = {
    val a = state.select(col("id"), col("x"), col("y"))
    val b = state.select(col("id").as("jid"), col("x").as("jx"), col("y").as("jy"))
    a.crossJoin(b)
      .filter(col("id") =!= col("jid"))
      .withColumn("d", hypot(col("x") - col("jx"), col("y") - col("jy")))
      .filter(col("d") > 0.0)
      .groupBy("id")
      .agg(
        sum(lit(cfg.scale * cfg.scale) * (col("x") - col("jx")) / (col("d") * col("d"))).as("rfx"),
        sum(lit(cfg.scale * cfg.scale) * (col("y") - col("jy")) / (col("d") * col("d"))).as("rfy"))
  }

  /**
   * Scale path: near-field exact over the 3×3 cell neighbourhood, far-field
   * monopole per cell (centroid + count). Cell summaries are tiny (≤ cells
   * touched by nodes) and broadcast; the near-pair join keys on cell, so a
   * uniform spread keeps buckets small. Error vs exact is the standard
   * Barnes–Hut monopole truncation at θ ≈ cell/distance ≤ 1/2.
   */
  private def gridRepulsion(state: DataFrame, cfg: Config, cell: Double): DataFrame = {
    val s2 = cfg.scale * cfg.scale
    // cell indices clamped so runaway coordinates (unstable dt for the
    // graph at hand — the reference's explicit-Euler physics can diverge)
    // degrade the approximation instead of overflowing the long cast
    def bin(c: Column): Column =
      least(greatest(floor(c / cell), lit(-1e15)), lit(1e15)).cast("long")
    val binned = state.select(
      col("id"), col("x"), col("y"),
      bin(col("x")).as("cx"),
      bin(col("y")).as("cy"))
    val cells = binned
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("cn"), avg(col("x")).as("mx"), avg(col("y")).as("my"))

    // near-field: node × nodes in its 3×3 neighbourhood, exact pair force
    val offsets = Seq(-1L, 0L, 1L)
    val neighCells = offsets.flatMap(dx => offsets.map(dy => (dx, dy)))
    val probe = binned
      .withColumn(
        "nc",
        explode(array(neighCells.map { case (dx, dy) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))
        }: _*)))
      .select(
        col("id"), col("x"), col("y"),
        col("nc.cx").as("jcx"), col("nc.cy").as("jcy"))
    val near = probe
      .join(
        binned.select(
          col("id").as("jid"), col("x").as("jx"), col("y").as("jy"),
          col("cx").as("jcx"), col("cy").as("jcy")),
        Seq("jcx", "jcy"))
      .filter(col("id") =!= col("jid"))
      .withColumn("d", hypot(col("x") - col("jx"), col("y") - col("jy")))
      .filter(col("d") > 0.0)
      .groupBy("id")
      .agg(
        sum(lit(s2) * (col("x") - col("jx")) / (col("d") * col("d"))).as("nfx"),
        sum(lit(s2) * (col("y") - col("jy")) / (col("d") * col("d"))).as("nfy"))

    // far-field: every node vs every non-adjacent cell's monopole
    val far = binned
      .crossJoin(broadcast(cells.select(
        col("cx").as("jcx"), col("cy").as("jcy"),
        col("cn"), col("mx"), col("my"))))
      .filter(abs(col("cx") - col("jcx")) > 1 || abs(col("cy") - col("jcy")) > 1)
      .withColumn("d", hypot(col("x") - col("mx"), col("y") - col("my")))
      .filter(col("d") > 0.0)
      .groupBy("id")
      .agg(
        sum(col("cn") * lit(s2) * (col("x") - col("mx")) / (col("d") * col("d"))).as("ffx"),
        sum(col("cn") * lit(s2) * (col("y") - col("my")) / (col("d") * col("d"))).as("ffy"))

    near
      .join(far, Seq("id"), "outer")
      .select(
        col("id"),
        (coalesce(col("nfx"), lit(0.0)) + coalesce(col("ffx"), lit(0.0))).as("rfx"),
        (coalesce(col("nfy"), lit(0.0)) + coalesce(col("ffy"), lit(0.0))).as("rfy"))
  }
}
