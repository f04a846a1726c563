package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Strongly connected components, matching the reference's result up to
 * component relabeling (raphtory/src/algorithms/components/scc.rs:100 —
 * Tarjan with discovery-order ids; component ids are identities, not
 * values, so we canonicalize to the **minimum node id** per component,
 * the same normalization used by [[ConnectedComponents]]).
 *
 * The sequential Tarjan recursion doesn't distribute (and would blow the
 * stack on a 100k-turn reply chain anyway); this uses the classic
 * shared-nothing **coloring / forward–backward** scheme
 * (Orzan '04; FB-Trim of Hong et al.):
 *
 *  repeat on the unassigned subgraph:
 *   1. color fixpoint: c(v) = max(v, max c(u) over in-nbrs u) — after
 *      convergence c(v) = max id that reaches v;
 *   2. roots = {v : c(v) = v}; multi-source *backward* reach from all
 *      roots simultaneously, restricted to same-color nodes: any v that
 *      reaches its root within its color class is strongly connected to
 *      it (root→v by coloring, v→root by the backward pass);
 *   3. assign those, drop them from the graph, repeat.
 *
 * Every round finalizes ≥1 SCC per surviving color class; with
 * hash-random node ids the expected outer-round count is O(log n).
 * Inner fixpoints are O(diameter) supersteps — inherent to BFS-based
 * distributed SCC. Each fixpoint is a SuperstepRunner loop (lineage
 * truncation + optional checkpoint lineage per superstep).
 */
object Scc {

  final case class Config(
      maxRounds: Int = 64,
      maxIterPerPhase: Int = 10000,
      checkpointDir: Option[String] = None)

  /** @return (id, label) with label = min node id of the SCC. */
  def run(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    // hash-partitioned on src and persisted: the color fixpoint joins this
    // (static within the round) frame on src EVERY superstep — without the
    // explicit repartition each superstep would pay a full exchange of the
    // big edge table (the state side still shuffles, but it is the small,
    // narrow side)
    var edges = pins.persist(g.simpleEdges
      .filter(col("src") =!= col("dst"))
      .repartition(col("src")))
    edges.count()
    var nodes = pins.persist(g.nodes)
    var remaining = nodes.count()

    var assigned: DataFrame =
      spark.emptyDataFrame.select(lit(0L).as("id"), lit(0L).as("root")).limit(0)

    var round = 0
    while (remaining > 0 && round < cfg.maxRounds) {
      round += 1

      // -- 1. forward max-color fixpoint over the remaining subgraph --
      val colorInit = nodes.select(col("id"), col("id").as("c"))
      val e = edges
      val colorState = pins.own(SuperstepRunner.run(
        spark,
        colorInit,
        RunConfig(cfg.maxIterPerPhase, cfg.checkpointDir, 25, runId = s"scc-color-$round")) {
        (state, _) =>
          val msgs = e
            .join(state.select(col("id"), col("c")), e("src") === col("id"))
            .groupBy(e("dst").as("id"))
            .agg(max("c").as("mc"))
          val next = state
            .join(msgs, Seq("id"), "left")
            .select(
              col("id"),
              greatest(col("c"), coalesce(col("mc"), col("c"))).as("c"),
              (coalesce(col("mc"), col("c")) > col("c")).as("changed"))
          Step(
            next.select("id", "c", "changed"),
            m => {
              val changes = m.filter(col("changed")).count()
              (changes == 0, Map("changes" -> changes.toDouble))
            })
      }.state)
      val colored = pins.persist(colorState.select("id", "c"))
      colored.count()
      // the fixpoint's final superstep state is superseded by `colored` —
      // free its checkpoint blocks now rather than waiting on the cleaner
      pins.release(colorState)

      // -- 2. multi-source backward reach from every root, within color --
      // reach state: (id, c, hit) — hit = can reach the root of its color
      val reachInit = colored.withColumn("hit", col("id") === col("c"))
      // edges annotated with both endpoint colors once per round;
      // hash-partitioned on dst — the backward-reach fixpoint joins this
      // static frame on dst every superstep (same rationale as `edges`)
      val ec = pins.persist(e
        .join(colored.select(col("id").as("src"), col("c").as("sc")), Seq("src"))
        .join(colored.select(col("id").as("dst"), col("c").as("dc")), Seq("dst"))
        .filter(col("sc") === col("dc"))
        .select("src", "dst")
        .repartition(col("dst")))
      ec.count()
      val reached = pins.own(SuperstepRunner.run(
        spark,
        reachInit,
        RunConfig(cfg.maxIterPerPhase, cfg.checkpointDir, 25, runId = s"scc-reach-$round")) {
        (state, _) =>
          // v hits if any out-neighbour (same color) hits
          val msgs = ec
            .join(state.select(col("id"), col("hit")), ec("dst") === col("id"))
            .filter(col("hit"))
            .select(ec("src").as("id"))
            .distinct()
            .withColumn("nhit", lit(true))
          val next = state
            .join(msgs, Seq("id"), "left")
            .select(
              col("id"),
              col("c"),
              (col("hit") || coalesce(col("nhit"), lit(false))).as("hit"),
              (!col("hit") && coalesce(col("nhit"), lit(false))).as("changed"))
          Step(
            next.select("id", "c", "hit", "changed"),
            m => {
              val changes = m.filter(col("changed")).count()
              (changes == 0, Map("changes" -> changes.toDouble))
            })
      }.state)

      val newly = pins.persist(reached.filter(col("hit")).select(col("id"), col("c").as("root")))
      val nNew = newly.count()
      pins.release(reached)
      // pinned: truncates the O(rounds) union lineage AND lets the
      // previous round's accumulator blocks be freed now
      assigned = pins.replace(assigned, Pin.pin(assigned.unionByName(newly)))

      // shrink the working graph
      val prevNodes = nodes
      val prevEdges = edges
      nodes = pins.persist(nodes.join(newly.select("id"), Seq("id"), "left_anti"))
      remaining = nodes.count()
      edges = pins.persist(edges
        .join(nodes.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .repartition(col("src")))
      edges.count()
      pins.release(prevNodes, prevEdges, colored, ec, newly)
      require(nNew > 0 || remaining == 0, "SCC round made no progress")
    }

    // canonicalize: label = min node id per component (roots are the max).
    // The output is pinned and kept, so every internal cache (including
    // the accumulated `assigned` pin) is freed when the scope ends — after
    // this call the only cached blocks left are the (|V|-row) result.
    val canon = assigned
      .groupBy("root")
      .agg(min("id").as("label"))
    pins.keep(pins.pin(assigned.join(canon, Seq("root")).select("id", "label")))
  }
}
