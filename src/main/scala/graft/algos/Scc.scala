package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Check, NoRows, RunConfig, Step}
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
 * distributed SCC.
 *
 * The outer rounds are one [[SuperstepRunner]] run over the state
 * (id, root), root null while unassigned; each round runs the color and
 * reach fixpoints as runner loops of their own over the unassigned
 * subgraph. With a checkpoint directory `d`, the outer state commits every
 * round under `d/rounds` and round r's phases under `d/round<r>/color` and
 * `d/round<r>/reach`, so a killed run resumes at its last finished round.
 */
object Scc {

  final case class Config(
      maxRounds: Int = 64,
      maxIterPerPhase: Int = 10000,
      checkpointDir: Option[String] = None)

  /** @return (id, label) with label = min node id of the SCC. */
  def run(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    val simple = pins.persist(g.simpleEdges.filter(col("src") =!= col("dst")))
    def phase(round: Int, name: String) = RunConfig(
      cfg.maxIterPerPhase, cfg.checkpointDir.map(d => s"$d/round$round/$name"), 25, s"scc-$name-$round")

    // state: (id, root), root null while unassigned
    val state = pins.own(SuperstepRunner.run(
      spark,
      g.nodes.select(col("id"), lit(null).cast("long").as("root")),
      RunConfig(cfg.maxRounds, cfg.checkpointDir.map(d => s"$d/rounds"), 1, "scc-rounds")) { (assigned, round) =>
      val open = assigned.filter(col("root").isNull).select("id")
      // the unassigned subgraph, hash-partitioned on src and persisted: the
      // color fixpoint joins this (static within the round) frame on src
      // EVERY superstep — without the explicit repartition each superstep
      // would pay a full exchange of the big edge table (the state side
      // still shuffles, but it is the small, narrow side)
      val e = pins.persist(simple
        .join(open.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(open.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .repartition(col("src")))
      e.count()

      // -- 1. forward max-color fixpoint over the remaining subgraph --
      val colored = pins.own(SuperstepRunner.run(
        spark, open.select(col("id"), col("id").as("c")), phase(round, "color")) { (state, _) =>
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
        Step(next.select("id", "c", "changed"), NoRows(col("changed"), "changes"))
      }.state)

      // -- 2. multi-source backward reach from every root, within color --
      // reach state: (id, c, hit) — hit = can reach the root of its color
      val reachInit = colored.select(col("id"), col("c"), (col("id") === col("c")).as("hit"))
      // edges annotated with both endpoint colors once per round;
      // hash-partitioned on dst — the backward-reach fixpoint joins this
      // static frame on dst every superstep (same rationale as `e`)
      val ec = pins.persist(e
        .join(colored.select(col("id").as("src"), col("c").as("sc")), Seq("src"))
        .join(colored.select(col("id").as("dst"), col("c").as("dc")), Seq("dst"))
        .filter(col("sc") === col("dc"))
        .select("src", "dst")
        .repartition(col("dst")))
      ec.count()
      val reached = pins.own(SuperstepRunner.run(spark, reachInit, phase(round, "reach")) {
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
          Step(next.select("id", "c", "hit", "changed"), NoRows(col("changed"), "changes"))
      }.state)

      // -- 3. assign every node that reaches its root --
      Step(
        assigned
          .join(reached.filter(col("hit")).select(col("id"), col("c").as("nroot")), Seq("id"), "left")
          .select(col("id"), coalesce(col("root"), col("nroot")).as("root")),
        Check { _ =>
          // `reached` holds one row per node unassigned before the round
          val r = reached.agg(count(lit(1)), count(when(col("hit"), 1))).first()
          val (newly, remaining) = (r.getLong(1), r.getLong(0) - r.getLong(1))
          pins.release(e, colored, ec, reached)
          require(newly > 0 || remaining == 0, "SCC round made no progress")
          (remaining == 0, Map("assigned" -> newly.toDouble, "remaining" -> remaining.toDouble))
        })
    }.state)

    // canonicalize: label = min node id per component (roots are the max);
    // nodes still unassigned after maxRounds are left out. The output is
    // pinned and kept, so every internal cache is freed when the scope
    // ends — after this call the only cached blocks left are the (|V|-row)
    // result.
    val assigned = state.filter(col("root").isNotNull)
    val canon = assigned
      .groupBy("root")
      .agg(min("id").as("label"))
    pins.keep(pins.pin(assigned.join(canon, Seq("root")).select("id", "label")))
  }
}
