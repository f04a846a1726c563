package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Louvain community detection — a deterministic, distributed re-expression
 * of the reference's modularity local-moving + aggregation loop
 * (community_detection/louvain.rs:27, modularity.rs `ModularityUnDir`).
 *
 * The reference shuffles the node visit order with an unseeded rng and
 * moves nodes one at a time; that is inherently sequential and
 * non-reproducible. This version keeps the reference's modularity function
 * and level structure but replaces the sequential sweep with SYNCHRONOUS
 * parallel local moving, made deterministic and oscillation-free:
 *
 *  - modularity semantics match `ModularityUnDir` exactly: pair weight
 *    w(a,b) = Σ of distinct directed edge weights in either direction
 *    (the reference's both-direction adjacency), k_i = Σ_b w(i,b)
 *    excluding self-loops, m2 = Σ k_i (self-loops excluded from the mass,
 *    `modularity.rs:219-246`), move gain
 *    Δ = (2(w_i→new − w_i→old) − γ·2(k_i(Σ_new − Σ_old) + k_i²)/m2)/m2
 *    (`move_delta`, modularity.rs:259-277 — the self-loop term cancels
 *    against its contribution to adj_com[old]);
 *  - every node evaluates its candidate moves (neighbour communities,
 *    `candidate_moves`) against the PREVIOUS round's assignment; the best
 *    move is argmax by (Δ, then smaller community id) and applies only if
 *    Δ > tol;
 *  - synchronous moving can 2-cycle (two singletons endlessly swapping
 *    communities), so rounds alternate a DIRECTION gate: even rounds admit
 *    only moves to a smaller community id, odd rounds only to a larger one
 *    — a mutual swap would need both orderings in one round, so it cannot
 *    happen; convergence = two consecutive zero-move rounds (one per
 *    direction);
 *  - a converged level aggregates exactly like `ModularityFunction::
 *    aggregate`: communities become nodes labelled by their MIN member id
 *    (deterministic canonical form), inter-community pair weights sum,
 *    intra-community weight becomes the new node's self-loop
 *    (2·Σ intra pairs + member self-loops), and k carries over as k_com —
 *    NOT recomputed from the new adjacency;
 *  - levels repeat until a level makes zero moves.
 *
 * Scale: the per-level neighbour table is grouped into a salted weighted
 * CSR (same sharding contract as [[TemporalGraph.adjacencyOut]]) that is
 * persisted hash-partitioned on its join key, so each round's message join
 * exchanges only the narrow (id, com, k) state frame — the big static
 * adjacency side is never re-shuffled (the PageRank/HITS superstep
 * pattern). Per round: one CSR⋈state join + explode, one (node, cand)
 * partial-aggregated tally, one (com) aggregate for Σ_tot joined back.
 * Aggregation shrinks the graph geometrically, so level cost is dominated
 * by level 1. All iterative state flows through SuperstepRunner (lineage
 * truncation + checkpoint/resume lineage manifests).
 */
object Louvain {

  final case class Config(
      resolution: Double = 1.0,
      tol: Double = 1e-8,
      weightCol: Option[String] = None,
      maxLevels: Int = 20,
      maxLocalRounds: Int = 50,
      checkpointDir: Option[String] = None)

  /** @return (id, community) — community = min original member node id. */
  def run(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): DataFrame =
    runWithMetrics(spark, g, cfg)._1

  /**
   * The LEVEL-0 local-moving kernel after a PINNED number of parity-gated
   * synchronous rounds — the deterministic heart of [[run]], exposed so an
   * ARBITRARY graph gets a full replay oracle (the MIS/coloring
   * pinned-round precedent): every move decision is an argmax over
   * exactly-representable float arithmetic (unweighted w/k/Σtot are
   * integer-valued doubles; products stay < 2^53) evaluated in one fixed
   * operand order, so a SQL engine replays the round ladder bit-for-bit.
   * A converged state is a fixpoint (zero moves at both parities), so
   * extra pinned rounds no-op — Spark may early-stop at convergence, the
   * oracle always runs all `rounds`.
   *
   * @return (id, com) — the assignment after `rounds` rounds
   */
  def localMovingRounds(
      spark: SparkSession,
      g: TemporalGraph,
      rounds: Int,
      cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of [1, 64]")
    val (pairs0, _, k0, m2) = level1(pins, g, cfg)
    if (m2 <= 0.0) g.nodes.select(col("id"), col("id").as("com"))
    else localMoving(spark, pins, pairs0, k0, m2, cfg.copy(maxLocalRounds = rounds), level = 0)._1
  }

  /** As [[run]], also returning every local-moving round's metrics across
    * all levels (incl. `wallMs` and `level`). */
  def runWithMetrics(
      spark: SparkSession,
      g: TemporalGraph,
      cfg: Config = Config()): (DataFrame, List[Map[String, Double]]) = Pin.scope { pins =>
    var allMetrics = List.empty[Map[String, Double]]
    val (pairs0, selfw0, k0, m2) = level1(pins, g, cfg)
    var pairs = pairs0
    var selfw = selfw0
    var k = k0
    // mapping original node -> current-level node
    var mapping = pins.pin(g.nodes.select(col("id").as("orig"), col("id").as("node")))

    var level = 0
    var outerMoved = m2 > 0.0
    while (outerMoved && level < cfg.maxLevels) {
      level += 1
      val (assign, movedAtLevel, levelMetrics) = localMoving(spark, pins, pairs, k, m2, cfg, level)
      pins.own(assign)
      allMetrics = allMetrics ++ levelMetrics
      outerMoved = movedAtLevel
      if (movedAtLevel) {
        // canonical community label = min member id (deterministic compact)
        val canon = assign
          .groupBy(col("com"))
          .agg(min(col("id")).as("label"))
        val relabeled = pins.pin(
          assign.join(canon, Seq("com")).select(col("id"), col("label")))

        mapping = pins.replace(mapping, Pin.pin(
          mapping
            .join(relabeled, mapping("node") === relabeled("id"))
            .select(col("orig"), col("label").as("node"))))

        // --- aggregate (modularity.rs:344-388) ---
        val pa = pairs
          .join(relabeled.select(col("id").as("a"), col("label").as("ca")), Seq("a"))
          .join(relabeled.select(col("id").as("b"), col("label").as("cb")), Seq("b"))
          .select(col("ca"), col("cb"), col("w"))
        // new self-loop = 2·intra-pair weight + member self-loops (pinned
        // first: it reads the old pairs through `pa`)
        val intra = pa
          .filter(col("ca") === col("cb"))
          .select(col("ca").as("id"), (col("w") * 2.0).as("sw"))
        val memberSelf = selfw
          .join(relabeled, Seq("id"))
          .select(col("label").as("id"), col("sw"))
        selfw = pins.replace(selfw, Pin.pin(
          intra.unionByName(memberSelf).groupBy("id").agg(sum(col("sw")).as("sw"))))
        pairs = pins.replace(pairs, Pin.pin(
          pa.filter(col("ca") =!= col("cb"))
            .groupBy(
              least(col("ca"), col("cb")).as("a"),
              greatest(col("ca"), col("cb")).as("b"))
            .agg(sum(col("w")).as("w"))))
        // k carries over as k_com (NOT recomputed from the new adjacency)
        k = pins.replace(k, Pin.pin(
          k.join(relabeled, Seq("id"))
            .groupBy(col("label").as("id"))
            .agg(sum(col("k")).as("k"))))
        pins.release(relabeled)
      }
      pins.release(assign)
    }
    (pins.keep(mapping).select(col("orig").as("id"), col("node").as("community")), allMetrics)
  }

  /** Level-1 weighted undirected structure (modularity.rs:175-219):
    * distinct directed edge weight is 1 unweighted, else the latest
    * property value per directed edge (reference properties().get =
    * latest). Returns (pairs (a,b,w), selfw (id,sw), k (id,k), m2). */
  private def level1(
      pins: Pin.Scope,
      g: TemporalGraph,
      cfg: Config): (DataFrame, DataFrame, DataFrame, Double) = {
    val directed = cfg.weightCol match {
      case None =>
        g.simpleEdges.withColumn("w", lit(1.0))
      case Some(wc) =>
        g.edges
          .groupBy("src", "dst")
          .agg(max(struct(col("ts"), col("event_id"), col(wc).cast("double").as("w"))).as("last"))
          .select(col("src"), col("dst"), col("last").getField("w").as("w"))
    }
    // drop sub-tolerance weights like the reference's `.filter(w >= tol)`
    val dW = directed.filter(col("w") >= cfg.tol)
    val pairs = pins.pin(
      dW.filter(col("src") =!= col("dst"))
        .groupBy(
          least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .agg(sum(col("w")).as("w")))
    val selfw = pins.pin(
      dW.filter(col("src") === col("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("w")).as("sw")))
    val k = pins.pin(
      pairs
        .select(col("a").as("id"), col("w"))
        .unionByName(pairs.select(col("b").as("id"), col("w")))
        .unionByName(selfw.select(col("id"), lit(0.0).as("w"))) // self-loop-only nodes, k=0
        .unionByName(g.nodes.select(col("id"), lit(0.0).as("w")))
        .groupBy("id")
        .agg(sum(col("w")).as("k")))
    val m2 = k.agg(sum(col("k"))).first() match {
      case r if r.isNullAt(0) => 0.0
      case r                  => r.getDouble(0)
    }
    (pairs, selfw, k, m2)
  }

  /** One level of synchronous parity-gated local moving.
    * @return (assignment (id, com), whether any node moved, round metrics) */
  private def localMoving(
      spark: SparkSession,
      pins: Pin.Scope,
      pairs: DataFrame,
      k: DataFrame,
      m2: Double,
      cfg: Config,
      level: Int): (DataFrame, Boolean, List[Map[String, Double]]) = {
    // Salted weighted CSR keyed by the message SOURCE (`other`, whose
    // community each neighbour reads): persisted hash-partitioned on the
    // join key so the static adjacency is never re-exchanged across rounds
    // — only the narrow state frame shuffles (TemporalGraph.adjacencyOut
    // sharding contract; hubs split into ~maxShard-entry rows).
    val maxShard = TemporalGraph.DefaultMaxShard
    val bi = pairs
      .select(col("a").as("other"), col("b").as("nbr"), col("w"))
      .unionByName(pairs.select(col("b").as("other"), col("a").as("nbr"), col("w")))
    val deg = bi.groupBy("other").agg(count(lit(1)).as("deg"))
    val adj = pins.persist(bi
      .join(deg, Seq("other"))
      .withColumn(
        "salt",
        pmod(xxhash64(col("nbr")), greatest(ceil(col("deg") / maxShard.toDouble), lit(1L)))
          .cast("int"))
      .groupBy("other", "salt")
      .agg(collect_list(struct(col("nbr"), col("w"))).as("entries")))
    val init = k.select(col("id"), col("id").as("com"), col("k"))

    var zeroStreak = 0
    var anyMove = false
    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(
        maxSteps = cfg.maxLocalRounds,
        checkpointDir = cfg.checkpointDir.map(d => s"$d/level$level"),
        runId = s"louvain-l$level")) { (state, round) =>
      // Σ_tot per community (tiny: ≤ #communities rows; AQE broadcasts it)
      val ktot = state.groupBy(col("com")).agg(sum(col("k")).as("ktot"))
      // w_i→c: weight from each node to each neighbouring community — the
      // CSR side stays put; only the (id, com) projection of state shuffles.
      // PINNED (eager local checkpoint): wcom feeds the delta plan TWICE
      // (as itself and as the w_old lookup) — without the pin the CSR join
      // + explode + aggregation executed twice per round (r5 shape;
      // measured ~20 stages/round, the fattest subtree duplicated). The
      // pin's blocks are freed in the evaluate callback below, after the
      // round's state is materialized.
      val wcom = pins.pin(
        adj
          .join(state.select(col("id").as("other"), col("com").as("ocom")), Seq("other"))
          .select(col("ocom"), explode(col("entries")).as("e"))
          .groupBy(col("e.nbr").as("id"), col("ocom").as("cand"))
          .agg(sum(col("e.w")).as("w_cand")))
      // candidate deltas (modularity.rs move_delta; self-loop term cancels).
      // w_i→own-community is a per-node scalar over the SAME wcom group —
      // a max-over-window on the node key, instead of the r5 self-join of
      // wcom against its own (id, com) projection (one join + one
      // re-exchange fewer per round; max over the ≤1 matching row selects
      // the identical w_old value, so every delta float op is unchanged).
      val wId = org.apache.spark.sql.expressions.Window.partitionBy("id")
      val withDelta = wcom
        .join(state, Seq("id")) // adds (com, k); nodes without candidates rejoin below
        .withColumn(
          "w_old",
          max(when(col("cand") === col("com"), col("w_cand"))).over(wId))
        .join(ktot.select(col("com").as("cand"), col("ktot").as("ktot_new")), Seq("cand"), "left")
        .join(ktot, Seq("com"))
        .withColumn(
          "delta",
          when(col("cand") === col("com"), lit(0.0)).otherwise(
            (lit(2.0) * (col("w_cand") - coalesce(col("w_old"), lit(0.0)))
              - lit(2.0 * cfg.resolution) * (col("k") * (col("ktot_new") - col("ktot"))
                + col("k") * col("k")) / lit(m2)) / lit(m2)))
      // argmax by (delta desc, smaller candidate community id) — grouped on
      // the window's own key, so the winner aggregation adds no exchange;
      // candidate-less nodes re-enter via the left join (null cand ⇒ no
      // move, exactly the r5 null-candidate rows' outcome)
      val best = withDelta
        .groupBy(col("id"))
        .agg(min(struct((col("delta") * -1.0).as("nd"), col("cand").as("cand"))).as("best"))
      val winner = state
        .join(best, Seq("id"), "left")
        .select(
          col("id"), col("com"), col("k"),
          (col("best.nd") * -1.0).as("delta"),
          col("best.cand").as("cand"))
      // Direction-alternating move gate: even rounds admit only moves to a
      // SMALLER community id, odd rounds only to a LARGER one. A mutual
      // swap needs i→j and j→i in the same round, which requires both
      // j < i and i < j — impossible — so synchronous application can never
      // 2-cycle, while every beneficial move stays attemptable every other
      // round. (The reference avoids this problem by moving nodes one at a
      // time in rng order; this gate is the deterministic parallel
      // counterpart.)
      val gated = winner.withColumn(
        "moves",
        col("cand").isNotNull && col("cand") =!= col("com") && col("delta") > cfg.tol &&
          ((col("cand") < col("com")) === lit(round % 2 == 0)))
      val next = gated.select(
        col("id"),
        when(col("moves"), col("cand")).otherwise(col("com")).as("com"),
        col("k"),
        col("moves"))
      Step(
        next,
        { materialized =>
          // next is materialized — the round's pinned wcom can be freed now
          pins.release(wcom)
          val moves = materialized.filter(col("moves")).count()
          if (moves > 0) { anyMove = true; zeroStreak = 0 } else zeroStreak += 1
          (zeroStreak >= 2, Map("moves" -> moves.toDouble, "level" -> level.toDouble))
        })
    }
    pins.release(adj)
    (result.state.select(col("id"), col("com")), anyMove, result.metrics)
  }

  /**
   * Modularity of an assignment under the reference's `value()`
   * (modularity.rs:391-403): Q = e/m2 − Σ_c Σtot(c)² / m2², where e counts
   * every intra-community pair edge from BOTH endpoints plus self-loops.
   * (The reference's value() ignores the resolution parameter; so does
   * this.) Inputs are level-1 structures from [[run]]'s prep: use
   * [[modularityOf]] for a TemporalGraph.
   */
  def modularity(
      pairs: DataFrame,
      selfw: DataFrame,
      k: DataFrame,
      assign: DataFrame,
      m2: Double): Double = {
    if (m2 <= 0.0) return 0.0
    val ac = assign.select(col("id"), col("community"))
    val intra = pairs
      .join(ac.select(col("id").as("a"), col("community").as("ca")), Seq("a"))
      .join(ac.select(col("id").as("b"), col("community").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .agg(coalesce(sum(col("w") * 2.0), lit(0.0)))
      .first()
      .getDouble(0)
    val selfSum = selfw.agg(coalesce(sum(col("sw")), lit(0.0))).first().getDouble(0)
    val ktotSq = k
      .join(ac, Seq("id"))
      .groupBy(col("community"))
      .agg(sum(col("k")).as("ktot"))
      .agg(coalesce(sum(col("ktot") * col("ktot")), lit(0.0)))
      .first()
      .getDouble(0)
    (intra + selfSum) / m2 - ktotSq / (m2 * m2)
  }

  /** Modularity of (id, community) over a graph (unweighted). */
  def modularityOf(spark: SparkSession, g: TemporalGraph, assign: DataFrame): Double = {
    val e = g.simpleEdges.withColumn("w", lit(1.0))
    val pairs = e
      .filter(col("src") =!= col("dst"))
      .groupBy(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .agg(sum(col("w")).as("w"))
    val selfw = e
      .filter(col("src") === col("dst"))
      .groupBy(col("src").as("id"))
      .agg(sum(col("w")).as("sw"))
    val k = pairs
      .select(col("a").as("id"), col("w"))
      .unionByName(pairs.select(col("b").as("id"), col("w")))
      .groupBy("id")
      .agg(sum(col("w")).as("k"))
    val m2row = k.agg(sum(col("k"))).first()
    val m2 = if (m2row.isNullAt(0)) 0.0 else m2row.getDouble(0)
    modularity(pairs, selfw, k, assign, m2)
  }
}
