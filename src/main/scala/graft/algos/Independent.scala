package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{NoRows, RunConfig, Step}
import graft.graph.TemporalGraph
import graft.ml.GraphLearn
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Symmetry-breaking primitives over the undirected simple graph — maximal
 * independent set (Luby 1986 with FIXED priorities) and greedy graph
 * coloring (Jones–Plassmann 1993): the classic building blocks for
 * scheduling / conflict-free batching on a link graph (e.g. picking a
 * non-adjacent set of hub turns to process concurrently).
 *
 * Both use the same deterministic priority π(v) = (hmix(seed, v), v),
 * ties impossible (ids are distinct). With priorities FIXED across rounds
 * the parallel algorithms compute EXACTLY the sequential greedy answer
 * along ascending π — MIS membership and colors are unique, so the DuckDB
 * oracle replays them round-for-round, and the round count is the
 * priority-DAG depth (O(log n) w.h.p. for hash-uniform priorities,
 * Blelloch–Fineman–Shun 2012).
 *
 * Per round both algorithms exchange only the UNDECIDED/UNCOLORED
 * subgraph's edges (joins of the persisted undirected pair set against
 * the shrinking frontier) — the recount-and-peel cost model of
 * [[Truss]]/[[KCore]], shrinking geometrically with the frontier.
 */
object Independent {

  private def pri(seed: Long, id: Column): Column =
    GraphLearn.hmix(seed, id -> GraphLearn.M1)

  /** π(a) < π(b) as columns: (h, id) lexicographic. */
  private def before(ha: Column, a: Column, hb: Column, b: Column): Column =
    ha < hb || (ha === hb && a < b)

  /**
   * Maximal independent set: node v joins when no UNDECIDED neighbour has
   * smaller π; neighbours of joiners are excluded. Equals the sequential
   * greedy MIS along ascending π (the lexicographically-first MIS in that
   * order). Converges when nothing is undecided; a converged state is a
   * fixpoint (extra rounds no-op — the pinned-round oracle precedent).
   *
   * THROWS if `maxRounds` is hit with nodes still undecided: a truncated
   * run maps the undecided to in_mis = false, which is a NON-maximal set
   * indistinguishable from a valid answer — failing loudly is the only
   * safe surface. Luby-with-fixed-π needs O(log n) rounds w.h.p., so the
   * default is generous; extra headroom costs nothing (the runner stops
   * at convergence).
   *
   * @return (id, in_mis)
   */
  def maximalIndependentSet(
      spark: SparkSession,
      g: TemporalGraph,
      maxRounds: Int = 256,
      seed: Long = 42L): DataFrame = Pin.scope { pins =>
    // persisted hash-partitioned on `nbr`, the key of BOTH per-round joins
    // (the pair set is symmetric, so "neighbours of X" reads identically
    // through either column — the exclusion join below probes on nbr too);
    // the static side then never re-exchanges, only the shrinking frontier
    val und = pins.persist(
      g.undirectedPairs.filter(col("node") =!= col("nbr")).repartition(col("nbr")))
    // status: 0 undecided, 1 in, 2 out
    val init = g.nodes.select(
      col("id"), pri(seed, col("id")).as("h"), lit(0).as("status"))
    val res = SuperstepRunner.run(
      spark, init, RunConfig(maxSteps = maxRounds, runId = s"mis-$seed")) { (state, _) =>
      val u = state.filter(col("status") === 0).select(col("id"), col("h"))
      // smallest-π undecided neighbour per undecided node
      val mn = und
        .join(u.select(col("id").as("nbr"), col("h").as("nh")), Seq("nbr"))
        .groupBy("node")
        .agg(min(struct(col("nh"), col("nbr"))).as("mn"))
      val winners = u
        .join(mn, u("id") === mn("node"), "left")
        .filter(
          col("mn").isNull ||
            before(col("h"), col("id"), col("mn.nh"), col("mn.nbr")))
        .select(col("id"))
      // symmetric pair set: joining winners on nbr and reading node is
      // the same neighbour set as joining on node and reading nbr, but
      // reuses und's nbr partitioning (zero static-side exchange)
      val excluded = und
        .join(winners.select(col("id").as("nbr")), Seq("nbr"))
        .select(col("node").as("id"))
        .distinct()
      val next = state
        .join(winners.withColumn("win", lit(true)), Seq("id"), "left")
        .join(excluded.withColumn("excl", lit(true)), Seq("id"), "left")
        .select(
          col("id"), col("h"),
          when(col("status") =!= 0, col("status"))
            .when(col("win"), lit(1))
            .when(col("excl"), lit(2))
            .otherwise(lit(0)).as("status"))
      Step(next, NoRows(col("status") === 0, "undecided"))
    }
    pins.own(res.state) // freed if the run did not converge
    if (!res.converged)
      throw new IllegalStateException(
        s"MIS did not converge in $maxRounds rounds (" +
          s"${res.metrics.lastOption.flatMap(_.get("undecided")).getOrElse(-1.0)} " +
          "nodes undecided) — a truncated result would be non-maximal; raise maxRounds")
    pins.keep(res.state).select(col("id"), (col("status") === 1).as("in_mis"))
  }

  /**
   * Jones–Plassmann greedy coloring: a node colors itself once every
   * smaller-π neighbour is colored, taking the mex (smallest non-negative
   * integer absent) of its colored neighbours' colors — exactly the
   * sequential greedy coloring along ascending π. The mex is the fused
   * columnar form `filter(sequence(0, |cols|), x -> x ∉ cols)[0]` over
   * the sorted distinct neighbour-color set; the DuckDB oracle evaluates
   * the identical lambda (`list_filter(range(0, len+1), ...)[1]`).
   *
   * THROWS if `maxRounds` is hit with nodes still uncolored (a truncated
   * run would return null colors that look like data). Unlike MIS, JP's
   * round count is the priority-DAG DEPTH, which on a dense graph can
   * approach the longest ascending-π path (~150 measured on the sf0.01
   * event graph) — hence the large default; callers with adversarially
   * deep graphs must size maxRounds to the graph. The runner stops at
   * convergence, so headroom is free.
   *
   * @return (id, color ≥ 0)
   */
  def jonesPlassmann(
      spark: SparkSession,
      g: TemporalGraph,
      maxRounds: Int = 1024,
      seed: Long = 42L): DataFrame = Pin.scope { pins =>
    val und = pins.persist(g.undirectedPairs.filter(col("node") =!= col("nbr")))
    val init = g.nodes.select(
      col("id"), pri(seed, col("id")).as("h"), lit(null).cast("long").as("color"))
    val res = SuperstepRunner.run(
      spark, init, RunConfig(maxSteps = maxRounds, runId = s"jp-$seed")) { (state, _) =>
      val uncol = state.filter(col("color").isNull)
      // blocked: an uncolored smaller-π neighbour exists
      val blocked = und
        .join(
          uncol.select(col("id").as("nbr"), col("h").as("nh")), Seq("nbr"))
        .join(uncol.select(col("id").as("node"), col("h").as("oh")), Seq("node"))
        .filter(before(col("nh"), col("nbr"), col("oh"), col("node")))
        .select(col("node").as("id"))
        .distinct()
      // colored-neighbour color sets for the unblocked frontier
      val colored = state.filter(col("color").isNotNull)
      val cols = und
        .join(
          colored.select(col("id").as("nbr"), col("color").as("nc")), Seq("nbr"))
        .groupBy("node")
        .agg(sort_array(collect_set(col("nc"))).as("cs"))
      val emptyCols = array().cast("array<bigint>")
      val mex = element_at(
        filter(
          sequence(lit(0L), size(col("cs")).cast("long")),
          x => !array_contains(col("cs"), x)),
        1)
      val newlyColored = uncol
        .join(blocked.withColumn("blk", lit(true)), Seq("id"), "left")
        .filter(col("blk").isNull)
        .join(cols, uncol("id") === cols("node"), "left")
        .withColumn("cs", coalesce(col("cs"), emptyCols))
        .select(col("id"), mex.as("newc"))
      val next = state
        .join(newlyColored, Seq("id"), "left")
        .select(col("id"), col("h"), coalesce(col("color"), col("newc")).as("color"))
      Step(next, NoRows(col("color").isNull, "uncolored"))
    }
    pins.own(res.state) // freed if the run did not converge
    if (!res.converged)
      throw new IllegalStateException(
        s"Jones–Plassmann did not converge in $maxRounds rounds (" +
          s"${res.metrics.lastOption.flatMap(_.get("uncolored")).getOrElse(-1.0)} " +
          "nodes uncolored) — a truncated result has null colors; raise maxRounds")
    pins.keep(res.state).select(col("id"), col("color"))
  }
}
