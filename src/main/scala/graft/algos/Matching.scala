package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Check, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Max-weight matching — the Spark counterpart of the reference's
 * `max_weight_matching` (bipartite/max_weight_matching.rs:880, a port of
 * Galil's blossom algorithm). Blossom is inherently sequential (O(n³),
 * augmenting paths with shrinking cycles), so a faithful distributed port
 * does not exist; this module offers the two standard distributed
 * re-expressions:
 *
 *  - [[locallyDominant]] — general graphs: parallel locally-dominant edge
 *    matching (Preis 1999; Manne–Bisseling's suitor algorithm). Each round
 *    every unmatched node points at its best available neighbour and
 *    mutual pairs match; guaranteed ≥ ½ the optimal weight, terminates
 *    (the globally heaviest remaining edge always matches), fully
 *    deterministic via (weight desc, partner-id asc) tie-breaks. This is
 *    the matching used at scale (e.g. multilevel coarsening) — one
 *    message join + one mutual check per round.
 *
 *  - [[auctionBipartite]] — bipartite graphs (the module's nominal
 *    domain): Bertsekas' auction algorithm, Jacobi (all-bidders-parallel)
 *    form, with a virtual null object so matching stays optional exactly
 *    like blossom's non-perfect matching. With integer weights and
 *    ε < 1/(n+1), ε-complementary slackness makes the result an EXACT
 *    optimum — it reproduces the reference's doctest/pytest goldens on
 *    bipartite inputs, including the `max_cardinality` weight lift.
 *
 * `maxCardinality = true` mirrors the reference flag by lifting every
 * weight by `1 + n·maxW` so cardinality strictly dominates weight
 * (the classic reduction; the blossom implements the same preference via
 * its dual offset, max_weight_matching.rs:758).
 */
object Matching {

  final case class Config(
      weightCol: Option[String] = None,
      maxCardinality: Boolean = false,
      maxRounds: Int = 10000)

  /** Undirected weighted pair list (a < b, weight = max over directed
    * edges between the endpoints, self-loops dropped — a matching can
    * never use them). */
  private def weightedPairs(g: TemporalGraph, cfg: Config): DataFrame = {
    val w = cfg.weightCol match {
      case None     => g.edges.withColumn("w", lit(1.0))
      case Some(wc) => g.edges.withColumn("w", col(wc).cast("double"))
    }
    w.filter(col("src") =!= col("dst"))
      .groupBy(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(max(col("w")).as("w"))
  }

  private def lift(pairs: DataFrame, cfg: Config): DataFrame =
    if (!cfg.maxCardinality) pairs
    else {
      val stats = pairs.agg(count(lit(1)), max(abs(col("w")))).first()
      val n = stats.getLong(0)
      val maxW = Option(stats.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      pairs.withColumn("w", col("w") + lit(1.0 + n * maxW))
    }

  /**
   * Locally-dominant (½-approximation) matching for general graphs.
   * @return (src, dst, weight) matched pairs, src < dst.
   */
  def locallyDominant(
      spark: SparkSession,
      g: TemporalGraph,
      cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    // greedy pick order is invariant under a uniform weight shift, so the
    // cardinality lift cannot change this algorithm's output — reject the
    // flag rather than silently ignore it (the result IS always maximal)
    require(!cfg.maxCardinality, "maxCardinality requires the exact auctionBipartite path")
    // state: one row per matched or still-available edge (a, b, w,
    // matched, fresh); fresh marks the edges matched this round. An
    // unmatched edge that touches a fresh match is dropped.
    val init = weightedPairs(g, cfg).select(
      col("a"), col("b"), col("w"), lit(false).as("matched"), lit(false).as("fresh"))
    val state = pins.own(SuperstepRunner.run(
      spark, init, RunConfig(cfg.maxRounds, runId = "matching-dominant")) { (state, _) =>
      val remaining = state.filter(!col("matched"))
      // best incident edge per node: max (w, then smaller partner id)
      val incident = remaining
        .select(col("a").as("id"), col("b").as("partner"), col("w"))
        .unionByName(remaining.select(col("b").as("id"), col("a").as("partner"), col("w")))
      val pick = incident
        .groupBy("id")
        .agg(max(struct(col("w").as("w"), (-col("partner")).as("np"))).as("best"))
        .select(col("id"), (-col("best.np")).as("pick"))
      // mutual picks: (id, pick) whose swap (pick, id) is a pick too
      val mate = pick.join(pick.select(col("pick").as("id"), col("id").as("pick")), Seq("id", "pick"))
      Step(
        state
          .join(mate.select(col("id").as("a"), col("pick").as("amate")), Seq("a"), "left")
          .join(mate.select(col("id").as("b"), col("pick").as("bmate")), Seq("b"), "left")
          .withColumn("fresh", coalesce(col("amate") === col("b"), lit(false)))
          .filter(col("matched") || col("fresh") || col("amate").isNull && col("bmate").isNull)
          .select(col("a"), col("b"), col("w"), (col("matched") || col("fresh")).as("matched"), col("fresh")),
        Check { m =>
          val r = m.agg(
            count(when(col("fresh"), 1)).as("fresh"),
            count(when(!col("matched"), 1)).as("open")).first()
          val (fresh, open) = (r.getLong(0), r.getLong(1))
          (fresh == 0 || open == 0, Map("fresh" -> fresh.toDouble, "open" -> open.toDouble))
        })
    }.state)
    Pin.pin(
      state.filter(col("matched"))
        .select(col("a").as("src"), col("b").as("dst"), col("w").as("weight")))
  }

  /**
   * Exact max-weight bipartite matching via deterministic Jacobi auction.
   * Input edges must be oriented left→right (person → object); an edge in
   * the opposite orientation is flipped by the caller's bipartition.
   * Exact for integer weights (ε = 1/(n+1) < any weight gap).
   *
   * On ε-scaling (considered, deliberately NOT applied): classic ε-scaling
   * (start ε at ~C/4, divide per phase, carry prices) bounds rounds to
   * O(n log C) on large weight ranges, but it is UNSOUND for this variant,
   * which allows persons to finalize UNMATCHED (the virtual null
   * candidate): a price inflated by an earlier large-ε phase can sit on an
   * unassigned object with no holder supporting it, making a person whose
   * optimal partner that object is pick null and finalize — prices never
   * fall, so the error is permanent. The sound fix is Bertsekas'
   * asymmetric-auction profit floor (λ) mechanism; until that is needed,
   * large-range instances should use [[locallyDominant]] (the ½-approx
   * scale path) or pre-scale weights to a small integer range.
   * @return (src, dst, weight) matched pairs.
   */
  def auctionBipartite(
      spark: SparkSession,
      edges: DataFrame, // (src, dst, w) person → object
      cfg: Config = Config()): DataFrame = Pin.scope { pins =>
    val base = edges
      .groupBy(col("src").as("person"), col("dst").as("obj"))
      .agg(max(col("w").cast("double")).as("w"))
    val lifted = pins.pin(lift(base, cfg))
    val persons = pins.pin(lifted.select("person").distinct())
    val nPersons = persons.count()
    val eps = 1.0 / (nPersons + 1.0)
    val objType = lifted.schema("obj").dataType

    // state: one row per object (obj, price, holder person or null), plus
    // (null, null, person) for each person that finalized unmatched. The
    // active persons (unassigned, not finalized) are the ones not in it.
    val init = lifted.select(col("obj")).distinct()
      .select(col("obj"), lit(0.0).as("price"), lit(null).cast(lifted.schema("person").dataType).as("person"))
    val state = pins.own(SuperstepRunner.run(
      spark, init, RunConfig(cfg.maxRounds, runId = "matching-auction")) { (state, _) =>
      val active = persons.join(state.filter(col("person").isNotNull), Seq("person"), "left_anti")
      val prices = state.filter(col("obj").isNotNull).select("obj", "price")
      // net value of every candidate of every active person, plus the
      // virtual null candidate (net 0) that keeps matching optional
      val nets = lifted
        .join(active, Seq("person"), "left_semi")
        .join(prices, Seq("obj"))
        .select(col("person"), col("obj"), (col("w") - col("price")).as("net"))
        .unionByName(active.select(col("person"), lit(null).cast(objType).as("obj"), lit(0.0).as("net")))
      // top-2 nets per person, deterministic (net desc, null last, obj asc)
      val ranked = nets
        .withColumn(
          "rk",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("person")
              .orderBy(col("net").desc, col("obj").asc_nulls_last)))
        .filter(col("rk") <= 2)
      // pinned: read by both the bids and the finalized rows below
      val top = pins.pin(ranked.groupBy("person").agg(
        max(when(col("rk") === 1, struct(col("net"), col("obj")))).as("first"),
        max(when(col("rk") === 2, col("net"))).as("second")))
      // best = null object → the person finalizes unmatched (prices only
      // rise, so its real nets can only fall below 0 further)
      val bids = top
        .filter(col("first.obj").isNotNull)
        .select(
          col("person"),
          col("first.obj").as("obj"),
          (col("first.net") - coalesce(col("second"), lit(0.0)) + eps).as("incr"))
        .join(prices, Seq("obj"))
        .select(col("obj"), col("person"), (col("price") + col("incr")).as("bid"))
      // each object takes the highest bid (tie → smaller person id); its
      // displaced holder drops out of the state and is active again
      val winners = bids
        .groupBy("obj")
        .agg(max(struct(col("bid").as("bid"), (-col("person")).as("np"))).as("wb"))
        .select(col("obj"), (-col("wb.np")).as("wperson"), col("wb.bid").as("wprice"))
      val objects = state.filter(col("obj").isNotNull)
        .join(winners, Seq("obj"), "left")
        .select(
          col("obj"),
          coalesce(col("wprice"), col("price")).as("price"),
          coalesce(col("wperson"), col("person")).as("person"))
      val finalized = top
        .filter(col("first.obj").isNull)
        .select(lit(null).cast(objType).as("obj"), lit(null).cast("double").as("price"), col("person"))
      Step(
        objects.unionByName(state.filter(col("obj").isNull)).unionByName(finalized),
        Check { m =>
          pins.release(top)
          val active = nPersons - m.filter(col("person").isNotNull).count()
          (active == 0, Map("active" -> active.toDouble))
        })
    }.state)
    // report the ORIGINAL weights (the cardinality lift is internal)
    Pin.pin(
      state
        .join(base, Seq("person", "obj"))
        .select(col("person").as("src"), col("obj").as("dst"), col("w").as("weight")))
  }
}
