package graft.algos

import graft.bsp.Pin
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
    val basePairs = weightedPairs(g, cfg)
    // state: one row per REMAINING edge (a, b, w); matched edges are
    // emitted into `matched` and their endpoints' edges dropped
    var remaining = pins.pin(basePairs)
    var matched = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      remaining.schema)
    var rounds = 0
    var done = remaining.isEmpty
    while (!done && rounds < cfg.maxRounds) {
      rounds += 1
      // best incident edge per node: max (w, then smaller partner id)
      val incident = remaining
        .select(col("a").as("id"), col("b").as("partner"), col("w"))
        .unionByName(remaining.select(col("b").as("id"), col("a").as("partner"), col("w")))
      val pick = incident
        .groupBy("id")
        .agg(max(struct(col("w").as("w"), (-col("partner")).as("np"))).as("best"))
        .select(col("id"), (-col("best.np")).as("pick"))
      // mutual picks → matched (count each pair once from its a side)
      val newMatches = remaining
        .join(pick.select(col("id").as("a"), col("pick").as("apick")), Seq("a"))
        .join(pick.select(col("id").as("b"), col("pick").as("bpick")), Seq("b"))
        .filter(col("apick") === col("b") && col("bpick") === col("a"))
        .select(col("a"), col("b"), col("w"))
      val nm = pins.pin(newMatches)
      if (nm.isEmpty) done = true
      else {
        matched = pins.replace(matched, Pin.pin(matched.unionByName(nm)))
        val taken = nm.select(col("a").as("id")).unionByName(nm.select(col("b").as("id")))
        remaining = pins.replace(remaining, Pin.pin(
          remaining
            .join(taken.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
            .join(taken.withColumnRenamed("id", "b"), Seq("b"), "left_anti")))
        done = remaining.isEmpty
      }
      pins.release(nm)
    }
    // report the ORIGINAL weights (the cardinality lift is internal)
    Pin.pin(
      matched.select("a", "b")
        .join(basePairs, Seq("a", "b"))
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
    val nPersons = lifted.select("person").distinct().count()
    val eps = 1.0 / (nPersons + 1.0)

    // prices per object; assignment (obj → person); unassigned person set
    var prices = pins.pin(lifted.select(col("obj")).distinct().withColumn("price", lit(0.0)))
    var assigned = pins.pin(
      prices.select(col("obj"), lit(null).cast(lifted.schema("person").dataType).as("person"))
        .limit(0))
    var active = pins.pin(lifted.select("person").distinct()) // unassigned, not finalized
    var rounds = 0
    while (!active.isEmpty && rounds < cfg.maxRounds) {
      rounds += 1
      // net value of every candidate of every active person, plus the
      // virtual null candidate (net 0) that keeps matching optional
      val nets = lifted
        .join(active, Seq("person"), "left_semi")
        .join(prices, Seq("obj"))
        .select(col("person"), col("obj"), (col("w") - col("price")).as("net"))
        .unionByName(active.select(col("person"), lit(null).cast(lifted.schema("obj").dataType).as("obj"), lit(0.0).as("net")))
      // top-2 nets per person, deterministic (net desc, null last, obj asc)
      val ranked = nets
        .withColumn(
          "rk",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("person")
              .orderBy(col("net").desc, col("obj").asc_nulls_last)))
        .filter(col("rk") <= 2)
      val top = ranked.groupBy("person").agg(
        max(when(col("rk") === 1, struct(col("net"), col("obj")))).as("first"),
        max(when(col("rk") === 2, col("net"))).as("second"))
      // best = null object → the person finalizes unmatched (prices only
      // rise, so its real nets can only fall below 0 further)
      val bidders = top
        .filter(col("first.obj").isNotNull)
        .select(
          col("person"),
          col("first.obj").as("obj"),
          (col("first.net") - coalesce(col("second"), lit(0.0)) + eps).as("incr"))
      val bids = bidders
        .join(prices, Seq("obj"))
        .select(col("obj"), col("person"), (col("price") + col("incr")).as("bid"))
      // each object takes the highest bid (tie → smaller person id)
      val winners = pins.pin(
        bids
          .groupBy("obj")
          .agg(max(struct(col("bid").as("bid"), (-col("person")).as("np"))).as("wb"))
          .select(col("obj"), (-col("wb.np")).as("person"), col("wb.bid").as("price")))
      // displaced holders become active again; winners leave the pool;
      // finalized-unmatched persons (picked null) leave permanently. The
      // new active set reads the old prices and assignment (via bidders
      // and displaced), so it is pinned before either is replaced.
      val displaced = assigned
        .join(winners.select("obj"), Seq("obj"), "left_semi")
        .select("person")
      active = pins.replace(active, Pin.pin(
        active
          .join(bidders.select("person"), Seq("person"), "left_semi") // drop null-pickers
          .join(winners.select("person"), Seq("person"), "left_anti") // drop new holders
          .unionByName(displaced)
          .distinct()))
      assigned = pins.replace(assigned, Pin.pin(
        assigned
          .join(winners.select("obj"), Seq("obj"), "left_anti")
          .unionByName(winners.select(col("obj"), col("person")))))
      prices = pins.replace(prices, Pin.pin(
        prices
          .join(winners.select("obj"), Seq("obj"), "left_anti")
          .unionByName(winners.select(col("obj"), col("price")))))
      pins.release(winners)
    }
    // report the ORIGINAL weights (the cardinality lift is internal)
    Pin.pin(
      assigned
        .join(base, Seq("person", "obj"))
        .select(col("person").as("src"), col("obj").as("dst"), col("w").as("weight")))
  }
}
