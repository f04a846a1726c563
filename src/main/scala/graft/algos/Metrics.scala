package graft.algos

import graft.bsp.Pin
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Direct (non-iterative) graph metrics, matching the reference's semantics:
 * all degree-like quantities count *distinct* neighbours, self-loops are
 * excluded where the reference excludes them.
 */
object Metrics {

  /** max/min/avg of in/out/both distinct-neighbour degree
    * (reference algorithms/metrics/degree.rs:50-94). One row. */
  def degreeStats(g: TemporalGraph): DataFrame =
    g.degrees.agg(
      max("out_deg").as("max_out_degree"),
      min("out_deg").as("min_out_degree"),
      round(avg("out_deg"), 6).as("avg_out_degree"),
      max("in_deg").as("max_in_degree"),
      min("in_deg").as("min_in_degree"),
      round(avg("in_deg"), 6).as("avg_in_degree"),
      max("deg").as("max_degree"),
      min("deg").as("min_degree"),
      round(avg("deg"), 6).as("avg_degree"))

  /** Degree centrality: BOTH-degree / max BOTH-degree
    * (reference algorithms/centrality/degree_centrality.rs:34). */
  def degreeCentrality(g: TemporalGraph): DataFrame = {
    val deg = g.degrees.select(col("id"), col("deg"))
    val mx = deg.agg(max("deg")).first().getLong(0).toDouble
    deg.select(col("id"), round(col("deg") / mx, 6).as("centrality"))
  }

  /** Per-node local reciprocity 2·|out∩in| / (|out|+|in|), self-loops
    * excluded (reference metrics/reciprocity.rs:119). */
  def localReciprocity(g: TemporalGraph): DataFrame = {
    val e = g.simpleEdges.filter(col("src") =!= col("dst"))
    val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("n_out"))
    val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("n_in"))
    val recip = e
      .intersect(e.select(col("dst").as("src"), col("src").as("dst")))
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("n_recip"))
    out
      .join(in, Seq("id"), "full")
      .join(recip, Seq("id"), "left")
      .select(
        col("id"),
        round(
          lit(2.0) * coalesce(col("n_recip"), lit(0L)) /
            (coalesce(col("n_out"), lit(0L)) + coalesce(col("n_in"), lit(0L))),
          6).as("reciprocity"))
  }

  /** Global reciprocity |reciprocated edges| / |edges|, self-loops excluded
    * (reference metrics/reciprocity.rs:97). */
  def globalReciprocity(g: TemporalGraph): Double = Pin.scope { pins =>
    val e = pins.persist(g.simpleEdges.filter(col("src") =!= col("dst")))
    val inter = e.intersect(e.select(col("dst").as("src"), col("src").as("dst"))).count()
    val total = e.count()
    if (total == 0) 0.0 else inter.toDouble / total
  }

  /** Triplet count: Σ C(deg(v), 2) over distinct non-self neighbours
    * (reference algorithms/motifs/triplet_count.rs:83). */
  def tripletCount(g: TemporalGraph): Long = {
    val deg = g.undirectedPairs
      .filter(col("node") =!= col("nbr"))
      .groupBy("node")
      .agg(count(lit(1)).as("d"))
    // integer `div` keeps exactness for hub degrees past 2^26 (double
    // division would lose ulps once d² exceeds 2^53)
    val r = deg.agg(sum(expr("d * (d - 1) div 2"))).first()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Global clustering coefficient = 3·triangles / triplets
    * (reference metrics/clustering_coefficient/global_clustering_coefficient.rs:38). */
  def globalClusteringCoefficient(spark: SparkSession, g: TemporalGraph): Double = {
    val triplets = tripletCount(g)
    if (triplets == 0) 0.0
    else 3.0 * Triangles.globalCount(spark, g) / triplets
  }

  /** Local clustering coefficient per node: 2·tri(v) / (d·(d−1)) over
    * distinct non-self neighbours
    * (reference .../local_clustering_coefficient.rs:66, batch variant :68).
    * Pinned once; the caller owns the frame and frees it with [[Pin.release]]. */
  def localClusteringCoefficient(spark: SparkSession, g: TemporalGraph): DataFrame = Pin.scope { pins =>
    val deg = g.undirectedPairs
      .filter(col("node") =!= col("nbr"))
      .groupBy(col("node").as("id"))
      .agg(count(lit(1)).as("d"))
    val tri = pins.own(Triangles.localCounts(spark, g))
    pins.keep(pins.pin(deg
      .join(tri, Seq("id"), "left")
      .select(
        col("id"),
        when(col("d") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) / (col("d") * (col("d") - 1)), 6))
          .otherwise(lit(0.0))
          .as("lcc"))))
  }

  /** Directed graph density E / (N·(N−1))
    * (reference metrics/directed_graph_density.rs:46). */
  def directedDensity(g: TemporalGraph): Double = {
    val n = g.countNodes().toDouble
    if (n <= 1) 0.0 else g.countEdges() / (n * (n - 1))
  }

  /**
   * Net weight per node over *all temporal edge events* (not deduped):
   * incoming events positive, outgoing negative (direction="both"), or the
   * one-sided sums (reference metrics/balance.rs:94, balance_per_node).
   * `weightCol` must be a numeric column on the edge-events table.
   */
  def balance(g: TemporalGraph, weightCol: String, direction: String = "both"): DataFrame = {
    val e = g.edges
    val w = coalesce(col(weightCol).cast("double"), lit(1.0))
    val inSum = e.groupBy(col("dst").as("id")).agg(sum(w).as("in_w"))
    val outSum = e.groupBy(col("src").as("id")).agg(sum(w).as("out_w"))
    val joined = inSum.join(outSum, Seq("id"), "full")
    val value = direction match {
      case "in"  => coalesce(col("in_w"), lit(0.0))
      case "out" => -coalesce(col("out_w"), lit(0.0))
      case _     => coalesce(col("in_w"), lit(0.0)) - coalesce(col("out_w"), lit(0.0))
    }
    joined.select(col("id"), round(value, 6).as("balance"))
  }

  /**
   * Directed degree assortativity (Newman 2002/2003): the Pearson
   * correlation, over distinct directed edges (self-loops excluded),
   * between a degree of the source and a degree of the target —
   * `(xMode, yMode) = ("out", "in")` is the classic out–in assortativity.
   * Positive r: high-fan-out pages link to high-fan-in pages (hub→authority
   * mixing); negative: disassortative (the common web-graph case).
   *
   * Exactness/portability: all five moment sums are exact integer sums in
   * decimal(38,0) (long·long degree products would overflow ANSI longs on
   * hub-heavy graphs; decimal keeps them exact to 38 digits), cast to
   * double ONCE for the final closed-form division — the identical
   * round-to-nearest both engines apply to an exact integer — so the
   * DuckDB oracle hash-matches at full precision. One aggregation over the
   * edge-degree join; both degree joins are on the edge table's own keys.
   *
   * @return one row: (n_edges, assortativity ROUND 6)
   */
  def degreeAssortativity(
      g: TemporalGraph,
      xMode: String = "out",
      yMode: String = "in"): DataFrame = {
    def degOf(mode: String, keyCol: String, alias: String): DataFrame = {
      val e = g.simpleEdges.filter(col("src") =!= col("dst"))
      val grouped = mode match {
        case "out" => e.groupBy(col("src").as(keyCol))
        case "in"  => e.groupBy(col("dst").as(keyCol))
        case other => throw new IllegalArgumentException(s"degree mode: $other")
      }
      grouped.agg(count(lit(1)).as(alias))
    }
    val e = g.simpleEdges.filter(col("src") =!= col("dst"))
    val dec = "decimal(38,0)"
    val xy = e
      .join(degOf(xMode, "src", "xd"), Seq("src"))
      .join(degOf(yMode, "dst", "yd"), Seq("dst"))
      .select(col("xd").cast(dec).as("x"), col("yd").cast(dec).as("y"))
    xy.agg(
        count(lit(1)).as("n_edges"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(
        col("n_edges"),
        round(
          (col("n_edges").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt(
              (col("n_edges").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
                (col("n_edges").cast("double") * col("syy").cast("double") -
                  col("sy").cast("double") * col("sy").cast("double"))),
          6).as("assortativity"))
  }

  /** Alternating boolean mask by node iteration order (the reference's
    * test-only mock, algorithms/alternating_mask.rs:22: `i % 2 != 0` over
    * node enumeration). The reference's order is VID insertion order; the
    * deterministic analog here is ascending node id. A global row_number
    * forces a total order — fine for a diagnostic mock, not a pattern for
    * real operators. */
  def alternatingMask(g: TemporalGraph): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
    g.nodes.select(
      col("id"),
      (row_number().over(w) % 2 === 0).as("bool_col"))
  }

  /**
   * Per-community conductance φ(S) = cut(S) / min(vol(S), 2m − vol(S)) —
   * THE standard community-quality score to evaluate a
   * [[Louvain]]/[[LabelPropagation]] partition (Kannan–Vempala–Vetta
   * 2004; complements [[Louvain.modularity]]). Over the canonical
   * undirected simple graph: cut(S) = edges with exactly one endpoint in
   * S, vol(S) = Σ_{v∈S} deg(v), m = |undirected edges|; φ = 0 for an
   * isolated community, and communities whose volume is 0 report 0.
   *
   * `labels` may cover only PART of the node set: an edge whose other
   * endpoint is unlabeled is outside S by definition, so it counts as cut
   * for the labeled endpoint's community (left joins — an inner join
   * would silently drop such edges from cut while volume still counted
   * the labeled endpoint's full degree, understating φ).
   *
   * Plan: the canonical edge set left-joins the label frame twice
   * (broadcast when small, hash otherwise — Catalyst's call) and
   * partial-aggregates per label — two |E|-keyed exchanges and one
   * |labels| aggregation, nothing quadratic; 2m rides along as a one-row
   * broadcast.
   *
   * @param labels (id, label) — any partition assignment, partial allowed
   * @return (label, n_nodes, volume, cut_edges, conductance ROUND 6)
   */
  def conductance(g: TemporalGraph, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("label"))
    val e = g.canonicalUndirected
    val el = e
      .join(lab.select(col("id").as("a"), col("label").as("la")), Seq("a"), "left")
      .join(lab.select(col("id").as("b"), col("label").as("lb")), Seq("b"), "left")
    // each cut edge counts toward BOTH endpoint communities (when labeled);
    // null-safe inequality: a null (unlabeled) endpoint is never in S
    val cut = el
      .filter(!(col("la") <=> col("lb")))
      .select(explode(array(col("la"), col("lb"))).as("label"))
      .filter(col("label").isNotNull)
      .groupBy("label")
      .agg(count(lit(1)).as("cut_edges"))
    val deg = g.undirectedPairs
      .filter(col("node") =!= col("nbr"))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val vol = lab
      .join(deg, lab("id") === deg("node"), "left")
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("volume"))
    val totalDeg = broadcast(deg.agg(coalesce(sum("deg"), lit(0L)).as("m2")))
    val denom = least(col("volume"), col("m2") - col("volume"))
    vol
      .join(cut, Seq("label"), "left")
      .crossJoin(totalDeg)
      .select(
        col("label"),
        col("n_nodes"),
        col("volume"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        round(
          when(denom > 0L,
            coalesce(col("cut_edges"), lit(0L)).cast("double") / denom.cast("double"))
            .otherwise(lit(0.0)),
          6).as("conductance"))
  }
}
