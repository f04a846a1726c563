package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{RunConfig, Stable, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Weakly connected components via alternating **large-star / small-star**
 * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
 * — the standard shared-nothing CC algorithm, converging in O(log² n)
 * rounds regardless of diameter.
 *
 * Why not plain min-label propagation: the transcript link graph is made of
 * per-conversation reply *chains*; with randomly-hashed node ids a
 * min-label wavefront advances one hop per superstep, so a 100k-turn
 * conversation would need 100k supersteps. Star contraction collapses
 * chains in logarithmically many rounds (measured: a 1200-turn path
 * converges in ~10 rounds vs 1200).
 *
 * Semantics match the reference's union–find result
 * (raphtory/src/algorithms/components/connected_components.rs:36-73): final
 * label = minimum node id of the component (the reference's min-VID,
 * SURVEY §7.5 normalization).
 *
 * State per round is the evolving parent-edge list `(a, b)`; each round is
 * two groupBy+join passes (large-star, then small-star). Convergence =
 * (count, xor-checksum) of the canonical edge set unchanged across a round
 * (64-bit checksum equality; collision probability ~2⁻⁶⁴ per run).
 */
object ConnectedComponents {

  final case class Config(
      maxIter: Int = 50,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5)

  def run(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): DataFrame =
    runWithMetrics(spark, g, cfg)._1

  /** As [[run]], also returning the per-superstep metrics (incl. `wallMs`)
    * so benches can report burst-robust medians (BENCH.md r3 note). */
  def runWithMetrics(
      spark: SparkSession,
      g: TemporalGraph,
      cfg: Config = Config()): (DataFrame, List[Map[String, Double]]) = Pin.scope { pins =>
    val init = g.canonicalUndirected.select(col("a"), col("b")) // a < b, no self-loops

    // Both stars compute "min neighbour per center, attached back to every
    // row" — the r5 shape paid a groupBy exchange PLUS a join-back exchange
    // for that (and a distinct after EACH star). A min-over-window on the
    // center key is the same rows after ONE exchange, and a single round
    // output needs a single dedup: largeStar's intra-round distinct is
    // dropped (duplicate (a, b) pairs cannot change smallStar's per-center
    // minima, and smallStar's final distinct restores the set) — per round
    // 3 exchanges instead of ~6, identical round-output SET, so the
    // (count, xor) convergence signature and the final labels are unchanged.
    import org.apache.spark.sql.expressions.Window
    val wCtr = Window.partitionBy("ctr")

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("a").as("ctr"), col("b").as("nbr"))
        .union(e.select(col("b").as("ctr"), col("a").as("nbr")))
      nbrs
        .withColumn("m", least(col("ctr"), min(col("nbr")).over(wCtr)))
        .filter(col("nbr") > col("ctr"))
        .select(col("nbr").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("a"), col("b")).as("ctr"), least(col("a"), col("b")).as("nbr"))
        .filter(col("ctr") =!= col("nbr"))
      oriented
        .withColumn("m", min(col("nbr")).over(wCtr))
        // each row re-points its nbr AND its ctr at the center's minimum
        // (the ctr→m rows duplicate across a center's rows; the round's
        // one distinct absorbs them — same set as the r5 union of the
        // join-back rows with the per-center mins frame)
        .select(explode(array(
          struct(col("nbr").as("a"), col("m").as("b")),
          struct(col("ctr").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(
        maxSteps = cfg.maxIter,
        checkpointDir = cfg.checkpointDir,
        checkpointEvery = cfg.checkpointEvery,
        runId = "wcc")) { (state, _) =>
      val h = xxhash64(least(col("a"), col("b")), greatest(col("a"), col("b")))
      Step(smallStar(largeStar(state)), Stable("edges", Seq(count(lit(1)), bit_xor(h))))
    }

    // At convergence every component is a star centered at its minimum id:
    // each non-center node has exactly one edge (node, center).
    val stars = result.state
      .select(greatest(col("a"), col("b")).as("id"), least(col("a"), col("b")).as("label"))
      .groupBy("id")
      .agg(min("label").as("label"))
    val labels = g.nodes
      .join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    // pin the labels once so the caller owns exactly one frame; the scope
    // frees the state they were read from
    pins.own(result.state)
    (pins.keep(pins.pin(labels)), result.metrics)
  }
}
