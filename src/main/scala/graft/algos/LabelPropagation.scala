package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{NoRows, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Synchronous label propagation with the reference's exact semantics
 * (raphtory/src/algorithms/community_detection/label_propagation.rs:40-112):
 *
 *  - initial label = the node's own id (the reference uses the VID; labels
 *    only serve as community identities, compared as partitions —
 *    SURVEY §7.5);
 *  - each superstep, a node tallies the *previous* superstep's labels of its
 *    distinct undirected neighbours plus its own previous label with
 *    weight 1 (label_propagation.rs:60-71) — synchronous, double-buffered;
 *  - new label = argmax count, ties broken towards the *larger* label
 *    (`max_by(count).then(label)`, label_propagation.rs:73-79);
 *  - stop at zero changes or the iteration cap (the reference takes the cap
 *    as a required parameter; synchronous LPA can 2-cycle, so the cap is
 *    load-bearing).
 *
 * Spark plan per superstep: the persisted, hub-salted BOTH-direction CSR
 * ([[TemporalGraph.adjacencyBoth]], hash-partitioned on node across
 * supersteps) joins the state on its partitioning key — the big, static
 * adjacency side is never re-exchanged; only the narrow state shuffles —
 * and each node's label fans out to its neighbours via `explode`. Then
 * votes + own-vote union → `groupBy(node, label).count` (partial agg
 * absorbs hub skew) → `groupBy(node).agg(max(struct(votes, label)))` picks
 * the winner — the (count desc, label desc) tie-break as a single hash
 * aggregate, one exchange fewer than a row_number window.
 */
object LabelPropagation {

  final case class Config(
      maxIter: Int = 20,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      maxShard: Int = graft.graph.TemporalGraph.DefaultMaxShard)

  /** @return (id, label); communities are the label-partition classes. */
  def run(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): DataFrame =
    runWithMetrics(spark, g, cfg)._1

  /** As [[run]], also returning per-superstep metrics (incl. `wallMs`). */
  def runWithMetrics(
      spark: SparkSession,
      g: TemporalGraph,
      cfg: Config = Config()): (DataFrame, List[Map[String, Double]]) = Pin.scope { pins =>
    val adj = pins.persist(g.adjacencyBoth(cfg.maxShard))
    val init = g.nodes.select(col("id"), col("id").as("label"))

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(
        maxSteps = cfg.maxIter,
        checkpointDir = cfg.checkpointDir,
        checkpointEvery = cfg.checkpointEvery,
        runId = "lpa")) { (state, _) =>
      // winner = argmax (votes, then label) — max(struct) keeps the winner
      // selection inside the SAME (id)-hash aggregate instead of paying a
      // second exchange for a row_number window (the tally shuffle is on
      // (id, label); the max-struct agg partially aggregates map-side and
      // shuffles once on id).
      val winner = tally(adj, state)
        .groupBy("id")
        .agg(max(struct(col("votes"), col("label"))).as("w"))
        .select(col("id"), col("w.label").as("new_label"))

      val next = state
        .join(winner, Seq("id"), "left")
        .select(
          col("id"),
          coalesce(col("new_label"), col("label")).as("label"),
          (coalesce(col("new_label"), col("label")) =!= col("label")).as("changed"))

      Step(next.select("id", "label", "changed"), NoRows(col("changed"), "changes"))
    }
    (result.state.select("id", "label"), result.metrics)
  }

  /** The message pass over the both-CSR `(node, salt, nbrs, deg)`: the
    * `(id, label, votes)` tally of each node's neighbour votes plus its own. */
  private[graft] def tally(adj: DataFrame, state: DataFrame): DataFrame = {
    // each node's PREVIOUS label is sent to all its distinct neighbours
    // (symmetric adjacency ⇒ identical to "each node collects its
    // neighbours' labels", but the static CSR side joins on its own
    // partitioning key)
    val nbrVotes = adj
      .join(state.select(col("id"), col("label")), adj("node") === col("id"))
      .select(explode(col("nbrs")).as("id"), col("label"))
    val ownVotes = state.select(col("id"), col("label"))
    nbrVotes
      .union(ownVotes)
      .groupBy("id", "label")
      .agg(count(lit(1)).as("votes"))
  }
}
