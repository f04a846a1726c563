package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Check, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * HITS (hubs & authorities) with the reference's semantics
 * (raphtory/src/algorithms/centrality/hits.rs:53-158):
 *
 *  - init hub = auth = 1;
 *  - per superstep: recv_hub(v) = Σ hub(u) over u → v (distinct
 *    in-neighbours); recv_auth(v) = Σ auth(w) over v → w *received from* the
 *    out side (i.e. along reversed edges);
 *  - normalize by the global totals of the received sums:
 *    auth' = recv_hub / Σ recv_hub, hub' = recv_auth / Σ recv_auth;
 *  - stop when max |Δhub| ≤ 0.01 and max |Δauth| ≤ 0.01, or iteration cap.
 *
 * Per superstep ONE fused message pass joins a PERSISTED, hub-salted
 * SIGNED both-direction CSR ([[TemporalGraph.adjacencySigned]]: entries
 * carry (nbr, out)) against the state and explodes once — an out entry
 * ships the sender's hub (recv_hub at the neighbour), an in entry ships
 * the sender's auth (recv_auth at the neighbour) — so the superstep pays
 * ONE state exchange + ONE groupBy exchange where the r3 two-pass shape
 * (out-CSR hub pass + in-CSR auth pass) paid two of each. The static
 * adjacency stays hash-partitioned on its join key across supersteps, so
 * only the narrow state frame is ever re-exchanged. Diffs + normalization
 * totals are folded into in-plan aggregates.
 */
object Hits {

  final case class Config(
      maxIter: Int = 20,
      tol: Double = 0.01,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10,
      maxShard: Int = graft.graph.TemporalGraph.DefaultMaxShard)

  /** @return (id, hub_score, auth_score). */
  def run(spark: SparkSession, g: TemporalGraph, cfg: Config = Config()): DataFrame =
    runWithMetrics(spark, g, cfg)._1

  /** As [[run]], also returning per-superstep metrics (incl. `wallMs`).
    *
    * The state carries the RAW received sums; the total-normalization
    * division (reference step3) is applied LAZILY — at the start of the
    * NEXT superstep (and once on the final state) — so the totals are a
    * one-row broadcast aggregate over the already-CACHED state instead of
    * over the uncached message join. The r5 shape aggregated the totals
    * over the join output inside the same plan, which executed the signed-
    * CSR join + message aggregation twice per superstep. Same float ops in
    * the same order — scores are value-identical (sums aggregate the same
    * doubles; each division happens once per node per iteration either
    * way). Step 1's input scores are the literal 1.0 init, so the lazy
    * form needs no raw-state encoding of the all-ones start. */
  def runWithMetrics(
      spark: SparkSession,
      g: TemporalGraph,
      cfg: Config = Config()): (DataFrame, List[Map[String, Double]]) = Pin.scope { pins =>
    val adj = pins.persist(g.adjacencySigned(cfg.maxShard))
    val init = g.nodes.select(
      col("id"), lit(1.0).as("recv_hub"), lit(1.0).as("recv_auth"))

    def totalsOver(state: DataFrame) = broadcast(
      state.agg(
        coalesce(sum("recv_hub"), lit(0.0)).as("total_hub"),
        coalesce(sum("recv_auth"), lit(0.0)).as("total_auth")))
    // hub' = recv_auth / Σ recv_auth, auth' = recv_hub / Σ recv_hub
    val normHub =
      col("recv_auth") / when(col("total_auth") === 0.0, 1.0).otherwise(col("total_auth"))
    val normAuth =
      col("recv_hub") / when(col("total_hub") === 0.0, 1.0).otherwise(col("total_hub"))
    // previous step's normalized (hub, auth) from the cached raw state;
    // step 1 reads the all-ones init directly (nothing to normalize)
    def scoresOf(state: DataFrame, step: Int): DataFrame =
      if (step <= 1) state.select(col("id"), lit(1.0).as("hub"), lit(1.0).as("auth"))
      else
        state
          .crossJoin(totalsOver(state))
          .select(col("id"), normHub.as("hub"), normAuth.as("auth"))

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(cfg.maxIter, cfg.checkpointDir, cfg.checkpointEvery, runId = "hits")) {
      (state, step) =>
        val scores = scoresOf(state, step)
        val next = scores
          .select(col("id"), col("hub").as("prev_hub"), col("auth").as("prev_auth"))
          .join(received(adj, scores), Seq("id"), "left")
          .select(
            col("id"),
            coalesce(col("recv_hub"), lit(0.0)).as("recv_hub"),
            coalesce(col("recv_auth"), lit(0.0)).as("recv_auth"),
            col("prev_hub"),
            col("prev_auth"))

        Step(
          next,
          Check { m =>
            if (cfg.tol <= 0.0) (false, Map.empty) // forced-iteration mode
            else {
              // tiny aggregates over the cached materialized state
              val t = m.agg(
                coalesce(sum("recv_hub"), lit(0.0)),
                coalesce(sum("recv_auth"), lit(0.0))).first()
              val gh = if (t.getDouble(0) == 0.0) 1.0 else t.getDouble(0)
              val ga = if (t.getDouble(1) == 0.0) 1.0 else t.getDouble(1)
              val r = m.agg(
                max(abs(col("recv_auth") / ga - col("prev_hub"))),
                max(abs(col("recv_hub") / gh - col("prev_auth")))).first()
              val mh = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
              val ma = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
              (mh <= cfg.tol && ma <= cfg.tol, Map("max_dh" -> mh, "max_da" -> ma))
            }
          })
    }
    val finalScores =
      if (result.steps == 0) // never stepped: the all-ones init IS the score
        result.state.select(col("id"), lit(1.0).as("hub"), lit(1.0).as("auth"))
      else scoresOf(result.state, result.steps + 1)
    // the normalized scores read the state twice (row + totals): pin them
    // once so the caller owns exactly one frame; the scope frees the state
    pins.own(result.state)
    val out = pins.keep(pins.pin(finalScores.select(
      col("id"), col("hub").as("hub_score"), col("auth").as("auth_score"))))
    (out, result.metrics)
  }

  /** The fused message pass over the signed CSR `(node, salt, nbrs:
    * array<struct<nbr, out>>, deg)`: for edge u→v the (v, out=1) entry on
    * u ships hub(u) to v (recv_hub), the (u, out=0) entry on v ships
    * auth(v) to u (recv_auth) — one explode, map-side partial agg, ONE
    * exchange; `(id, recv_hub, recv_auth)`. */
  private[graft] def received(adj: DataFrame, scores: DataFrame): DataFrame =
    adj
      .join(scores, adj("node") === col("id"))
      .select(explode(col("nbrs")).as("m"), col("hub"), col("auth"))
      .select(
        col("m.nbr").as("id"),
        when(col("m.out") === 1, col("hub")).as("hub_msg"),
        when(col("m.out") === 0, col("auth")).as("auth_msg"))
      .groupBy("id")
      .agg(sum("hub_msg").as("recv_hub"), sum("auth_msg").as("recv_auth"))
}
