package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Check, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * k-truss decomposition (Cohen 2008) — the triangle-based cohesion
 * subgraph that complements [[KCore]]: the k-truss is the maximal subgraph
 * in which every edge participates in at least k−2 triangles.
 *
 * INCREMENTAL peel: support (per-edge triangle count) is computed in full
 * ONCE, then each round drops edges below k−2 and recounts ONLY the
 * surviving edges incident to a removed edge's endpoints. Support is
 * monotone under deletion and an edge (x, y) can lose a triangle (x, y, c)
 * only if (x, c) or (y, c) was removed — i.e. only if x or y is a removed
 * edge's endpoint — so unaffected supports carry over unchanged and the
 * per-round EXCHANGE volume tracks the removal neighbourhood, not |E|
 * (the full-recount MapReduce shape rebuilds every neighbour array every
 * round; on long peel cascades that is rounds × |E|). Each round still
 * SCANS the persisted state once to split removed/survivor — a cheap
 * columnar filter, no shuffle.
 *
 * Per round: the removed frame (usually tiny) semi-joins survivors to the
 * affected edge set; neighbour arrays are rebuilt ONLY for affected
 * endpoints (one groupBy over their incident survivor edges); affected
 * supports are `size(array_intersect)` — the same fused-array intersection
 * as [[Triangles]]/[[graft.ml.GraphLearn.linkFeatures]] — and everything
 * else keeps its support. No wedge explode: a hub's array is one row
 * bounded by its degree (the linkFeatures caveat: a degree-10⁸ hub makes a
 * wide row — k-truss peeling on such graphs usually runs AFTER a k-core
 * cut, which [[KCore]] provides).
 *
 * A converged truss is a fixpoint of recount+filter, so the DuckDB oracle
 * replays a PINNED number of FULL-recount rounds ≥ the Spark run's
 * convergence round (extra SQL rounds are no-ops — the k-core oracle
 * precedent); the incremental recount provably equals the full recount on
 * surviving edges, so the pinned-round oracle is unchanged.
 *
 * Per-round metrics expose `removed` and `affected` so a bench leg can
 * show per-round cost tracking the removal volume.
 *
 * @return (a, b, support): the canonical k-truss edges with their final
 *         within-truss triangle support
 */
object Truss {

  def run(
      spark: SparkSession,
      g: TemporalGraph,
      k: Int,
      maxRounds: Int = 64): DataFrame =
    runWithMetrics(spark, g, k, maxRounds)._1

  /** As [[run]], also returning every peel round's metrics (`wallMs`,
    * `removed`, `affected`, `edges`) — the evidence that per-round cost
    * tracks the removal neighbourhood rather than |E|. Each round's
    * `removed`/`aff` frames are persisted through the run's scope: the
    * `Check` rule frees them once the next state is pinned, a throw frees
    * them with the scope. */
  def runWithMetrics(
      spark: SparkSession,
      g: TemporalGraph,
      k: Int,
      maxRounds: Int = 64): (DataFrame, List[Map[String, Double]]) = Pin.scope { pins =>
    require(k >= 2, s"k=$k must be >= 2")
    val thresh = (k - 2).toLong
    val init = supported(g.canonicalUndirected) // (a, b, support)

    val res = SuperstepRunner.run(
      spark, init, RunConfig(maxSteps = maxRounds, runId = s"truss-$k")) { (state, _) =>
      val removed = pins.persist(state.filter(col("support") < thresh))
      val nRemoved = removed.count()
      if (nRemoved == 0L) {
        pins.release(removed)
        Step(
          state.select("a", "b", "support"),
          Check(st => (true, Map("removed" -> 0.0, "affected" -> 0.0, "edges" -> st.count().toDouble))))
      } else {
        val surv = state.filter(col("support") >= thresh)
        val touched = removed.select(col("a").as("node"))
          .union(removed.select(col("b").as("node")))
          .distinct()
        // survivors incident to a removed edge's endpoint — the only edges
        // whose support can have changed
        val aff = pins.persist(surv
          .join(touched.select(col("node").as("a")), Seq("a"), "left_semi")
          .select("a", "b")
          .unionByName(
            surv.join(touched.select(col("node").as("b")), Seq("b"), "left_semi")
              .select("a", "b"))
          .distinct())
        val nAffected = aff.count()
        // survivor neighbour arrays ONLY for affected endpoints
        val affNodes = aff.select(col("a").as("node"))
          .union(aff.select(col("b").as("node")))
          .distinct()
        val recounted = support(aff, neighbourLists(surv, Some(affNodes)))
        val unaffected = surv.join(aff, Seq("a", "b"), "left_anti")
        val next = unaffected.select("a", "b", "support").unionByName(recounted)
        Step(
          next,
          Check { st =>
            pins.release(removed, aff)
            val c = st.count()
            (false, Map(
              "removed" -> nRemoved.toDouble,
              "affected" -> nAffected.toDouble,
              "edges" -> c.toDouble))
          })
      }
    }
    (res.state.select("a", "b", "support"), res.metrics)
  }

  /** Full per-edge triangle support of a canonical undirected edge set —
    * run once to seed the peel (and reusable as a standalone metric). */
  def supported(state: DataFrame): DataFrame = support(state, neighbourLists(state))

  /** Sorted neighbour arrays `(node, ns)` of canonical edges `(a, b)`,
    * limited to the `only` nodes when given. */
  private def neighbourLists(edges: DataFrame, only: Option[DataFrame] = None): DataFrame = {
    val und = edges.select(col("a").as("node"), col("b").as("nbr"))
      .union(edges.select(col("b").as("node"), col("a").as("nbr")))
    only.fold(und)(nodes => und.join(nodes, Seq("node"), "left_semi"))
      .groupBy("node")
      .agg(sort_array(collect_list("nbr")).as("ns"))
  }

  /** `(a, b, support)`: each pair's common-neighbour count, read off the
    * neighbour arrays of both endpoints. */
  private def support(pairs: DataFrame, lists: DataFrame): DataFrame =
    pairs
      .join(lists.as("__ta"), col("a") === col("__ta.node"))
      .join(lists.as("__tb"), col("b") === col("__tb.node"))
      .select(
        col("a"), col("b"),
        size(array_intersect(col("__ta.ns"), col("__tb.ns"))).cast("long").as("support"))
}
