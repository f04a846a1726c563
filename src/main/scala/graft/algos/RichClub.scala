package graft.algos

import graft.bsp.Pin
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Temporal rich-club coefficient (Pedreschi, Battaglia & Barrat, "The
 * temporal rich club phenomenon", Nature Physics 2022; reference
 * motifs/temporal_rich_club_coefficient.rs:59).
 *
 * Semantics replicated exactly:
 *  - the club S_k = nodes whose distinct-BOTH degree in the AGGREGATE graph
 *    is ≥ k (`:72-77`); |S_k| ≤ 1 → 0.0;
 *  - the snapshot sequence is consumed in NON-OVERLAPPING chunks of
 *    `windowSize` — the reference's `SlidingWindows` pulls `window_size`
 *    fresh items per `next()` call (`:28-36`), so despite the name it
 *    chunks and drops the ragged tail;
 *  - per chunk, stable edges = the intersection over the chunk's snapshots
 *    of the canonical undirected edge set restricted to S_k, self-loops
 *    dropped (`:93-110`);
 *  - coefficient = max over chunks of |stable| / C(|S_k|, 2).
 *
 * Spark plan: one union (or one floor-division pass for tumbling windows)
 * tags each canonical undirected edge with its snapshot index; intersection
 * becomes `count per (chunk, edge) == windowSize` (edges are distinct
 * within a snapshot, and a chunk containing an empty snapshot can never
 * reach the full count — matching set intersection); one shuffle on
 * (chunk, a, b), club restriction via semi-joins that AQE can broadcast.
 */
object RichClub {

  /** Reference-shaped entry point: arbitrary snapshot views (e.g. the
    * triples from `g.rolling(...)`). Prefer [[temporalRichClubTumbling]]
    * when the snapshots are a tumbling partition of the timeline — it
    * avoids the |views|-way plan union. */
  def temporalRichClub(
      spark: SparkSession,
      aggregate: TemporalGraph,
      views: Seq[TemporalGraph],
      k: Long,
      windowSize: Int): Double = {
    require(windowSize > 0, "windowSize must be positive")
    val nChunks = views.length / windowSize
    maxChunkDensity(aggregate.degrees, k, nChunks, windowSize) {
      views
        .take(nChunks * windowSize)
        .zipWithIndex
        .map { case (v, i) => v.canonicalUndirected.withColumn("snap", lit(i.toLong)) }
        .reduce(_ unionByName _)
    }
  }

  /** Tumbling fast path: the snapshots are `g.rolling(step, Some(step))`
    * (window == step ⇒ a disjoint partition of the timeline), so the
    * snapshot index is one floor-division column over `ts` instead of a
    * per-view union — the form a large scan wants. Equivalent to the
    * generic overload over those views. */
  def temporalRichClubTumbling(
      spark: SparkSession,
      g: TemporalGraph,
      stepMs: Long,
      k: Long,
      windowSize: Int): Double = {
    require(windowSize > 0 && stepMs > 0)
    (g.earliestTime(), g.latestTime()) match {
      case (Some(start), Some(t1)) =>
        val nSnaps = math.floorDiv(t1 - start, stepMs) + 1
        val nChunks = nSnaps / windowSize
        maxChunkDensity(g.degrees, k, nChunks, windowSize) {
          g.edges
            .filter(col("src") =!= col("dst"))
            .select(
              least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"),
              floor((col("ts") - start) / stepMs).cast("long").as("snap"))
            .filter(col("snap") < nChunks * windowSize.toLong)
            .distinct()
        }
      case _ => 0.0
    }
  }

  /** Max over chunks of |edges present in every snapshot of the chunk| /
    * C(nClub, 2), for the club of nodes with `deg` ≥ k; 0.0 when the club
    * has at most one node or there is no full chunk (then `snapEdges` is
    * never built). `snapEdges` must be distinct (snap, a, b) rows. */
  private def maxChunkDensity(degrees: DataFrame, k: Long, nChunks: Long, windowSize: Int)(
      snapEdges: => DataFrame): Double = Pin.scope { pins =>
    val club = pins.persist(degrees.filter(col("deg") >= k).select("id"))
    val nClub = club.count()
    if (nClub <= 1 || nChunks == 0) 0.0
    else {
      val row = snapEdges
        .join(club.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(club.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .withColumn("chunk", floor(col("snap") / windowSize))
        .groupBy("chunk", "a", "b")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") === windowSize.toLong)
        .groupBy("chunk")
        .agg(count(lit(1)).as("stable"))
        .agg(max(col("stable")).as("best"))
        .first()
      val best = if (row.isNullAt(0)) 0L else row.getLong(0)
      best.toDouble / (nClub * (nClub - 1) / 2).toDouble
    }
  }
}
