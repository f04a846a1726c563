package graft.algos

import graft.bsp.Pin
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Exact triangle counting. The reference counts, per node, intersections of
 * forward-neighbour sets {t ∈ distinct undirected nbrs : t > v}
 * (raphtory/src/algorithms/motifs/triangle_count.rs:64-116, after a 2-core
 * prefilter). Any acyclic orientation of the undirected simple graph counts
 * each triangle exactly once via |N⁺(u) ∩ N⁺(v)| summed over oriented edges;
 * we orient **by (degree, id)** instead of by id — the standard skew
 * defence: a hub of degree D gets out-degree O(√E) instead of D, so the
 * wedge join cannot explode on hot nodes (reference doesn't need this
 * because shared memory makes hub access cheap; at 100 TB we do).
 *
 * Plan: four phases, each pinned once, in order — canonical undirected
 * edges (a<b, self-loops dropped, distinct) → per-node degree `(id, d)` →
 * (degree, id)-oriented edges `(u, v)` → forward lists
 * `(node, sorted fwd)`. Every later phase reads the pinned ones, so the
 * input is scanned once: left lazy, each reference to a phase re-derives
 * it, and AQE reuses none of the copies. The count then joins the
 * oriented edges to the forward lists of both endpoints and takes
 * `array_intersect` of the pair.
 */
object Triangles {

  /** Global triangle count. */
  def globalCount(spark: SparkSession, g: TemporalGraph): Long = Pin.scope { pins =>
    val r = intersections(forwardGraph(g.canonicalUndirected, pins))
      .agg(sum(size(col("common")).cast("long")).as("triangles"))
      .first()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Per-node triangle participation counts `(id, triangles)`; nodes in no
    * triangle are absent (join with nodes and coalesce(0) if needed).
    * Matches the reference's local triangle count semantics
    * (algorithms/motifs/local_triangle_count.rs:57): pairs of distinct
    * neighbours connected in either direction. Pinned once; the caller
    * owns the frame and frees it with [[Pin.release]]. */
  def localCounts(spark: SparkSession, g: TemporalGraph): DataFrame = Pin.scope { pins =>
    val counts = triangles(forwardGraph(g.canonicalUndirected, pins))
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("triangles"))
    pins.keep(pins.pin(counts))
  }

  /** One row per triangle (u, v, w), canonically ordered by the degree
    * orientation. Pinned once; the caller owns the frame. */
  def triangleRows(g: TemporalGraph): DataFrame = Pin.scope { pins =>
    pins.keep(pins.pin(triangles(forwardGraph(g.canonicalUndirected, pins))))
  }

  /** Per-node degree `(id, d)` of a canonical undirected edge set `(a, b)`. */
  private def degree(und: DataFrame): DataFrame =
    und
      .select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id")
      .agg(count(lit(1)).as("d"))

  /** Orient each canonical edge `(a, b)` from its smaller (degree, id)
    * endpoint to the larger: `(u, v)`. */
  private def orient(und: DataFrame, deg: DataFrame): DataFrame = {
    val aLower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    und
      .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("u"),
        when(aLower, col("b")).otherwise(col("a")).as("v"))
  }

  /** The pinned phases over a canonical undirected edge set `(a, b)`:
    * oriented edges `(u, v)` and forward lists `(node, fwd)`. The pinned
    * canonical edges and degrees are freed as soon as the orientation is
    * pinned; `pins` frees the rest. */
  private[algos] def forwardGraph(canonical: DataFrame, pins: Pin.Scope): (DataFrame, DataFrame) = {
    val und = pins.pin(canonical)
    val deg = pins.pin(degree(und))
    val oriented = pins.pin(orient(und, deg))
    pins.release(und, deg)
    val fwd = pins.pin(
      oriented.groupBy(col("u").as("node")).agg(sort_array(collect_list(col("v"))).as("fwd")))
    (oriented, fwd)
  }

  /** Each oriented edge with the common forward neighbours of its two
    * endpoints: `(u, v, common)`. */
  private def intersections(graph: (DataFrame, DataFrame)): DataFrame = {
    val (oriented, fwd) = graph
    oriented
      .join(fwd.select(col("node").as("u"), col("fwd").as("fu")), Seq("u"))
      .join(fwd.select(col("node").as("v"), col("fwd").as("fv")), Seq("v"))
      .select(col("u"), col("v"), array_intersect(col("fu"), col("fv")).as("common"))
  }

  /** One row per triangle `(u, v, w)`, ordered by the orientation. */
  private[algos] def triangles(graph: (DataFrame, DataFrame)): DataFrame =
    intersections(graph).select(col("u"), col("v"), explode(col("common")).as("w"))
}
