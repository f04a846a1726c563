package graft.algos

import graft.SparkSpec
import graft.bsp.Pin
import graft.graph.TemporalGraph
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import scala.util.Random

/**
 * Triangle-count golden (reference doc example,
 * raphtory/src/algorithms/motifs/triangle_count.rs:40-61: 11 edges → 4
 * triangles) + brute-force model checks on random graphs, and a check on
 * the executed plans that the input is read once, not once per reference.
 */
class TrianglesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def graph(edges: Seq[(Long, Long)]): TemporalGraph =
    TemporalGraph.fromTriples(spark, edges.zipWithIndex.map { case ((s, d), i) => (s, d, i.toLong) })

  /** Every triangle of the undirected simple graph, corners id-sorted. */
  private def modelTriangles(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val und = edges
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    nodes.combinations(3).collect {
      case Seq(a, b, c) if und((a, b)) && und((b, c)) && und((a, c)) => (a, b, c)
    }.toSet
  }

  test("doc example: 4 triangles (triangle_count.rs:40-61)") {
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (7, 8), (8, 9), (9, 7), (8, 10), (10, 9))
    assert(Triangles.globalCount(spark, graph(edges)) == 4L)
  }

  test("self-loops and multi-edges are ignored") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (1, 1), (2, 2), (1, 2), (2, 1), (3, 1))
    assert(Triangles.globalCount(spark, graph(edges)) == 1L)
  }

  test("local counts: each node of a triangle participates once") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (3, 4))
    val local = Triangles
      .localCounts(spark, graph(edges))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("random graphs match brute-force model") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(150) {
        ((rnd.nextInt(30) + 1).toLong, (rnd.nextInt(30) + 1).toLong)
      }
      val g = graph(edges)
      val model = modelTriangles(edges)
      val got = Triangles.globalCount(spark, g)
      assert(got == model.size.toLong, s"trial $trial: got $got want ${model.size}")

      val modelLocal = model.toSeq
        .flatMap { case (a, b, c) => Seq(a, b, c) }
        .groupBy(identity)
        .map { case (id, hits) => id -> hits.size.toLong }
      val local = Triangles.localCounts(spark, g)
      val gotLocal = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Pin.release(local)
      assert(gotLocal == modelLocal, s"trial $trial: local counts")

      val rows = Triangles.triangleRows(g)
      val gotRows = rows.collect().toSeq.map { r =>
        val Seq(a, b, c) = Seq(r.getLong(0), r.getLong(1), r.getLong(2)).sorted
        (a, b, c)
      }
      Pin.release(rows)
      assert(gotRows.size == model.size && gotRows.toSet == model, s"trial $trial: triangle rows")
    }
  }

  test("globalCount scans its input at most twice") {
    val rnd = new Random(11)
    val edges = Seq.fill(400)(((rnd.nextInt(60) + 1).toLong, (rnd.nextInt(60) + 1).toLong))
    val input = graph(edges).edges.persist()
    try {
      input.count()
      val (got, plans) = withExecutedPlans(Triangles.globalCount(spark, TemporalGraph(input)))
      assert(got == modelTriangles(edges).size.toLong)
      // AQE final plans and their subqueries; pinned phases read as
      // `Scan ExistingRDD`, only the persisted input as InMemoryTableScan
      val scans = plans.map(p => collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }.size)
      assert(plans.nonEmpty && scans.sum <= 2, s"input scans per executed plan: $scans")
    } finally input.unpersist(false)
  }
}
