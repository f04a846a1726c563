package graft.algos

import graft.SparkSpec
import graft.bsp.Pin
import graft.graph.TemporalGraph
import org.apache.spark.sql.functions._

/**
 * Golden tests against the reference's motif fixtures
 * (raphtory/tests/algo_tests/motifs.rs test_global; kernel unit fixtures
 * in three_node_motifs.rs).
 */
class TemporalMotifsSpec extends SparkSpec {

  /** The reference fixture: (t, src, dst) add_edge calls; event_id is the
    * insertion index (the reference's auto-incremented secondary index). */
  private val fixtureEdges = Seq[(Long, Long, Long)](
    (1, 1, 1), (1, 1, 1), (2, 1, 1), (1, 1, 2), (1, 1, 2), (2, 1, 3), (2, 1, 3),
    (3, 1, 4), (4, 3, 1), (5, 3, 4), (6, 3, 5), (7, 4, 5), (8, 5, 6), (9, 5, 8),
    (10, 7, 5), (11, 8, 5), (12, 1, 9), (13, 9, 1), (14, 6, 3), (15, 4, 8),
    (16, 8, 3), (17, 5, 10), (18, 10, 5), (19, 10, 8), (20, 1, 11), (21, 11, 1),
    (22, 9, 11), (23, 11, 9))

  private def fixtureGraph: TemporalGraph = {
    import spark.implicits._
    TemporalGraph(
      fixtureEdges.zipWithIndex
        .map { case ((t, s, d), i) => (s, d, t, i.toLong, "_default") }
        .toDF("src", "dst", "ts", "event_id", "layer"))
  }

  test("global 40-dim census matches the reference golden (motifs.rs test_global, delta=10)") {
    val got = TemporalMotifs
      .global(spark, fixtureGraph, deltaMs = 10)
      .orderBy("motif_id")
      .collect()
      .map(_.getAs[Long]("count"))
    val expected = Array[Long](
      0, 2, 3, 8, 2, 4, 1, 5, 0, 0, 0, 0, 1, 0, 2, 0, 0, 1, 6, 0, 0, 1, 10, 2,
      0, 1, 0, 0, 0, 0, 1, 0, 2, 3, 2, 4, 1, 2, 4, 1)
    assert(got.toSeq == expected.toSeq)
  }

  test("globalMulti: one shared pass equals per-delta global at each timescale") {
    val deltas = Seq(3L, 10L)
    val multi = TemporalMotifs
      .globalMulti(spark, fixtureGraph, deltas)
      .collect()
      .map(r => (r.getAs[Long]("delta_ms"), r.getAs[Int]("motif_id")) -> r.getAs[Long]("count"))
      .toMap
    assert(multi.size == 80)
    for (d <- deltas) {
      val single = TemporalMotifs
        .global(spark, fixtureGraph, deltaMs = d)
        .collect()
        .map(r => r.getAs[Int]("motif_id") -> r.getAs[Long]("count"))
        .toMap
      for (m <- 0 until 40)
        assert(multi((d, m)) == single(m), s"delta=$d motif=$m")
    }
    // the two timescales genuinely differ on this fixture (delta matters)
    assert((0 until 40).exists(m => multi((3L, m)) != multi((10L, m))))
  }

  test("two-node kernel fixture (three_node_motifs.rs two_node_test)") {
    // events: OUT@1, IN@2, IN@3, delta 5
    val c = TemporalMotifs.twoNodeCounts(Array(1L, 2L, 3L), Array(1, 0, 0), 5L)
    // one 3-event sequence (O,I,I) → map3d(1,0,0) = 4
    assert(c.sum == 1 && c(4) == 1, s"got ${c.toSeq}")
  }

  test("triangle kernel fixture (three_node_motifs.rs triad_test semantics)") {
    // (uv_edge, uorv, dir, time): (true,0,1,1), (false,1,1,2), (false,0,0,3)
    val c = TemporalMotifs.triangleCounts(
      Array(1L, 2L, 3L),
      Array(true, false, false),
      Array(0, 1, 0),
      Array(1, 1, 0),
      5L)
    // the uv edge at t=1 sees both w-edges in its post window:
    // finalCounts[3] += postSum(map3d(1,1,0)) = 1 (uv-first triangle motif)
    assert(c(3) == 1 && c.sum == 1, s"got ${c.toSeq}")
  }

  /** The local-test sample graph (motifs.rs local_motifs_test
    * load_sample_graph) — differs from the global fixture: the (1,1,2) and
    * (2,1,3) edges are NOT duplicated. */
  private val localFixtureEdges = Seq[(Long, Long, Long)](
    (1, 1, 1), (1, 1, 1), (2, 1, 1), (1, 1, 2), (2, 1, 3), (3, 1, 4), (4, 3, 1),
    (5, 3, 4), (6, 3, 5), (7, 4, 5), (8, 5, 6), (9, 5, 8), (10, 7, 5),
    (11, 8, 5), (12, 1, 9), (13, 9, 1), (14, 6, 3), (15, 4, 8), (16, 8, 3),
    (17, 5, 10), (18, 10, 5), (19, 10, 8), (20, 1, 11), (21, 11, 1),
    (22, 9, 11), (23, 11, 9))

  test("local per-node census matches the reference golden (motifs.rs test_local_motif, delta=10)") {
    import spark.implicits._
    val g = TemporalGraph(
      localFixtureEdges.zipWithIndex
        .map { case ((t, s, d), i) => (s, d, t, i.toLong, "_default") }
        .toDF("src", "dst", "ts", "event_id", "layer"))
    val got = TemporalMotifs
      .local(spark, g, deltaMs = 10)
      .collect()
      .groupBy(_.getAs[Long]("id"))
      .map { case (id, rows) =>
        val v = new Array[Long](40)
        rows.foreach(r => v(r.getAs[Int]("motif_id")) = r.getAs[Long]("count"))
        id -> v.toSeq
      }
    val expected = Map[Long, Seq[Long]](
      1L -> Seq(0, 0, 0, 0, 1, 2, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 2, 0, 0, 0, 3, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 2, 0),
      10L -> Seq(0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 1, 0, 1, 0, 1),
      11L -> Seq(0, 0, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 1, 0, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 0, 1, 0),
      2L -> Seq.fill(40)(0L),
      3L -> Seq(0, 0, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 2, 0, 1, 2, 0),
      4L -> Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 1, 0, 0, 1, 2, 0),
      5L -> Seq(0, 0, 0, 0, 1, 1, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 4, 0, 0, 0, 3, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 1, 3, 0, 1, 1, 1),
      6L -> Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0),
      7L -> Seq.fill(40)(0L),
      8L -> Seq(0, 0, 2, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 1, 2, 0, 1, 0, 1),
      9L -> Seq(0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 0,
        0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 0, 1, 0))
    assert(got.keySet == expected.keySet, s"node sets differ: ${got.keySet}")
    expected.foreach { case (id, exp) =>
      assert(got(id) == exp, s"node $id: got ${got(id)} expected $exp")
    }
  }

  test("delta windows restrict the census") {
    // with delta=1 only tight sequences survive; census must shrink
    val wide = TemporalMotifs.global(spark, fixtureGraph, 10)
      .agg(sum("count")).first().getLong(0)
    val tight = TemporalMotifs.global(spark, fixtureGraph, 1)
      .agg(sum("count")).first().getLong(0)
    assert(tight < wide)
    assert(tight >= 0)
  }

  test("degree-oriented triangle enumeration matches brute force (mid-id hub)") {
    import spark.implicits._
    // pseudo-random graph PLUS a hub whose id sits in the MIDDLE of the id
    // range — the shape where the old id-ordered wedge join (x1<x2<x3 keyed
    // on the middle id) put O(deg²) candidates under the hub's key
    val rnd = new scala.util.Random(7)
    val hub = 500L
    val rand = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong + 940))
    val hubEdges = (1 to 40).map(i => (hub, i.toLong)) ++ (960 to 999).map(i => (hub, i.toLong))
    val all = (rand ++ hubEdges).filter(p => p._1 != p._2)
    val canon = all.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val expected = {
      val set = canon.toSet
      val nodes = canon.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      (for {
        i <- nodes; j <- nodes if j > i && set((i, j))
        k <- nodes if k > j && set((j, k)) && set((i, k))
      } yield (i, j, k)).toSet
    }
    val und = canon.toDF("a", "b")
    val got = Pin.scope(pins => TemporalMotifs.orientedTriangles(und, pins).collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("full-range xxhash64-scale ids: triangles enumerate without overflow (ANSI)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64, lit}
    // EdgeBuilder.nodeId produces full-range xxhash64 longs; the sum of
    // three such ids overflows Long — the old (u+w1+w2)-x1-x3 middle-corner
    // recovery raised SparkArithmeticException under Spark 4's default ANSI
    // mode. Build triangles on REAL xxhash64 ids and run the full census.
    val raw = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // triangle A
      (4L, 5L), (5L, 6L), (4L, 6L), // triangle B
      (1L, 4L)) // bridge (no extra triangle)
    val ev = raw.zipWithIndex
      .toDF("p", "event_id")
      .select(
        xxhash64(lit("n"), col("p._1")).as("src"),
        xxhash64(lit("n"), col("p._2")).as("dst"),
        (col("event_id") * 1000L).as("ts"),
        col("event_id").cast("long").as("event_id"))
    // sanity: ids really are full-range (three-way sums overflow)
    val ids = ev.select("src").as[Long].collect()
    assert(ids.exists(id => math.abs(id) > (Long.MaxValue / 3)), s"ids not full-range: ${ids.toSeq}")
    val g = graft.graph.TemporalGraph(ev)
    val tri = Pin.scope(pins => TemporalMotifs
      .orientedTriangles(
        ev.select(
          org.apache.spark.sql.functions.least(col("src"), col("dst")).as("a"),
          org.apache.spark.sql.functions.greatest(col("src"), col("dst")).as("b")).distinct(),
        pins)
      .collect())
    assert(tri.length == 2, s"expected 2 triangles, got ${tri.toSeq}")
    tri.foreach(r => assert(r.getLong(0) < r.getLong(1) && r.getLong(1) < r.getLong(2)))
    // full census must complete (previously raised) and count triangle motifs
    val total = TemporalMotifs.global(spark, g, deltaMs = 100000L)
      .filter(col("motif_id") >= 32).agg(org.apache.spark.sql.functions.sum("count"))
      .collect()(0).getLong(0)
    assert(total > 0L, "triangle block counted nothing on xxhash64-scale ids")
  }

  test("planted high-degree hub: census finishes with bounded wedge keys and matches structure") {
    import spark.implicits._
    // hub 50000 ↔ 100k leaves; leaves 1..100 chained in a ring, so each
    // ring edge closes a triangle with the hub: exactly 100 triangles.
    val n = 100000
    val hub = 50000L // mid-range id: worst case for id-ordered enumeration
    val hubEdges = (1 to n).filter(_ != hub.toInt).map(i => (hub, i.toLong, 10L + i))
    val ring = (1 to 100).map(i => (i.toLong, (i % 100 + 1).toLong, 500000L + i))
    val g = TemporalGraph.fromTriples(spark, hubEdges ++ ring)
    val und = g.edges
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val tris = Pin.scope(pins => TemporalMotifs.orientedTriangles(und, pins).collect())
    assert(tris.length == 100, s"expected 100 hub-ring triangles, got ${tris.length}")
    assert(tris.forall(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)).contains(hub)))
  }

  test("event-cap guard drops hot entities with first-class accounting") {
    import spark.implicits._
    // node 1 has 30 incident events; pair (2,3) has 25 events
    val hot = (1 to 30).map(i => (1L, (100 + i).toLong, i.toLong)) ++
      (1 to 25).map(i => (2L, 3L, (1000 + i).toLong)) ++
      Seq((4L, 5L, 2000L), (5L, 6L, 2001L), (4L, 6L, 2002L))
    val g = TemporalGraph.fromTriples(spark, hot)

    val dropped = TemporalMotifs.droppedEntities(spark, g, maxEventsPerEntity = 20)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSet
    // node 1 (30 events) and pair (2,3) (25 events each endpoint ⇒ nodes
    // 2,3 also above 20) must be reported
    assert(dropped.contains(("node", 1L)))
    assert(dropped.contains(("pair", 2L)))
    assert(TemporalMotifs.droppedEntities(spark, g).count() == 0L) // default cap

    // capped census still runs and the un-dropped triangle (4,5,6) survives
    val census = TemporalMotifs.global(spark, g, deltaMs = 10, maxEventsPerEntity = 20)
      .orderBy("motif_id").collect().map(_.getAs[Long]("count"))
    val full = TemporalMotifs.global(spark, g, deltaMs = 10)
      .orderBy("motif_id").collect().map(_.getAs[Long]("count"))
    assert(census.slice(32, 40).sum == 1L, "triangle block keeps the clean triangle")
    assert(full.sum >= census.sum, "uncapped census dominates the capped one")
  }
}
