package graft.algos

import graft.SparkSpec
import graft.graph.TemporalGraph

import scala.collection.mutable
import scala.util.Random

class BetweennessSpec extends SparkSpec {

  private def graph(edges: Seq[(Long, Long)]): TemporalGraph =
    TemporalGraph.fromTriples(spark, edges.zipWithIndex.map { case ((s, d), i) => (s, d, i.toLong) })

  private val fixture = Seq[(Long, Long)](
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (2, 5), (3, 4), (3, 5), (3, 6), (4, 3), (4, 2), (4, 4))

  test("Brandes golden, unnormalized (centrality.rs:14-44)") {
    val got = Betweenness.run(spark, graph(fixture))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = Map(1L -> 0.0, 2L -> 1.0, 3L -> 4.0, 4L -> 1.0, 5L -> 0.0, 6L -> 0.0)
    expected.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-9, s"node $k: ${got(k)} vs $v")
    }
  }

  test("Brandes golden, normalized (centrality.rs:46-60)") {
    val got = Betweenness.run(spark, graph(fixture), normalized = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = Map(1L -> 0.0, 2L -> 0.05, 3L -> 0.2, 4L -> 0.05, 5L -> 0.0, 6L -> 0.0)
    expected.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-9, s"node $k: ${got(k)} vs $v")
    }
  }

  /** Sequential Brandes over distinct directed out-edges (the reference's
    * per-source loop), unnormalized, sources = the first k ids. */
  private def brandesModel(edges: Seq[(Long, Long)], k: Option[Int]): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val adj = edges.distinct.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val bc = mutable.Map(nodes.map(_ -> 0.0): _*)
    for (s <- k.fold(nodes)(nodes.take)) {
      val dist = mutable.Map(s -> 0)
      val sigma = mutable.Map(s -> 1.0).withDefaultValue(0.0)
      val preds = mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
      val order = mutable.ArrayBuffer.empty[Long]
      val queue = mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        order += v
        for (w <- adj.getOrElse(v, Nil)) {
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; queue.enqueue(w) }
          if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); preds(w) ::= v }
        }
      }
      val delta = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for (w <- order.reverseIterator) {
        for (v <- preds(w)) delta(v) += sigma(v) / sigma(w) * (1 + delta(w))
        if (w != s) bc(w) += delta(w)
      }
    }
    bc.toMap
  }

  test("random digraphs match a sequential Brandes model, with and without k") {
    val rnd = new Random(5)
    for (trial <- 1 to 3; k <- Seq(None, Some(4))) {
      val n = 10 + trial * 6
      val edges = (1 to n * 2).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val want = brandesModel(edges, k)
      val got = Betweenness.run(spark, graph(edges), k)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == want.keySet, s"trial $trial, k = $k")
      want.foreach { case (v, bc) =>
        assert(math.abs(got(v) - bc) < 1e-9, s"trial $trial, k = $k, node $v: ${got(v)} vs $bc")
      }
    }
  }
}
