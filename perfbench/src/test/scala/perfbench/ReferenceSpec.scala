package perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The single-threaded references reproduce the engine's golden vectors
  * (the fixtures of graft's PageRankSpec, ComponentsAndLpaSpec and
  * TrianglesSpec). */
class ReferenceSpec extends AnyFunSuite {

  private def graph(edges: Seq[(Long, Long)]): RefGraph =
    RefGraph(edges.map(_._1).toArray, edges.map(_._2).toArray)

  private def ranks(edges: Seq[(Long, Long)], maxIter: Int, l2: Boolean): Map[Long, Double] = {
    val g = graph(edges)
    val (s, _) = Reference.pageRank(g, maxIter, tol = 1e-6, useL2Norm = l2)
    g.ids.indices.map(i => g.ids(i) -> s(i)).toMap
  }

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double], tol: Double): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < tol, s"node $k: got ${got(k)}, want $v") }
  }

  test("PageRank: 4-node cycle") {
    val edges = Seq[(Long, Long)]((1, 2), (1, 4), (2, 3), (3, 1), (4, 1))
    assertClose(ranks(edges, 1000, l2 = true),
      Map(1L -> 0.38694, 2L -> 0.20195, 3L -> 0.20916, 4L -> 0.20195), 1e-5)
  }

  test("PageRank: 11-node motif graph") {
    val edges = Seq[(Long, Long)](
      (1, 2), (1, 3), (1, 4), (3, 1), (3, 4), (3, 5), (4, 5), (5, 6), (5, 8), (7, 5),
      (8, 5), (1, 9), (9, 1), (6, 3), (4, 8), (8, 3), (5, 10), (10, 5), (10, 8), (1, 11),
      (11, 1), (9, 11), (11, 9))
    assertClose(ranks(edges, 1000, l2 = true), Map(
      10L -> 0.072082, 8L -> 0.136473, 3L -> 0.15484, 6L -> 0.07208, 11L -> 0.06186,
      2L -> 0.03557, 1L -> 0.11284, 4L -> 0.07944, 7L -> 0.01638, 9L -> 0.06186,
      5L -> 0.19658), 1e-5)
  }

  test("PageRank: 2-node swap and one dangling node, L1") {
    assertClose(ranks(Seq((1L, 2L), (2L, 1L)), 1000, l2 = false), Map(1L -> 0.5, 2L -> 0.5), 1e-3)
    assertClose(ranks(Seq((1L, 2L), (2L, 1L), (2L, 3L)), 10, l2 = false),
      Map(1L -> 0.303, 2L -> 0.393, 3L -> 0.303), 1e-3)
  }

  test("PageRank: dangling chain, L2") {
    val edges = Seq[(Long, Long)](
      (1, 2), (1, 3), (2, 3), (3, 1), (3, 2), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8),
      (8, 9), (9, 10), (10, 11))
    assertClose(ranks(edges, 1000, l2 = true), Map(
      1L -> 0.055, 2L -> 0.079, 3L -> 0.113, 4L -> 0.055, 5L -> 0.070, 6L -> 0.083,
      7L -> 0.093, 8L -> 0.102, 9L -> 0.110, 10L -> 0.117, 11L -> 0.122), 1e-3)
  }

  test("PageRank: duplicate edges do not change scores") {
    val base = Seq[(Long, Long)]((1, 2), (1, 4), (2, 3), (3, 1), (4, 1))
    assert(ranks(base ++ base :+ ((1L, 2L)), 1000, l2 = true) == ranks(base, 1000, l2 = true))
  }

  test("LPA: two communities") {
    val edges = Seq[(Long, Long)](
      (0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (3, 6), (4, 5), (5, 6), (5, 7), (6, 7), (6, 8), (7, 8))
    val g = graph(edges)
    val (labels, steps, _) = Reference.labelPropagation(g, 20)
    val parts = g.ids.indices.groupBy(labels(_)).values.map(_.map(g.ids).toSet).toSet
    assert(parts.contains(Set(0L, 1L, 2L)) && parts.contains(Set(3L, 4L, 5L, 6L, 7L, 8L)), s"got $parts")
    assert(steps > 1 && steps < 20)
  }

  test("WCC: doc example and isolated pairs") {
    val g = graph(Seq((1L, 2L), (2L, 1L), (3L, 1L), (10L, 11L), (20L, 21L), (30L, 31L)))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L)
    assert(g.ids.zip(Reference.components(g)).toMap == want)
    assert(g.ids.zip(Reference.starContraction(g, 20)._2).toMap == want)
  }

  test("WCC: star contraction converges to the union-find labels on random graphs") {
    val rnd = new Random(42)
    for (_ <- 1 to 5) {
      val edges = Seq.fill(120)(((rnd.nextInt(80) + 1).toLong, (rnd.nextInt(80) + 1).toLong))
      val g = graph(edges)
      val (rounds, labels) = Reference.starContraction(g, 50)
      assert(rounds < 50 && rounds > 1)
      assert(labels.sameElements(Reference.components(g)))
    }
  }

  test("WCC: a scrambled 500-node path needs few rounds") {
    def scramble(i: Long): Long = { var x = i * 0x9E3779B97F4A7C15L; x ^= (x >>> 32); x & 0x7FFFFFFFFFFFFFFFL }
    val g = graph((0L until 499L).map(i => (scramble(i), scramble(i + 1))))
    val (rounds, labels) = Reference.starContraction(g, 20)
    assert(rounds < 20)
    assert(labels.toSet == Set((0L to 499L).map(scramble).min))
  }

  test("Triangles: doc example, self-loops and multi-edges") {
    assert(Reference.triangles(graph(Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (7, 8), (8, 9), (9, 7), (8, 10), (10, 9)))) == 4L)
    assert(Reference.triangles(graph(Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (1, 1), (2, 2), (1, 2), (2, 1), (3, 1)))) == 1L)
  }

  test("Triangles: sorted merge matches brute force on random graphs") {
    val rnd = new Random(7)
    for (_ <- 1 to 5) {
      val edges = Seq.fill(200)(((rnd.nextInt(40)).toLong, (rnd.nextInt(40)).toLong))
      val und = edges.filter(e => e._1 != e._2).map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val brute = nodes.combinations(3).count { case Seq(a, b, c) =>
        und((a, b)) && und((b, c)) && und((a, c))
      }
      assert(Reference.triangles(graph(edges)) == brute.toLong)
    }
  }

  test("transcript edges: replies chain turns, tool edges pair a call with its result") {
    val turns = Seq(
      ("c1", 2, "tool", Some("t")), ("c1", 0, "user", None), ("c1", 1, "assistant", Some("t")),
      ("c1", 3, "assistant", None), ("c2", 0, "user", None), ("c2", 1, "tool", Some("t")))
    assert(Reference.transcriptEdges(turns) == Seq(
      ("c1", 0, 1, "reply"), ("c1", 1, 2, "reply"), ("c1", 1, 2, "tool"), ("c1", 2, 3, "reply"),
      ("c2", 0, 1, "reply")))
  }
}
