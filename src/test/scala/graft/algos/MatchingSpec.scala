package graft.algos

import graft.SparkSpec
import graft.graph.TemporalGraph

import scala.collection.mutable
import scala.util.Random

class MatchingSpec extends SparkSpec {

  private def graphOf(edges: Seq[(Long, Long, Double)]) = {
    import spark.implicits._
    TemporalGraph(
      edges.zipWithIndex
        .map { case ((s, d, w), i) => (s, d, 10L * i, i.toLong, "a", w) }
        .toDF("src", "dst", "ts", "event_id", "layer", "weight"))
  }

  private def bipartiteDf(edges: Seq[(Long, Long, Double)]) = {
    import spark.implicits._
    edges.toDF("src", "dst", "w")
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1)); (math.min(a, b), math.max(a, b))
    }.toSet

  /** Exhaustive best matching over an edge list: (bestWeight, bestCardThenWeight). */
  private def bruteForce(edges: Seq[(Long, Long, Double)]): (Double, (Int, Double)) = {
    def rec(rest: List[(Long, Long, Double)], used: Set[Long]): Seq[(Int, Double)] =
      rest match {
        case Nil => Seq((0, 0.0))
        case (a, b, w) :: t =>
          val skip = rec(t, used)
          if (used(a) || used(b)) skip
          else skip ++ rec(t, used + a + b).map { case (c, s) => (c + 1, s + w) }
      }
    val all = rec(edges.toList, Set.empty)
    (all.map(_._2).max, all.maxBy { case (c, s) => (c, s) })
  }

  // the reference's doctest / pytest fixture (max_weight_matching.rs:845,
  // python test_algorithms.py:696): path 1-2(5), 2-3(11), 3-4(5)
  test("reference golden: plain matching takes the heavy middle edge") {
    val g = graphOf(Seq((1L, 2L, 5.0), (2L, 3L, 11.0), (3L, 4L, 5.0)))
    val got = pairs(Matching.locallyDominant(spark, g, Matching.Config(weightCol = Some("weight"))))
    assert(got == Set((2L, 3L)))
    // auction on the oriented bipartition {1,3} → {2,4} agrees
    val e = bipartiteDf(Seq((1L, 2L, 5.0), (3L, 2L, 11.0), (3L, 4L, 5.0)))
    val auc = pairs(Matching.auctionBipartite(spark, e, Matching.Config()))
    assert(auc == Set((2L, 3L)))
  }

  test("reference golden: max-cardinality matching takes the two outer edges") {
    val e = bipartiteDf(Seq((1L, 2L, 5.0), (3L, 2L, 11.0), (3L, 4L, 5.0)))
    val got = pairs(Matching.auctionBipartite(spark, e, Matching.Config(maxCardinality = true)))
    assert(got == Set((1L, 2L), (3L, 4L)))
  }

  test("auction is exact on random integer-weight bipartite graphs") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val edges = for {
        l <- 1L to 5L; r <- 101L to 105L
        if rnd.nextDouble() < 0.5
      } yield (l, r, (rnd.nextInt(20) + 1).toDouble)
      if (edges.nonEmpty) {
        val (bestW, (bestC, bestCW)) = bruteForce(edges)
        val plain = Matching.auctionBipartite(spark, bipartiteDf(edges), Matching.Config())
        val gotW = plain.collect().map(_.getDouble(2)).sum
        assert(math.abs(gotW - bestW) < 1e-6, s"seed $seed: got $gotW want $bestW")

        val maxc = Matching.auctionBipartite(
          spark, bipartiteDf(edges), Matching.Config(maxCardinality = true)).collect()
        assert(maxc.length == bestC, s"seed $seed: card ${maxc.length} want $bestC")
        assert(math.abs(maxc.map(_.getDouble(2)).sum - bestCW) < 1e-6, s"seed $seed weights")
      }
    }
  }

  test("matched pairs are disjoint and edges exist; deterministic across runs") {
    val rnd = new Random(7)
    val edges = (for {
      a <- 1L to 10L; b <- (a + 1) to 10L
      if rnd.nextDouble() < 0.4
    } yield (a, b, (rnd.nextInt(50) + 1).toDouble)).toSeq
    val g = graphOf(edges)
    val cfg = Matching.Config(weightCol = Some("weight"))
    val m1 = pairs(Matching.locallyDominant(spark, g, cfg))
    val m2 = pairs(Matching.locallyDominant(spark, g, cfg))
    assert(m1 == m2) // deterministic
    val nodesUsed = m1.toSeq.flatMap { case (a, b) => Seq(a, b) }
    assert(nodesUsed.distinct.size == nodesUsed.size) // a matching
    val edgeSet = edges.map { case (a, b, _) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(m1.subsetOf(edgeSet))
  }

  test("locally-dominant weight is at least half the optimum and the matching is maximal") {
    for (seed <- 11 to 14) {
      val rnd = new Random(seed)
      val edges = (for {
        a <- 1L to 8L; b <- (a + 1) to 8L
        if rnd.nextDouble() < 0.5
      } yield (a, b, (rnd.nextInt(30) + 1).toDouble)).toSeq
      if (edges.nonEmpty) {
        val (bestW, _) = bruteForce(edges)
        val got = Matching.locallyDominant(
          spark, graphOf(edges), Matching.Config(weightCol = Some("weight"))).collect()
        val gotW = got.map(_.getDouble(2)).sum
        assert(gotW * 2 >= bestW - 1e-9, s"seed $seed: $gotW vs optimal $bestW")
        // maximal: no remaining edge has both endpoints free
        val used = got.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
        assert(edges.forall { case (a, b, _) => used(a) || used(b) })
      }
    }
  }

  test("unweighted default counts each edge as 1; empty graph yields empty matching") {
    val g = graphOf(Seq((1L, 2L, 99.0), (2L, 3L, 1.0)))
    val got = pairs(Matching.locallyDominant(spark, g)) // no weightCol: all w=1
    assert(got.size == 1) // one of the two edges, deterministically (1,2) via tie-break
    assert(got == Set((1L, 2L)))
    import spark.implicits._
    val empty = TemporalGraph(
      Seq.empty[(Long, Long, Long, Long, String)].toDF("src", "dst", "ts", "event_id", "layer"))
    assert(Matching.locallyDominant(spark, empty).count() == 0)
  }

  /** Sequential greedy matching over the undirected pairs (weight = max
    * over the directed edges, self-loops dropped) in (w desc, a asc, b asc)
    * order — the total order the per-node (w, −partner) pick is consistent
    * with, so locally-dominant matching must reproduce it exactly. */
  private def greedyModel(edges: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] = {
    val pairs = edges
      .filter { case (s, d, _) => s != d }
      .groupBy { case (s, d, _) => (math.min(s, d), math.max(s, d)) }
      .map { case ((a, b), es) => (a, b, es.map(_._3).max) }
      .toSeq
      .sortBy { case (a, b, w) => (-w, a, b) }
    val used = mutable.Set.empty[Long]
    pairs.filter { case (a, b, _) =>
      val free = !used(a) && !used(b)
      if (free) used ++= Seq(a, b)
      free
    }.toSet
  }

  test("locally-dominant equals sequential greedy matching on random weighted graphs") {
    for (seed <- 21 to 25) {
      val rnd = new Random(seed)
      val edges = (1 to 30).map(_ =>
        (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong, (rnd.nextInt(4) + 1).toDouble))
      val got = Matching.locallyDominant(
        spark, graphOf(edges), Matching.Config(weightCol = Some("weight")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == greedyModel(edges), s"seed $seed")
    }
  }
}
