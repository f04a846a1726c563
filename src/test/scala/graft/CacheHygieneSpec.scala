package graft

import graft.algos.{Betweenness, Louvain, Matching, PageRank, Reach, Scc}
import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{RunConfig, Step}
import graft.graph.TemporalGraph
import graft.ml.{Dedup, GraphLearn}
import org.apache.spark.sql.{DataFrame, GraftSqlInternals}
import org.apache.spark.sql.functions.col

/**
 * Cache-lifecycle contract for the operators the round-2 review flagged as
 * leaking persisted frames in a long-lived session: after an operator
 * returns (and its materialized result is released), the session's
 * persistent-RDD registry must be back to its pre-call size. Dedup's LSH
 * paths now run persist-free; the iterative operators free every internal
 * cache (also when a superstep throws) and return a single pinned frame
 * the caller owns.
 */
class CacheHygieneSpec extends SparkSpec {

  /** Ids, not counts: suites share the session, and the ContextCleaner can
    * asynchronously drop OTHER suites' unreachable cached RDDs mid-test —
    * a count compare is racy against that; a new-ids set difference is not. */
  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def docs = {
    val session = spark
    import session.implicits._
    (1 to 60).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta iota kappa word$i"
      (s"d$i", if (i % 3 == 0) base else base + s" tail${i % 7} more${i % 5}")
    }.toDF("doc_id", "text")
  }

  test("minHashLsh leaves no persisted frames behind") {
    val before = persistedIds
    val pairs = Dedup.minHashLsh(docs, threshold = 0.5).collect()
    assert(pairs.nonEmpty)
    assert((persistedIds -- before).isEmpty, "minHashLsh must not leak cached frames")
  }

  test("simHashPairs leaves no persisted frames behind") {
    val before = persistedIds
    Dedup.simHashPairs(docs, maxHamming = 8).collect()
    assert((persistedIds -- before).isEmpty, "simHashPairs must not leak cached frames")
  }

  test("simHash hot buckets are dropped with first-class accounting") {
    val session = spark
    import session.implicits._
    // 30 identical docs → every segment bucket has 30 members
    val hot = (1 to 30).map(i => (s"h$i", "same text every time")).toDF("doc_id", "text")
    val dropped = Dedup.simHashDropped(hot, maxBucket = 10)
    assert(dropped.count() > 0)
    assert(Dedup.simHashPairs(hot, maxBucket = 10).count() == 0L)
    // generous cap → nothing dropped, all pairs found
    assert(Dedup.simHashDropped(hot, maxBucket = 1000).count() == 0L)
    assert(Dedup.simHashPairs(hot, maxBucket = 1000).count() == 30L * 29 / 2)
  }

  test("SCC frees every internal cache; caller owns exactly the result") {
    val before = persistedIds
    val out = Scc.run(spark, bridged)
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == labels(2L) && labels(2L) == labels(3L))
    assert(labels(4L) == labels(5L) && labels(5L) == labels(6L))
    assert(labels(1L) != labels(4L) && labels(7L) != labels(8L))
    // the ONLY new cached block is the returned materialized result
    val leaked = persistedIds -- before
    assert(leaked.size == 1, s"SCC must free all internal caches (left: $leaked)")
    GraftSqlInternals.cachedRdd(out).foreach(_.unpersist(true))
    assert((persistedIds -- before).isEmpty, "releasing the result returns to baseline")
  }

  // two 3-cycles joined by a one-way bridge + a tail chain
  private def bridged = TemporalGraph.fromTriples(spark, Seq(
    (1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 3L),
    (3L, 4L, 4L),
    (4L, 5L, 5L), (5L, 6L, 6L), (6L, 4L, 7L),
    (6L, 7L, 8L), (7L, 8L, 9L)))

  private def bipartite = {
    val session = spark
    import session.implicits._
    Seq((1L, 101L, 4.0), (1L, 102L, 3.0), (2L, 101L, 5.0), (2L, 103L, 1.0), (3L, 102L, 2.0))
      .toDF("src", "dst", "w")
  }

  private val owners: Seq[(String, () => DataFrame)] = Seq(
    "Betweenness.run" -> (() => Betweenness.run(spark, bridged)),
    "Matching.locallyDominant" -> (() => Matching.locallyDominant(spark, bridged)),
    "Matching.auctionBipartite" -> (() => Matching.auctionBipartite(spark, bipartite)),
    "Louvain.run" -> (() => Louvain.run(spark, bridged)),
    "Reach.harmonicCloseness" -> (() => Reach.harmonicCloseness(spark, bridged, iters = 2)),
    "GraphLearn.randomWalks" -> (() => GraphLearn.randomWalks(spark, bridged, length = 3)),
    "PageRank.run" -> (() => PageRank.run(spark, bridged, PageRank.Config(maxIter = 5))))

  for ((name, run) <- owners)
    test(s"$name frees every internal cache; caller owns exactly the result") {
      val before = persistedIds
      val out = run()
      val owned = GraftSqlInternals.cachedRdd(out).map(_.id).toSet
      val leaked = persistedIds -- before
      assert(owned.nonEmpty && leaked == owned, s"$name left $leaked, result reads $owned")
      assert(out.collect().nonEmpty, s"$name result must still read its blocks")
      Pin.release(out)
      assert((persistedIds -- before).isEmpty, "releasing the result returns to baseline")
    }

  test("a superstep that throws leaves no pinned state behind") {
    val before = persistedIds
    val boom = intercept[IllegalStateException] {
      SuperstepRunner.run(spark, spark.range(50).toDF("id"), RunConfig(maxSteps = 10)) {
        (state, step) =>
          if (step == 3) throw new IllegalStateException("step 3")
          Step(state.select((col("id") + 1).as("id")), _ => (false, Map.empty))
      }
    }
    assert(boom.getMessage == "step 3")
    assert((persistedIds -- before).isEmpty, "a failed run must free every pinned state")
  }
}
