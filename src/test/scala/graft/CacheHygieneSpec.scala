package graft

import graft.algos.{Betweenness, Centrality, Components, ConnectedComponents, Epidemics, FastRP, Hits, Independent, KCore, LabelPropagation, Layout, Louvain, Matching, Metrics, PageRank, Paths, Reach, Scc, TemporalMotifs, Triangles, Truss}
import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{RunConfig, Step}
import graft.graph.TemporalGraph
import graft.ml.{Dedup, GraphLearn}
import org.apache.spark.sql.{DataFrame, GraftSqlInternals}
import org.apache.spark.sql.functions.{col, lit}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/**
 * Cache-lifecycle contract for the operators the round-2 review flagged as
 * leaking persisted frames in a long-lived session: after an operator
 * returns (and its materialized result is released), the session's
 * persistent-RDD registry must be back to its pre-call size. Dedup's LSH
 * paths now run persist-free; the iterative operators free every internal
 * cache (also when a superstep or a checkpoint commit throws) and return a
 * single pinned frame the caller owns. A lint keeps every other src/main
 * cache site on [[Pin]]; the same source scan keeps environment reads to
 * an allow-list of knobs.
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

  test("Triangles.globalCount leaves no persisted frames behind") {
    val before = persistedIds
    assert(Triangles.globalCount(spark, bridged) == 2L)
    assert((persistedIds -- before).isEmpty, "globalCount must not leak pinned phases")
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
    "ConnectedComponents.run" -> (() => ConnectedComponents.run(spark, bridged)),
    "Matching.locallyDominant" -> (() => Matching.locallyDominant(spark, bridged)),
    "Matching.auctionBipartite" -> (() => Matching.auctionBipartite(spark, bipartite)),
    "Louvain.run" -> (() => Louvain.run(spark, bridged)),
    "Reach.harmonicCloseness" -> (() => Reach.harmonicCloseness(spark, bridged, iters = 2)),
    "GraphLearn.randomWalks" -> (() => GraphLearn.randomWalks(spark, bridged, length = 3)),
    "PageRank.run" -> (() => PageRank.run(spark, bridged, PageRank.Config(maxIter = 5))),
    "PageRank.personalized" -> (() =>
      PageRank.personalized(spark, bridged, spark.range(1, 3).toDF("id"), PageRank.Config(maxIter = 5))),
    "PageRank.weighted" -> (() =>
      PageRank.weighted(
        spark, bridged, bridged.simpleEdges.withColumn("w", lit(2L)), PageRank.Config(maxIter = 5))),
    "Hits.run" -> (() => Hits.run(spark, bridged, Hits.Config(maxIter = 5))),
    "LabelPropagation.run" -> (() =>
      LabelPropagation.run(spark, bridged, LabelPropagation.Config(maxIter = 5))),
    "Triangles.localCounts" -> (() => Triangles.localCounts(spark, bridged)),
    "Triangles.triangleRows" -> (() => Triangles.triangleRows(bridged)),
    "Metrics.localClusteringCoefficient" -> (() => Metrics.localClusteringCoefficient(spark, bridged)),
    "Centrality.eigenvector" -> (() =>
      Centrality.eigenvector(spark, bridged, Centrality.Config(maxIter = 5, tol = 0.0))),
    "Centrality.katz" -> (() => Centrality.katz(spark, bridged, cfg = Centrality.Config(maxIter = 5))),
    "Paths.sssp" -> (() => Paths.sssp(spark, bridged, source = 1L, cutoff = 4)),
    "Paths.dijkstra" -> (() => Paths.dijkstra(spark, bridged, source = 1L)),
    "Paths.temporalReachability" -> (() => Paths.temporalReachability(spark, bridged, Seq(1L -> 0L))),
    "Epidemics.run" -> (() => Epidemics.run(spark, bridged, seedOne, infectAll)),
    "TemporalMotifs.local" -> (() => TemporalMotifs.local(spark, bridged, deltaMs = 5L)),
    "KCore.coreness" -> (() => KCore.coreness(spark, bridged)),
    "Independent.maximalIndependentSet" -> (() => Independent.maximalIndependentSet(spark, bridged)),
    "Independent.jonesPlassmann" -> (() => Independent.jonesPlassmann(spark, bridged)),
    "FastRP.run" -> (() => FastRP.run(spark, bridged)),
    "Truss.run" -> (() => Truss.run(spark, bridged, k = 3)),
    "Layout.fruchtermanReingold" -> (() =>
      Layout.fruchtermanReingold(spark, bridged, Layout.Config(iterations = 3))),
    "Components.outComponent" -> (() => Components.outComponent(spark, bridged, seed = 1L)))

  private def seedOne = spark.range(1, 2).toDF("id")
  private val infectAll = Epidemics.Config(infectionProb = 1.0, initialInfection = 0L)

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
          Step(state.select((col("id") + 1).as("id")))
      }
    }
    assert(boom.getMessage == "step 3")
    assert((persistedIds -- before).isEmpty, "a failed run must free every pinned state")
  }

  test("LPA and HITS free their CSR when a checkpoint commit throws") {
    // a regular file where the checkpoint directory should be: the
    // step-1 commit cannot create `steps/1/data` under it and throws
    val notADir = Files.createTempFile("graft-ckpt", ".file")
    try {
      val before = persistedIds
      intercept[Exception](LabelPropagation.run(spark, bridged, LabelPropagation.Config(
        checkpointDir = Some(notADir.toString), checkpointEvery = 1)))
      intercept[Exception](Hits.run(spark, bridged, Hits.Config(
        checkpointDir = Some(notADir.toString), checkpointEvery = 1)))
      assert((persistedIds -- before).isEmpty, "a failed run must free its CSR and state")
    } finally Files.delete(notADir)
  }

  test("Epidemics, Layout, coreness, Katz and SCC free their static frames when a checkpoint commit throws") {
    // as above: the first commit cannot create its directory under a file
    val notADir = Files.createTempFile("graft-ckpt", ".file")
    val dir = Some(notADir.toString)
    try {
      val before = persistedIds
      intercept[Exception](Epidemics.run(spark, bridged, seedOne, infectAll.copy(checkpointDir = dir)))
      intercept[Exception](
        Layout.fruchtermanReingold(spark, bridged, Layout.Config(iterations = 5, checkpointDir = dir)))
      intercept[Exception](KCore.coreness(spark, bridged, checkpointDir = dir))
      intercept[Exception](Centrality.katz(
        spark, bridged, cfg = Centrality.Config(checkpointDir = dir, checkpointEvery = 1)))
      intercept[Exception](Scc.run(spark, bridged, Scc.Config(checkpointDir = dir)))
      assert((persistedIds -- before).isEmpty, "a failed run must free its static frames and state")
    } finally Files.delete(notADir)
  }

  /** src/main files that may cache outside [[Pin]], each with its reason. */
  private val cacheAllowed: Map[String, String] = Map(
    "graft/bsp/Pin.scala" -> "the lifecycle itself",
    "graft/Bench.scala" -> "bench harness: persists its inputs and leg frames itself",
    "graft/bench/Scaling.scala" -> "bench harness: persists its inputs in set-up",
    "graft/tools/KernelBench.scala" -> "bench harness: persists the kernel inputs once",
    "graft/graph/TemporalGraph.scala" ->
      "cacheView/uncacheView: a public cache the caller owns (the reference's CachedView)",
    "graft/vectors/VectorisedGraph.scala" ->
      "its localCheckpoints predate Pin; how Pin.pin's stats reset changes their plans is unmeasured")

  /** Non-comment src/main lines matching `site`, outside the `allowed` files. */
  private def sitesOutside(site: scala.util.matching.Regex, allowed: Map[String, String]): Seq[String] = {
    val root = Path.of("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    }
    for {
      f <- files
      rel = root.relativize(f).toString
      if !allowed.contains(rel)
      (line, no) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      if site.findFirstIn(code).nonEmpty
    } yield s"$rel:${no + 1}: $code"
  }

  test("no persist, cache or localCheckpoint outside Pin") {
    val hits = sitesOutside("""\.persist\(\)|\.cache\(\)|\.localCheckpoint\(""".r, cacheAllowed)
    assert(hits.isEmpty, s"cache outside Pin.scope:\n${hits.mkString("\n")}")
  }

  /** src/main files that may double-buffer state outside the runner. */
  private val replaceAllowed: Map[String, String] = Map(
    "graft/bsp/SuperstepRunner.scala" -> "the runner's own double buffer",
    "graft/algos/Louvain.scala" ->
      "outer levels: their four per-level frames are aggregated from the previous level")

  test("double buffering (pins.replace) lives in SuperstepRunner") {
    val hits = sitesOutside("""pins\.replace\(""".r, replaceAllowed)
    assert(hits.isEmpty, s"hand-rolled double buffer outside the runner:\n${hits.mkString("\n")}")
  }

  /** The environment variables src/main may read, each with its reason. */
  private val knobsAllowed: Map[String, String] = Map(
    "SPARK_MASTER" -> "the query server's master URL",
    "SPARK_GRAFT_CPUS" -> "local[N] parallelism of every main",
    "SPARK_GRAFT_SF_DIR" -> "the testdata directory Bench and KernelBench read",
    "SPARK_GRAFT_SCALING" -> "\"0\" skips Bench's embedded scaling pairs",
    "GRAFT_EXPLAIN_DIR" -> "where SuperstepRunner dumps each run's superstep plan")

  test("environment knobs in src/main are limited to the allow-list") {
    val reads = sitesOutside("""sys\.env|System\.getenv""".r, Map.empty)
    val named = """(?:sys\.env\S*|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val unlisted = reads.filter { site =>
      val names = named.findAllMatchIn(site).map(_.group(1)).toList
      names.isEmpty || !names.forall(knobsAllowed.contains)
    }
    assert(unlisted.isEmpty, s"environment reads outside the allow-list:\n${unlisted.mkString("\n")}")
  }

  test("similarity expansion frees every round's pins; caller owns the selection") {
    val vg = graft.vectors.Vectorise(vectorGraph, graft.vectors.HashEmbedder(dim = 16))
    val before = persistedIds
    val sel = vg.emptySelection.addNodes(Seq(1L)).expandEntitiesBySimilarity("node", limit = 100)
    assert(sel.nodes.count() == 3 && sel.edges.count() == 2)
    Pin.release(sel.nodes, sel.edges)
    assert((persistedIds -- before).isEmpty, "releasing the selection returns to baseline")
  }

  //     1 ── 2 ── 3      (chain), plus 4 ── 5 off to the side
  private def vectorGraph = {
    val session = spark
    import session.implicits._
    TemporalGraph(
      Seq((1L, 2L, 10L, 1L, "a"), (2L, 3L, 20L, 2L, "a"), (2L, 3L, 30L, 3L, "a"), (4L, 5L, 40L, 4L, "a"))
        .toDF("src", "dst", "ts", "event_id", "layer"))
  }
}
