package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.algos.Reach
import graft.data.TranscriptGen
import graft.graph.{EdgeBuilder, TemporalGraph}

/**
 * Plan-quality inspection: dumps `explain("formatted")` into `<outDir>`,
 * one file per plan, so pushdown / partitioning / codegen coverage can be
 * reviewed (run whenever an operator changes; see SURVEY §4). For plain
 * relational queries this dumps the query's own plan. For the iterative
 * algorithms the meaningful shape is ONE superstep's plan, which the
 * GRAFT_EXPLAIN_DIR hook in [[graft.bsp.SuperstepRunner]] (and the
 * GraphLearn walk loop) emits as `<runId>_superstep.txt` while the query
 * runs, so the dump is the plan of the code that runs.
 * `tools/compare_plans.py` diffs two such directories.
 *
 * Usage: GRAFT_EXPLAIN_DIR=<outDir> sbt "runMain graft.tools.PlanDump <outDir> [sfDir]"
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/plans"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))

    def dump(name: String, df: DataFrame): Unit = {
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"$name.txt"), text.getBytes(StandardCharsets.UTF_8))
      println(s"dumped $name")
    }

    // Relational queries: the result plan IS the query plan.
    val relational = Seq(
      // parquet scan pushdown
      "q_scan_project",
      // broadcast star join
      "q_join_multiway_broadcast",
      // BM25 search: postings semi-filter + broadcast stats
      "q_text_search",
      // vector semantic search: windowless node top-k
      "q_vector_search",
      // expected shape: the duplicate-hash set (rare next to the corpus) is
      // BROADCAST as the LeftSemi build side, so the corpus-sized window
      // stream reaches the join with no exchange; the only wide exchange is
      // the per-doc island merge
      "q_dedup_substring",
      // expected shape: ONE hashpartitioning exchange (groupBy doc id) fed
      // by partial HashAggregates; weights are inline arithmetic, no join
      "q_text_classifier",
      // expected shape: broadcast pivots → map-side argmax groupBy(id), then
      // the cell window + in-cell pair join; CC runs on the tiny pair graph
      "q_dedup_semantic",
      // expected shape: pure map — zero exchanges anywhere
      "q_chunk_documents",
      // explode + lead window + wordcount groupBy + salted top-k
      "q_text_ngram_census",
      "q_text_perplexity_buckets",
      // expected shape: semi-join prune of the edge table to frontier
      // parents BEFORE the per-source rank window; WindowGroupLimit
      // pre-limits each partition to the fan-out before the window exchange
      "q_graph_neighbor_sample",
      // expected shape: candidate pairs join the degree-decorated neighbour
      // arrays twice (SortMergeJoin/shuffled-hash on the node key, one row
      // per node), features are ProjectExec array expressions — NO
      // CartesianProduct, no per-pair explode
      "q_graph_link_features",
      // expected: NO single-partition global sort on the data path — the
      // only Window without partitionBy is the per-shard bases frame
      // (shards rows, broadcast back); both rank windows partition on
      // __shard and the hand-off joins on __rank
      "q_graph_null_permuted")
    relational.foreach(name => dump(name, graft.SparkEntry.queries(name)(spark, sfDir)))

    val g = TemporalGraph(EdgeBuilder.edges(TranscriptGen.transcripts(spark, 100)))
    // edge build: one conv-partitioned window
    dump("edge_build", g.edges)
    // expected shape: ONE exchange — the register frame re-keys from
    // (id, j) to id for the estimate aggregation; the ball-series frames
    // downstream land hash-partitioned on id so the T+1 centrality joins
    // add no exchanges (the series itself is checkpoint-truncated)
    dump("hyperball_estimate", Reach.estimateRaw(Reach.registers(spark, g, iters = 0)))

    // Iterative queries: RUN them (small SF) with GRAFT_EXPLAIN_DIR set so
    // the superstep hook writes <runId>_superstep.txt per algorithm.
    val iterative = Seq(
      "q_graph_eigenvector",
      "q_graph_hits",
      "q_graph_wcc",
      "q_graph_louvain",
      "q_graph_coreness",
      "q_graph_mis",
      "q_graph_random_walks",
      "q_graph_node2vec_walks",
      "q_graph_temporal_walks",
      "q_graph_harmonic",
      "q_graph_ktruss",
      "q_graph_pagerank",
      "q_graph_pagerank_personalized",
      "q_graph_pagerank_weighted")
    iterative.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      println(s"ran $name (superstep plans in GRAFT_EXPLAIN_DIR)")
    }
    spark.stop()
  }
}
