package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.bsp.Pin
import graft.data.TranscriptGen
import graft.graph.{EdgeBuilder, TemporalGraph}

/**
 * Plan-quality inspection: prints `explain("formatted")` for the hot plans
 * so pushdown / partitioning / codegen coverage can be reviewed (run
 * whenever an operator changes; see SURVEY §4).
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    println("==== parquet scan pushdown (q_scan_project) ====")
    graft.SparkEntry.queries("q_scan_project")(spark, sfDir).explain("formatted")

    println("==== broadcast star join (q_join_multiway_broadcast) ====")
    graft.SparkEntry.queries("q_join_multiway_broadcast")(spark, sfDir).explain("formatted")

    println("==== edge build (one conv-partitioned window) ====")
    val t = TranscriptGen.transcripts(spark, 100)
    EdgeBuilder.edges(t).explain("formatted")

    println("==== pagerank superstep shape (msgs join + agg) ====")
    val g = TemporalGraph(EdgeBuilder.edges(t)).persistedLike()

    println("==== BM25 search (postings semi-filter + broadcast stats) ====")
    graft.SparkEntry.queries("q_text_search")(spark, sfDir).explain("formatted")

    println("==== vector semantic search (windowless node top-k) ====")
    graft.SparkEntry.queries("q_vector_search")(spark, sfDir).explain("formatted")

    // expected shape: the duplicate-hash set (rare next to the corpus) is
    // BROADCAST as the LeftSemi build side, so the corpus-sized window
    // stream reaches the join with no exchange; the only wide exchange is
    // the per-doc island merge
    println("==== substring-dedup census (broadcast semi-join on dup hashes) ====")
    graft.SparkEntry.queries("q_dedup_substring")(spark, sfDir).explain("formatted")

    // expected shape: ONE hashpartitioning exchange (groupBy doc id) fed
    // by partial HashAggregates; weights are inline arithmetic, no join
    println("==== hashed linear classifier (one partial-agg exchange) ====")
    graft.SparkEntry.queries("q_text_classifier")(spark, sfDir).explain("formatted")

    // expected shape: broadcast pivots → map-side argmax groupBy(id), then
    // the cell window + in-cell pair join; CC runs on the tiny pair graph
    println("==== SemDeDup assignment + within-cell pairing ====")
    graft.SparkEntry.queries("q_dedup_semantic")(spark, sfDir).explain("formatted")

    // expected shape: pure map — zero exchanges anywhere
    println("==== document chunking (no shuffle) ====")
    graft.SparkEntry.queries("q_chunk_documents")(spark, sfDir).explain("formatted")

    println("==== ngram census (explode + lead window + wordcount groupBy + salted top-k) ====")
    graft.SparkEntry.queries("q_text_ngram_census")(spark, sfDir).explain("formatted")

    // expected shape: one vocabulary-sized exchange (pair groupBy with
    // partial aggregation) feeding TakeOrderedAndProject(limit=1) — the
    // per-round census of BPE training; the corpus-scale word count
    // happened once, before the loop
    println("==== BPE pair census (partial-agg exchange + TakeOrdered argmax) ====")
    locally {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val words = docs
        .select(explode(filter(split(lower(col("text")), "\\s+"), w => w =!= "")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .withColumn(
          "syms",
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .localCheckpoint(true)
      words
        .filter(size(col("syms")) > 1)
        .select(
          col("cnt"),
          explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        .groupBy(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1)
        .explain("formatted")
    }

    // expected shape: semi-join prune of the edge table to frontier
    // parents BEFORE the per-source rank window; WindowGroupLimit
    // pre-limits each partition to the fan-out before the window exchange
    println("==== GNN neighbor sampling (pruned rank windows) ====")
    graft.SparkEntry.queries("q_graph_neighbor_sample")(spark, sfDir).explain("formatted")

    // expected shape: candidate pairs join the degree-decorated neighbour
    // arrays twice (SortMergeJoin/shuffled-hash on the node key, one row
    // per node), features are ProjectExec array expressions — NO
    // CartesianProduct, no per-pair explode
    println("==== link-prediction features (two array joins, no explode) ====")
    graft.SparkEntry.queries("q_graph_link_features")(spark, sfDir).explain("formatted")

    // expected shape: weighted-CSR join of the state frame, struct
    // explode, partial-agg message exchange; sink mass a one-row
    // broadcast crossjoin — identical skeleton to the unweighted run,
    // weights ride inside the shard arrays
    println("==== weighted PageRank superstep (struct-array CSR) ====")
    locally {
      val t2 = TranscriptGen.transcripts(spark, 100)
      val g2 = TemporalGraph(EdgeBuilder.edges(t2))
      val weights = g2.simpleEdges.withColumn("w", lit(1L))
      val adj = g2.adjacencyOutWeighted(weights).persist()
      val state = g2.nodes
        .select(col("id"), lit(0.5).as("score"), lit(1L).as("out_w"))
        .localCheckpoint(true)
      adj
        .join(state.select(col("id"), col("score")), adj("src") === col("id"))
        .select(explode(col("dsts")).as("m"), col("score"), col("out_w"))
        .select(col("m.dst").as("id"), (col("score") * col("m.w") / col("out_w")).as("wv"))
        .groupBy("id")
        .agg(sum("wv").as("msum"))
        .explain("formatted")
      Pin.release(adj)
    }

    // expected shape per node2vec step (the walk result itself is a
    // truncated checkpoint scan, so explain ONE step's plan directly):
    // walker frame exchanges twice (keyed on prev for the neighbour
    // array, then on cur for the CSR); the replica fan-out + weighted
    // argmin is a fused ProjectExec lambda over the shard arrays — no
    // candidate explode, no per-replica rows
    println("==== node2vec step (two walker exchanges, fused weighted argmin) ====")
    locally {
      import graft.ml.GraphLearn.{hmix, M1, M2, M3, M4, M5}
      val t2 = TranscriptGen.transcripts(spark, 100)
      val g2 = TemporalGraph(EdgeBuilder.edges(t2))
      val adj = g2.adjacencyOut.persist()
      val nbrs = g2.undirectedPairs.filter(col("node") =!= col("nbr"))
        .groupBy("node").agg(sort_array(collect_list(col("nbr"))).as("pn")).persist()
      val frontier = g2.nodes
        .select(col("id").as("start"), lit(0L).as("walk"), col("id").as("cur"),
          col("id").as("prev"))
        .localCheckpoint(true)
      val classified = frontier
        .join(nbrs, frontier("prev") === nbrs("node"), "left")
        .select(col("start"), col("walk"), col("cur"), col("prev"),
          coalesce(col("pn"), array().cast("array<bigint>")).as("pn"))
      val joined = classified
        .join(adj, classified("cur") === adj("src"))
        .withColumn("inter", array_intersect(col("dsts"), col("pn")))
      def weight(c: org.apache.spark.sql.Column) =
        when(col("prev").isNull, lit(1L))
          .when(c === col("prev"), lit(2L))
          .when(array_contains(col("inter"), c), lit(1L))
          .otherwise(lit(4L))
      val pick = array_min(flatten(transform(
        col("dsts"),
        c => transform(
          sequence(lit(0L), weight(c) - 1L),
          r => struct(
            hmix(42L, (col("start"), M1), (col("walk"), M2), (lit(2), M3),
              (c, M4), (r, M5)).as("h"),
            c.as("n"))))))
      joined
        .select(col("start"), col("walk"), col("cur"), pick.as("m"))
        .groupBy("start", "walk", "cur")
        .agg(min(col("m")).as("m"))
        .explain("formatted")
      Pin.release(adj, nbrs)
    }

    // expected shape: ONE exchange — the register frame re-keys from
    // (id, j) to id for the estimate aggregation; the ball-series frames
    // downstream land hash-partitioned on id so the T+1 centrality joins
    // add no exchanges (the series itself is checkpoint-truncated)
    println("==== HyperBall estimate aggregation (one register re-key) ====")
    locally {
      val t2 = TranscriptGen.transcripts(spark, 100)
      val g2 = TemporalGraph(EdgeBuilder.edges(t2))
      graft.algos.Reach.estimateRaw(
        graft.algos.Reach.registers(spark, g2, iters = 0)).explain("formatted")
    }

    println("==== null-model permuted timestamps (two two-phase ranks + rank join) ====")
    // expected: NO single-partition global sort on the data path — the
    // only Window without partitionBy is the per-shard bases frame
    // (shards rows, broadcast back); both rank windows partition on
    // __shard and the hand-off joins on __rank
    graft.SparkEntry.queries("q_graph_null_permuted")(spark, sfDir).explain("formatted")

    spark.stop()
  }

  implicit final class GraphOps(private val g: TemporalGraph) extends AnyVal {
    def persistedLike(): Unit = {
      val adj = g.adjacencyOut.persist()
      val state = g.nodes.select(col("id"), lit(0.5).as("score")).localCheckpoint(true)
      val msgs = adj
        .join(state, adj("src") === state("id"))
        .select(explode(col("dsts")).as("id"), (col("score") / col("out_deg")).as("w"))
        .groupBy("id")
        .agg(sum("w").as("msum"))
      state.join(msgs, Seq("id"), "left").explain("formatted")
    }
  }
}
