package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.{GraphGen, TranscriptGen}
import graft.graph.{EdgeBuilder, TemporalGraph}
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, Triangles}
import graft.bench.Scaling

/**
 * Headline benchmark: synthesize the transcript link graph at a size scaled
 * to the requested SF, then time edge-build + the four flagship algorithms.
 * Prints exactly ONE JSON line (driver contract).
 *
 * PageRank is timed two ways: to 1e-6 convergence (the north metric) and
 * with 20 forced supersteps (tol=0) for superstep-throughput comparability
 * with the reference bench (algobench.rs pins iteration counts the same
 * way). Triangle counting runs on a random-attachment graph — the
 * reference's own bench generator — because conv-scoped reply/tool chains
 * legitimately contain zero triangles.
 *
 * Env:
 *  - SPARK_GRAFT_SF_DIR: testdata dir; its sf suffix picks the graph size
 *  - SPARK_GRAFT_CPUS:   local[N] parallelism (default 32)
 *  - SPARK_GRAFT_SCALING: "0" skips the embedded N→4N scaling pairs
 */
object Bench {

  /** Parse the scale factor out of the driver's testdata dir ("…/sf0.1" →
    * 0.1) instead of string-matching known names — a new SF gets a sized
    * workload, not the smallest one. */
  private[graft] def parseSf(sfDir: String): Option[Double] =
    "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble)

  /** 200k conversations per unit SF — reproduces the r1–r3 workloads
    * exactly at the three provided SFs (200 / 2 000 / 20 000). */
  def numConvsFor(sfDir: String): Long =
    math.max(200L, math.round(200000.0 * parseSf(sfDir).getOrElse(0.001)))

  /** RA-graph node count: the r1–r3 values at the provided SFs (5 000 /
    * 20 000 / 100 000), linear (1M × sf) above sf0.05 for new SFs. */
  def triNodesFor(sfDir: String): Long = {
    val sf = parseSf(sfDir).getOrElse(0.001)
    if (sf >= 0.05) math.round(1000000.0 * sf)
    else if (sf >= 0.005) 20000L
    else 5000L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val extras = scala.collection.mutable.LinkedHashMap[String, Double]()

    // --- same-moment machine calibration (BENCH.md methodology, embedded):
    // a pure-CPU busy-loop at 8 vs `cpus` threads measures the shared
    // host's compute-scaling ceiling RIGHT NOW, and /proc/stat steal% the
    // tenancy pressure — without these fields a round-over-round delta in
    // the timings below cannot be told apart from neighbour load. Repeated
    // after the bench (the ceiling drifts over a ~10-min run).
    val hiThreads = cpus.toInt
    val loThreads = math.max(1, hiThreads / 4)
    val gcListener = new graft.bench.Calibration.StageMetricsListener

    def calibrate(tag: String): Unit = {
      val (thrLo, thrHi, ratio) = graft.bench.Calibration.cpuRatio(loThreads, hiThreads)
      extras += s"calib_${loThreads}to${hiThreads}_$tag" -> ratio
      extras += s"calib_eff_$tag" -> ratio / (hiThreads.toDouble / loThreads)
      extras += s"calib_mops_per_thread_$tag" -> thrHi / hiThreads / 1e6
      // memory-bandwidth ceiling — the probe the busy-loop is blind to
      val (_, memHi, memR) = graft.bench.Calibration.memRatio(loThreads, hiThreads)
      extras += s"calib_mem_eff_$tag" -> memR / (hiThreads.toDouble / loThreads)
      extras += s"calib_mem_gbps_$tag" -> memHi / 1e9
      extras += s"steal_pct_$tag" -> graft.bench.Calibration.stealPct()
      val _ = thrLo
    }
    calibrate("pre")
    spark.sparkContext.addSparkListener(gcListener)
    val nConvs = numConvsFor(sfDir)
    // whole-run GC/CPU attribution: every stage from here through the
    // post-run calibration
    val (_, whole) = gcListener.window {
      // per-leg instrument attribution (r5 sf1 lesson: the run-level
      // brackets missed a co-tenant burst confined to ONE leg — the 237.8 s
      // eigenvector reading needed offline re-measurement to attribute).
      // Each instrumented leg's row in the JSON carries the leg's own
      // task-seconds, GC share, and CPU occupancy (task CPU-time over
      // wall × threads): a contaminated wall shows up as occupancy collapse
      // (starvation) or task-second inflation (thrash) in the same JSON the
      // wall is read from, no forensics run needed.
      def timedLeg[A](name: String)(f: => A): (A, Double) = {
        val (a, w) = gcListener.window(f)
        extras += s"${name}_task_sec" -> w.taskSec
        extras += s"${name}_gc_share" -> w.gcShare
        extras += s"${name}_cpu_occupancy" -> w.cpuMs / 1000.0 / math.max(w.secs * hiThreads, 1e-9)
        (a, w.secs)
      }

      // --- edge build over synthesized transcripts ---
      val transcripts = TranscriptGen.transcripts(spark, nConvs).persist()
      transcripts.count()
      val (edges, tBuild) = time {
        val e = EdgeBuilder.edges(transcripts).persist()
        e.count()
        e
      }
      results += "edge_build" -> tBuild
      val g = TemporalGraph(edges)
      val nEdges = g.simpleEdges.count()
      extras += "n_edges" -> nEdges.toDouble

      // --- warm-up (untimed): a 2-superstep PageRank pays the one-time JIT /
      // codegen / adjacency-build cost so the convergence timing below
      // measures steady-state throughput, not cold-start (round-over-round
      // BENCH diffs would otherwise be JIT noise; Scaling.scala does the same)
      PageRank.run(spark, g, PageRank.Config(maxIter = 2, tol = 0.0)).count()

      // --- PageRank to 1e-6 convergence (north metric) ---
      val ((_, convSteps), tPrConv) = time {
        val r = PageRank.runWithStats(spark, g, PageRank.Config(maxIter = 60, tol = 1e-6))
        r._1.count()
        r
      }
      results += "pagerank_converge" -> tPrConv
      extras += "pagerank_converge_supersteps" -> convSteps.toDouble
      // reference semantics: converged when Σ||Δ|| ≤ tol·n (pagerank.rs:143) —
      // at small n the transcript chain graph self-converges in one superstep;
      // the fixed-20 number below is the throughput metric
      extras += "pagerank_converge_tol" -> 1e-6

      // --- PageRank, 20 forced supersteps (throughput metric). Same timed
      // content as before (CSR build inside the window, then the superstep
      // loop), via runFull so the per-superstep walls are kept: the MEDIAN
      // superstep is robust to a mid-run tenancy burst that poisons the total
      // (observed: steps at ~1 s with a 7-step burst at 4-12 s while the
      // bracketing pure-CPU calibrations read clean — BENCH.md r3 note) ---
      val fixedSteps = 20
      val (prFull, tPrFixed) = timedLeg("pagerank_fixed20") {
        val adjB = g.adjacencyOut(graft.graph.TemporalGraph.DefaultMaxShard).persist()
        val r = PageRank.runFull(spark, adjB, g.nodes, PageRank.Config(maxIter = fixedSteps, tol = 0.0))
        r.state.count()
        adjB.unpersist(false)
        r
      }
      results += "pagerank_fixed20" -> tPrFixed
      extras += "pagerank_supersteps_per_sec" -> fixedSteps / tPrFixed
      extras += "pagerank_edges_traversed_per_sec" -> fixedSteps.toDouble * nEdges / tPrFixed
      val prWalls = prFull.metrics.flatMap(_.get("wallMs")).sorted
      if (prWalls.nonEmpty) {
        val med = prWalls(prWalls.size / 2) / 1000.0
        extras += "pagerank_median_superstep_sec" -> med
        extras += "pagerank_median_edges_traversed_per_sec" -> nEdges / med
      }

      def medianWall(metrics: List[Map[String, Double]]): Option[Double] = {
        val walls = metrics.flatMap(_.get("wallMs")).sorted
        if (walls.isEmpty) None else Some(walls(walls.size / 2) / 1000.0)
      }

      // --- WCC ---
      val (wccM, tWcc) = timedLeg("wcc") {
        val (df, m) = ConnectedComponents.runWithMetrics(spark, g)
        df.count(); m
      }
      results += "wcc" -> tWcc
      medianWall(wccM).foreach(extras += "wcc_median_superstep_sec" -> _)

      // --- LPA (capped, synchronous) ---
      val (lpaM, tLpa) = timedLeg("lpa") {
        val (df, m) = LabelPropagation.runWithMetrics(spark, g, LabelPropagation.Config(maxIter = 10))
        df.count(); m
      }
      results += "lpa" -> tLpa
      medianWall(lpaM).foreach(extras += "lpa_median_superstep_sec" -> _)

      // --- HITS (fixed 10 supersteps; in-plan normalization totals) ---
      val (hitsM, tHits) = timedLeg("hits") {
        val (df, m) =
          graft.algos.Hits.runWithMetrics(spark, g, graft.algos.Hits.Config(maxIter = 10, tol = 0.0))
        df.count(); m
      }
      results += "hits" -> tHits
      medianWall(hitsM).foreach(extras += "hits_median_superstep_sec" -> _)

      // --- random-attachment graph (the reference's bench generator shape):
      // PageRank to 1e-6 convergence takes real supersteps here (hubs), so
      // this is the meaningful supersteps/sec-to-convergence number ---
      val ra = GraphGen.randomAttachment(spark, triNodesFor(sfDir), 4)
      val raEdges = ra.simpleEdges.count()
      val ((raSteps, _), tRaPr) = timedLeg("pagerank_ra") {
        val r = PageRank.runWithStats(spark, ra, PageRank.Config(maxIter = 100, tol = 1e-6))
        r._1.count()
        (r._2, ())
      }
      results += "pagerank_ra_converge" -> tRaPr
      extras += "pagerank_ra_supersteps" -> raSteps.toDouble
      extras += "pagerank_ra_supersteps_per_sec" -> raSteps / tRaPr
      extras += "pagerank_ra_edges_traversed_per_sec" -> raSteps.toDouble * raEdges / tRaPr

      // --- triangles on the same graph: 3 repeats — the FIRST (cold) rep is
      // the headline for round-over-round comparability, the median/best give
      // the burst-robust signal (same discipline as superstep medians) ---
      val triReps = (1 to 3).map(_ => time((Triangles.globalCount(spark, ra), ())))
      val triCount = triReps.head._1._1
      results += "triangles" -> triReps.head._2
      extras += "triangles_median" -> triReps.map(_._2).sorted.apply(1)
      extras += "triangles_best" -> triReps.map(_._2).min
      extras += "triangle_count" -> triCount.toDouble

      // --- full core decomposition on the same graph (h-index fixpoint:
      // every k-core in one run). Bounded at 6 rounds — the same
      // throughput-not-convergence-lottery discipline as the Louvain leg;
      // exactness is the oracle's job (q_graph_coreness) ---
      val (_, tCoreness) = time(graft.algos.KCore.coreness(spark, ra, maxIter = 6).count())
      results += "graph_coreness_6r" -> tCoreness

      // --- Louvain on the RA graph (bounded: 3 levels × 8 rounds — community
      // structure on random attachment is weak, the bound keeps the timing a
      // throughput measure rather than a convergence lottery) ---
      val (louvainM, tLouvain) = timedLeg("louvain") {
        val (df, m) = graft.algos.Louvain.runWithMetrics(
          spark, ra, graft.algos.Louvain.Config(maxLevels = 3, maxLocalRounds = 8))
        df.count(); m
      }
      results += "louvain" -> tLouvain
      medianWall(louvainM).foreach(extras += "louvain_median_round_sec" -> _)

      // --- k-truss peel: evidence that the INCREMENTAL recount's per-round
      // work tracks the removal neighbourhood, not |E| — truss_affected_frac
      // = Σ affected / Σ per-round surviving edges is the recount volume as
      // a share of what the full-recount MapReduce shape would rebuild every
      // round (1.0 = no better than full). Fixture = the dense events graph
      // (homogeneous: peeling cascades for several rounds but every survivor
      // is adjacent to churn, so alone it reads frac ≈ 1) UNION a
      // disjoint-clique stable core the peel never touches after round 1 —
      // the untouched-core shape where the incremental recount genuinely
      // wins. k is derived from the events part's measured median support
      // (+2) because no fixed k cascades at every SF (median support is
      // 13 / 50 / 11 at sf0.001 / 0.01 / 0.1); clique size k+1 puts the core
      // exactly one triangle above the threshold, and the clique edge mass
      // is sized to ≈ half the events mass. Derivation runs OUTSIDE the
      // timed window. ---
      val (trussM, tTruss, trussK) = {
        val ev = graft.rel.Queries.eventEdges(spark, sfDir)
        val und = graft.graph.TemporalGraph(ev).canonicalUndirected.persist()
        val nEv = und.count()
        val med = graft.algos.Truss.supported(und)
          .stat.approxQuantile("support", Array(0.5), 0.001).head
        und.unpersist(false)
        val k = math.max(4, med.toLong + 2)
        val s = k + 1
        val nClq = math.max(3L, nEv / (s * (s - 1)))
        val base = 1L << 40 // disjoint from any event user_id
        val clq = spark.range(nClq)
          .select(col("id").as("c"), explode(sequence(lit(0L), lit(s - 2))).as("i"))
          .select(col("c"), col("i"), explode(sequence(col("i") + 1, lit(s - 1))).as("j"))
          .select(
            (lit(base) + col("c") * s + col("i")).as("src"),
            (lit(base) + col("c") * s + col("j")).as("dst"),
            lit(0L).as("ts"), lit(0L).as("event_id"), lit("_default").as("layer"))
        val g = graft.graph.TemporalGraph(ev.unionByName(clq))
        val (m, t) = timedLeg("truss") {
          val (df, mm) = graft.algos.Truss.runWithMetrics(spark, g, k = k.toInt)
          df.count(); mm
        }
        (m, t, k)
      }
      results += "truss" -> tTruss
      extras += "truss_k" -> trussK.toDouble
      extras += "truss_rounds" -> trussM.length.toDouble
      medianWall(trussM).foreach(extras += "truss_median_round_sec" -> _)
      val trussAffected = trussM.flatMap(_.get("affected")).sum
      val trussScanBase = trussM.flatMap(_.get("edges")).sum
      extras += "truss_affected_total" -> trussAffected
      extras += "truss_affected_frac" ->
        (if (trussScanBase > 0) trussAffected / trussScanBase else 0.0)

      // --- temporal 3-node motif census (global 40-dim) on the RA graph;
      // ts = attachment step, so delta=5000 windows span real event overlap.
      // 3 repeats, same cold-headline + median/best discipline as triangles
      // (the r3 43 s reading was a single unattributable cold+burst sample) ---
      val (motifReps, _) = timedLeg("temporal_motifs")((1 to 3).map(_ =>
        time(graft.algos.TemporalMotifs.global(spark, ra, deltaMs = 5000L).count())._2))
      results += "temporal_motifs" -> motifReps.head
      extras += "temporal_motifs_median" -> motifReps.sorted.apply(1)
      extras += "temporal_motifs_best" -> motifReps.min

      // --- graph-ML training-prep (ml.GraphLearn) on the RA graph: walks
      // exercise the persisted salted CSR under the superstep loop (hub
      // argmin is the fused array kernel); sampling exercises the
      // semi-join-pruned rank windows ---
      val (walkOut, tWalks) = timedLeg("graph_random_walks") {
        val w = graft.ml.GraphLearn.randomWalks(spark, ra, length = 8, nWalks = 1)
        (w, w.count())
      }
      results += "graph_random_walks" -> tWalks
      extras += "graph_walk_steps_per_sec" -> walkOut._2 / tWalks
      val (_, tSkip) = time(
        graft.ml.GraphLearn.skipGramPairs(walkOut._1, window = 2).count())
      results += "graph_skipgram_pairs" -> tSkip
      val (_, tTw) = time(
        graft.ml.GraphLearn.temporalWalks(spark, ra, length = 8, nWalks = 1).count())
      results += "graph_temporal_walks" -> tTw
      val (_, tNs) = time {
        val seeds = ra.nodes.select(col("id").as("seed"))
          .filter(graft.ml.GraphLearn.hmix(
            42L, (col("id"), graft.ml.GraphLearn.M1)) % 1000000L < 200000L)
        graft.ml.GraphLearn.neighborSample(spark, ra, seeds, Seq(10, 5)).count()
      }
      results += "graph_neighbor_sample" -> tNs
      val (_, tN2v) = timedLeg("graph_node2vec_walks")(
        graft.ml.GraphLearn.node2vecWalks(
          spark, ra, length = 8, nWalks = 1, wReturn = 2, wInner = 1, wOuter = 4).count())
      results += "graph_node2vec_walks" -> tN2v
      // HyperBall harmonic/closeness (8 rounds: past the RA graph's
      // effective diameter) — the ball-series superstep + the T+1
      // exchange-free centrality joins
      val (_, tHarm) = timedLeg("graph_harmonic")(
        graft.algos.Reach.harmonicCloseness(spark, ra, iters = 8).count())
      results += "graph_harmonic" -> tHarm
      // eigenvector on the transcript graph (same CSR + superstep shape as
      // PageRank/HITS — comparability row for the message-join family)
      val (_, tEig) = timedLeg("eigenvector")(
        graft.algos.Centrality.eigenvector(
          spark, g, graft.algos.Centrality.Config(maxIter = 10, tol = 0.0)).count())
      results += "eigenvector" -> tEig
      // weighted PageRank (event-multiplicity weights, 10 supersteps) —
      // the weighted-CSR twin of pagerank_fixed20's message join
      val (_, tWpr) = timedLeg("pagerank_weighted10") {
        val weights = g.edges.groupBy("src", "dst").agg(count(lit(1)).as("w"))
        graft.algos.PageRank.weighted(
          spark, g, weights, graft.algos.PageRank.Config(maxIter = 10, tol = 0.0)).count()
      }
      results += "pagerank_weighted10" -> tWpr
      // MIS on the RA graph: symmetry-breaking round family (few rounds —
      // winners + their neighbourhoods decide most of the graph early)
      val (_, tMis) = timedLeg("graph_mis")(
        graft.algos.Independent.maximalIndependentSet(spark, ra).count())
      results += "graph_mis" -> tMis

      // --- one relational headline on the provided testdata ---
      val (_, tRel) = time(SparkEntry.queries("q_agg_groupby")(spark, sfDir).count())
      results += "q_agg_groupby" -> tRel

      // permuted-timestamps null model on the event edges (two two-phase
      // ranks + one rank-keyed join — the shuffled-column reference model)
      val (_, tNull) = time(
        graft.graph.NullModels
          .permutedTimestamps(graft.rel.Queries.eventEdges(spark, sfDir))
          .count())
      results += "graph_null_permuted" -> tNull

      // --- LLM-pipeline operators on the provided testdata (the ML surface
      // is graded first-class; measure it, don't guess) ---
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").persist()
      extras += "n_docs" -> docs.count().toDouble
      val (_, tMinhash) = time(
        graft.ml.Dedup.minHashLsh(docs, threshold = 0.4).count())
      results += "dedup_minhash_lsh" -> tMinhash
      val (_, tSpans) = time(
        graft.ml.Dedup.duplicateSpans(docs, minTokens = 8, minDocs = 2).count())
      results += "dedup_substring_spans" -> tSpans
      val (_, tAnalyze) = time(graft.ml.TextAnalysis.analyze(docs).count())
      results += "text_analyze" -> tAnalyze
      val (idx, tIdx) = time {
        val i = graft.search.TextSearch.buildIndex(docs, "doc_id", "text").persist()
        i.count()
        i
      }
      results += "text_index_build" -> tIdx
      val (_, tBm25) = time(
        graft.search.TextSearch.searchRanked(idx, Seq("spark", "join", "window"), k = 100).count())
      results += "text_bm25_topk" -> tBm25
      idx.unpersist(false)
      // line dedup at line granularity: the corpus has no newlines, so chunk
      // into 8-word lines first (the q_dedup_lines shape) — the measured cost
      // is then the real one-exchange-per-corpus-LINE census
      val (_, tLines) = time {
        val tk = "split(text, '\\\\s+')"
        val chunked = docs.select(
          col("doc_id"),
          expr(
            "array_join(transform(sequence(0, (size(" + tk + ") + 7) div 8 - 1), " +
              "i -> array_join(slice(" + tk + ", i * 8 + 1, 8), ' ')), '\\n')").as("text"))
        graft.ml.Dedup.dedupLines(chunked).count()
      }
      results += "dedup_lines" -> tLines
      val (_, tClf) = time(graft.ml.TextAnalysis.classifierScore(docs).count())
      results += "text_classifier" -> tClf
      val (_, tNgram) = time(graft.ml.TextAnalysis.ngramCensus(docs).count())
      results += "text_ngram_census" -> tNgram
      // BPE induction: one corpus-scale word count, then 4 vocabulary-sized
      // census rounds (pair explode → partial-agg → TakeOrdered(1) argmax)
      val (_, tBpe) = time(graft.ml.Bpe.learnMerges(docs, rounds = 4).count())
      results += "text_bpe_merges" -> tBpe
      val (_, tShuf) = time(graft.ml.Sampling.epochShuffle(docs).count())
      results += "sample_epoch_shuffle" -> tShuf
      // DSIR selection (hashed unigram+bigram models, target = src0/src1)
      // and the exact CCNet-thirds partition over the trigram-LM perplexity
      val (_, tDsir) = time(
        graft.ml.CorpusOps
          .dsirSelect(docs, docs.filter(col("source").isin("src0", "src1")), k = 100)
          .count())
      results += "text_dsir_select" -> tDsir
      val (_, tPplB) = time {
        val ppl = graft.ml.TextAnalysis.lmQuality(docs)
          .select(col("doc_id"), col("perplexity"))
        graft.ml.CorpusOps.quantileBuckets(ppl, "perplexity", nBuckets = 3).count()
      }
      results += "text_perplexity_buckets" -> tPplB
      docs.unpersist(false)
      val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet").persist()
      extras += "n_vecs" -> vecs.count().toDouble
      val (_, tLshSim) = time(
        graft.ml.Similarity
          .lshTopK(vecs, vecs.filter(col("vec_id") < 100), k = 10, bands = 8, bitsPerBand = 4)
          .count())
      results += "sim_lsh_topk100q" -> tLshSim
      val (_, tSemDedup) = timedLeg("dedup_semantic")(
        graft.ml.SemDedup.semDedup(vecs, threshold = 0.35, nCells = 16).count())
      results += "dedup_semantic" -> tSemDedup
      // k-means training (16 cells, 3 assignment rounds) + the trained-IVF
      // probe over the same centroids — the production-quantizer path
      val (kmRes, tKmeans) = time {
        val r = graft.ml.Clustering.kmeans(vecs, k = 16, assignRounds = 3)
        r.assignment.count()
        r
      }
      results += "embed_kmeans" -> tKmeans
      val (_, tIvfT) = time(
        graft.ml.Similarity
          .ivfTopKTrained(vecs, vecs.filter(col("vec_id") < 100), k = 10,
            centroids = kmRes.centroids, nProbe = 4)
          .count())
      results += "sim_ivf_trained_topk100q" -> tIvfT
      vecs.unpersist(false)

      // --- streaming surface: the stateful paths get MEASURED, not just
      // tested. Both run Trigger.AvailableNow over temp-dir drops so the
      // numbers are end-to-end (source discovery → stateful op → sink). ---
      locally {
        import java.nio.file.Files
        // Sessionize: cross-batch conversation linking over flatMapGroupsWithState
        val sConvs = math.max(nConvs / 4L, 50L)
        val sIn = Files.createTempDirectory("graft-bench-sess-in").toString
        val sCk = Files.createTempDirectory("graft-bench-sess-ck").toString
        val sSt = Files.createTempDirectory("graft-bench-sess-store").toString
        TranscriptGen.transcripts(spark, sConvs).write.mode("overwrite").parquet(sIn)
        val nTurns = spark.read.parquet(sIn).count()
        val store = new graft.sources.GraphStore(sSt, spark)
        val (_, tSess) = time {
          graft.streaming.Sessionize.start(spark, sIn, store, sCk).awaitTermination(300000)
        }
        results += "stream_sessionize" -> tSess
        extras += "stream_sessionize_turns_per_sec" -> nTurns / tSess

        // StreamingDedup: watermarked exact dedup over the documents corpus
        val dIn = Files.createTempDirectory("graft-bench-dedup-in").toString
        val dCk = Files.createTempDirectory("graft-bench-dedup-ck").toString
        val docsTs = spark.read.parquet(s"$sfDir/documents.parquet")
          .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("doc_id")))
        docsTs.write.mode("overwrite").parquet(dIn)
        val nDocsS = spark.read.parquet(dIn).count()
        val outCount = new java.util.concurrent.atomic.AtomicLong(0L)
        val (_, tDedup) = time {
          val stream = spark.readStream
            .schema(docsTs.schema)
            .parquet(dIn)
          graft.streaming.StreamingDedup.dedupExact(stream)
            .writeStream
            .option("checkpointLocation", dCk)
            .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              outCount.addAndGet(b.count())
              ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
            .awaitTermination(300000)
        }
        results += "stream_dedup" -> tDedup
        extras += "stream_dedup_docs_per_sec" -> nDocsS / tDedup
        extras += "stream_dedup_out_rows" -> outCount.get().toDouble
      }
      // post-run calibration (the ceiling drifts over a ~10-min run)
      calibrate("post")
    }
    extras += "gc_share" -> whole.gcShare
    extras += "cpu_share" -> whole.cpuShare
    spark.stop()

    // --- embedded two-parallelism scaling CANARY (N → 4N, north-rule
    // shape, in the JSON so round-over-round regressions are visible
    // without BENCH.md prose): the SAME fixed-superstep PageRank job on
    // the SAME generated input at 2 vs 8 local cores, fresh session per
    // leg, the window bracketed by pure-CPU, memory-streaming and
    // random-gather calibrations (graft.bench.Scaling.gatedPair). 2→8 is
    // the pair where per-core WORK dominates at a single-box size — at 32
    // threads even a 4×-bench-scale graph is fixed-overhead-bound and the
    // ratio measures scheduling, not scaling (measured: eff 0.16 with
    // clean calibration brackets). The GATE evidence proper stays with the
    // full-size input (Scaling.main, pairs incl. 8→32 at 10-100× this
    // size; BENCH.md). Medians of per-superstep walls are the burst-robust
    // signal; totals reported alongside. ---
    if (sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") != "0") {
      val hiC = math.min(8, hiThreads)
      val loC = math.max(2, hiC / 4)
      // 4× the headline input (capped at the full-size gate workload): at
      // the bench-scale 564k edges the 8-core leg spends ~half of each
      // 0.6 s superstep in fixed stage overhead, so ±0.2 s of scheduler
      // noise swings the ratio 0.5↔0.8 between windows (observed). At
      // ~2.3M edges both legs are work-dominant and the canary measures
      // per-core scaling, not stage-launch latency.
      val canaryConvs = math.min(4 * nConvs, 400000L)
      extras += "scaling_convs" -> canaryConvs.toDouble
      extras += "scaling_lo_cores" -> loC.toDouble
      extras += "scaling_hi_cores" -> hiC.toDouble
      extras += "scaling_supersteps" -> 8.0

      extras ++= Scaling.gatedPair("scaling", loC, hiC, canaryConvs, 8)

      // --- 8→32 pair (north-rule N→4N at the box's full thread count),
      // emitted as scaling8_* so the driver JSON itself carries the high
      // pair: a single box does NOT add DRAM channels with threads the way
      // a real cluster adds them with executors, so alongside the raw
      // wall efficiency the pair embeds the same-window pure-CPU, memory-
      // streaming and random-gather ceilings measured at exactly 8 vs 32
      // threads. Input is 4× the canary (capped at the full-size gate
      // workload) so both legs are work-dominant, not stage-launch-bound.
      if (hiThreads >= 32) {
        val convs8 = math.min(4 * canaryConvs, 400000L)
        extras += "scaling8_convs" -> convs8.toDouble
        extras ++= Scaling.gatedPair("scaling8", 8, 32, convs8, 8)
      }
    }

    val qs = (results ++ extras).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.values.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus}""")
  }
}
