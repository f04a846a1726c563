package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.bsp.{Pin, SuperstepRunner}
import graft.graph.TemporalGraph

/**
 * Graph-ML training-data preparation: the operators a link-prediction /
 * GNN / node-embedding training pipeline runs over a web-scale link graph
 * before any model sees a batch. Everything is DETERMINISTIC in the
 * [[Sampling]] sense — sampling decisions are pure functions of
 * (seed, entity ids) in the portable hash family, so outputs are stable
 * under repartitioning, re-runs and engines (the DuckDB oracle replays
 * every operator end-to-end; `rand()`-based sampling has none of these
 * properties and cannot be audited).
 *
 * Scale shapes (the part that must survive 100 TB):
 *  - [[neighborSample]]: per hop, the candidate ranking runs over DISTINCT
 *    frontier parents only (semi-join prune BEFORE the per-source window;
 *    Spark 4's WindowGroupLimit pre-limits each partition to the fan-out
 *    before the rank exchange), then fans out to (seed, parent) pairs by a
 *    bounded ≤ k join. No step touches more than |frontier|·k rows.
 *  - [[randomWalks]]: one adjacency exchange TOTAL (the salted CSR is
 *    persisted hash-partitioned on src and reused every step, the
 *    superstep contract from the iterative algorithms); each step ships
 *    one row per live walker per touched CSR shard — a walker at a
 *    degree-10M hub costs ⌈deg/maxShard⌉ shard rows, never a 10M-row
 *    explode, because the per-shard argmin is a fused array expression.
 *    Superstep STATE is the frontier only (one row per live walker);
 *    each step's corpus block is pinned separately and the corpus is
 *    assembled once at the end (the Reach.ballSeries pattern), so
 *    checkpoint traffic is O(length·walkers), never O(length²·walkers).
 *  - [[linkSplit]]: a stateless projection (no shuffle at all).
 *  - [[negativeSample]]: candidate generation joins (src, k) probes to a
 *    hash-bucketed node table — per probe the fan-out is ONE bucket
 *    (~|V|/nBuckets rows), tunable, never a cross join against |V|; the
 *    rejection anti-join runs on the ≤ |E|·k sampled pairs only.
 */
object GraphLearn {

  private val P = 1000000007L
  // one multiplier per mixed component (primes; same family as Sampling).
  // Public: the oracle SQL builders in rel.Queries mirror hash part order
  // and multipliers exactly, via [[hmixSql]].
  val M1 = 73856093L
  val M2 = 19349663L
  val M3 = 83492791L
  val M4 = 15485863L
  val M5 = 49979693L

  /** pmod into [0, P) — ANSI-total for full-range longs (see Sampling). */
  private def pm(c: Column): Column = pmod(c.cast("long"), lit(P))

  /**
   * Portable multi-component hash: fold each component as
   * `acc = (acc + pmod(x, P)·m mod P) mod P`. Every intermediate stays
   * below P·maxM ≈ 8.3e16 ≪ 2^63, so the same expression evaluates
   * identically (and without ANSI overflow) in Spark and DuckDB; the
   * SQL twin is [[hmixSql]].
   */
  def hmix(seed: Long, parts: (Column, Long)*): Column = {
    val s = ((seed % P) + P) % P
    parts.foldLeft(lit(s): Column) { case (acc, (c, m)) =>
      (acc + pm(c) * m % P) % P
    }
  }

  /** DuckDB text of [[hmix]] — identical fold, identical reductions. */
  def hmixSql(seed: Long, parts: (String, Long)*): String = {
    val s = ((seed % P) + P) % P
    parts.foldLeft(s"CAST($s AS BIGINT)") { case (acc, (x, m)) =>
      s"(($acc + ((CAST($x AS BIGINT) % $P + $P) % $P) * $m % $P) % $P)"
    }
  }

  // ------------------------------------------------------------------
  // Link-prediction dataset: edge split + negative sampling
  // ------------------------------------------------------------------

  /**
   * Deterministic train/val/test split of an edge table for link
   * prediction: each edge's assignment is a pure function of
   * (seed, src, dst), so the split is identical on any partitioning and
   * any engine, and re-running with the same seed never leaks val/test
   * edges into train. Adds a `split` column; nothing else moves — this is
   * a stateless projection that composes with any downstream filter
   * (`split = 'train'` pushes to the scan).
   */
  def linkSplit(
      edges: DataFrame,
      trainFrac: Double = 0.8,
      valFrac: Double = 0.1,
      seed: Long = 42L,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      s"invalid fractions: train=$trainFrac val=$valFrac")
    val u = hmix(seed, (col(srcCol), M1), (col(dstCol), M2)) % 1000000L
    val tThr = math.round(trainFrac * 1e6)
    val vThr = math.round((trainFrac + valFrac) * 1e6)
    edges.withColumn(
      "split",
      when(u < tThr, lit("train")).when(u < vThr, lit("val")).otherwise(lit("test")))
  }

  /**
   * Deterministic negative sampling for link prediction: for each distinct
   * positive source and k-index draw a candidate destination, reject
   * self-pairs and true edges (the standard filtered-uniform scheme).
   *
   * The draw is a two-level hash so it never enumerates |V| per probe:
   * nodes are pre-bucketed by `hash(id) mod nBuckets`; a probe (src, k)
   * hashes to ONE bucket and takes the bucket member minimizing
   * `hash(seed, src, k, id)` — per-probe work is one bucket (~|V|/nBuckets
   * rows, sized by the caller), the distribution over nodes is uniform up
   * to bucket-population variance, and every choice replays in SQL.
   * Probes whose candidate is rejected are DROPPED, not re-drawn
   * (re-drawing is a data-dependent loop; callers wanting exactly k
   * survivors oversample — the shortfall is visible as missing k-indices,
   * the no-silent-caps convention).
   *
   * @return (src, k_idx, neg_dst) — ≤ k rows per distinct source
   */
  def negativeSample(
      edges: DataFrame,
      k: Int = 2,
      nBuckets: Int = 64,
      seed: Long = 42L,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(k > 0 && nBuckets > 0, s"k=$k nBuckets=$nBuckets must be positive")
    val pos = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val nodes = pos.select(col("src").as("id"))
      .union(pos.select(col("dst").as("id"))).distinct()
      .withColumn("bucket", hmix(seed, (col("id"), M3)) % nBuckets)
    val probes = pos.select("src").distinct()
      .withColumn("k_idx", explode(array((0 until k).map(i => lit(i)): _*)))
      .withColumn("bucket", hmix(seed, (col("src"), M1), (col("k_idx"), M2)) % nBuckets)
    val cand = probes.join(nodes, Seq("bucket"))
      .withColumn("__h",
        hmix(seed, (col("src"), M1), (col("k_idx"), M2), (col("id"), M4)))
      .groupBy("src", "k_idx")
      .agg(min(struct(col("__h"), col("id"))).as("m"))
      .select(col("src"), col("k_idx").cast("long").as("k_idx"), col("m.id").as("neg_dst"))
    cand
      .filter(col("neg_dst") =!= col("src"))
      .join(pos.withColumnRenamed("dst", "neg_dst"), Seq("src", "neg_dst"), "left_anti")
      .select("src", "k_idx", "neg_dst") // pin order (using-join hoists keys)
  }

  // ------------------------------------------------------------------
  // GNN fan-out sampling (GraphSAGE-style layer sampling)
  // ------------------------------------------------------------------

  /**
   * Multi-hop deterministic neighbor sampling — the GraphSAGE /
   * PinSAGE-style fan-out that turns a web-scale graph into bounded
   * per-seed computation trees for minibatch GNN training: hop h keeps at
   * most `fanouts(h-1)` out-neighbors per frontier node, chosen as the
   * neighbors minimizing `hash(seed, hop, node, nbr)` (ties by nbr).
   *
   * The per-node hop-h sample is a pure function of (seed, hop, node) —
   * deliberately SHARED across seeds whose trees meet at a node (layer-wise
   * sampling): dedup-able work, and the union of trees stays a subgraph
   * bounded by |frontier|·k. Seeds revisiting a node at a different hop
   * draw a fresh sample (hop is mixed into the hash).
   *
   * @param seeds one column `seed` — the minibatch's root nodes
   * @return (seed, hop 1-based, src, dst): the sampled computation tree
   *         edges, grouped per seed; hop-h dst values are hop-h+1 srcs
   */
  def neighborSample(
      spark: SparkSession,
      g: TemporalGraph,
      seeds: DataFrame,
      fanouts: Seq[Int],
      seed: Long = 42L): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ > 0), s"bad fanouts: $fanouts")
    val edges = g.simpleEdges
    // Deliberately LAZY across hops (r6 measured decision): a per-hop
    // eager pin (the walkLoop idiom) was tried and REGRESSED this shape —
    // at the declared 2-hop fan-outs the duplicate evaluation of the hop-1
    // subtree (it feeds both the final union and hop 2's frontier) costs
    // less than the extra materialization jobs the pins add (sf0.1/32t
    // paired runs: wall 2.65 → 2.91 s, task-sec 43.5 → 51.1). Revisit if
    // a caller needs H ≥ 3 hops, where the lazy prefix re-evaluation
    // compounds ~H-fold.
    var frontier = seeds.select(col("seed")).distinct()
      .withColumn("src", col("seed"))
    var out: Option[DataFrame] = None
    for ((k, i) <- fanouts.zipWithIndex) {
      val hop = i + 1
      val parents = frontier.select("src").distinct()
      val w = Window.partitionBy("src").orderBy(col("__h"), col("dst"))
      val ranked = edges.join(parents, Seq("src"), "left_semi")
        .withColumn("__h", hmix(seed, (lit(hop), M3), (col("src"), M1), (col("dst"), M2)))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .select("src", "dst")
      val block = frontier.join(ranked, Seq("src"))
        .select(col("seed"), lit(hop.toLong).as("hop"), col("src"), col("dst"))
      out = Some(out.fold(block)(_.unionByName(block)))
      frontier = block.select(col("seed"), col("dst").as("src")).distinct()
    }
    out.get
  }

  // ------------------------------------------------------------------
  // Deterministic random-walk corpus (DeepWalk / node2vec input)
  // ------------------------------------------------------------------

  /**
   * Walk-corpus generation for skip-gram node embeddings (DeepWalk):
   * `nWalks` walks of ≤ `length` steps start at every node; at each step
   * the walker at `cur` moves to the out-neighbor minimizing
   * `hash(seed, start, walk, step, nbr)` (ties by nbr) — a deterministic
   * stand-in for the uniform transition that keeps the corpus replayable
   * row-for-row (each (start, walk) traces ONE fixed path; across the
   * corpus the per-step choices are hash-uniform over each node's
   * neighborhood, which is what the embedding objective samples from).
   * Walkers at a sink (no out-edges) stop early.
   *
   * Runs under [[SuperstepRunner]] like every iterative algorithm: the
   * salted CSR ([[TemporalGraph.adjacencyOut]]) is persisted
   * hash-partitioned on src once; each step exchanges only the live
   * walker frame. The per-shard argmin is `array_min` over a
   * `transform`-ed (hash, nbr) struct array — a fused columnar loop, no
   * explode — and shard minima combine in the walker-key groupBy, so hub
   * sharding never leaves the CSR row count.
   *
   * Superstep STATE is the FRONTIER only — one (start, walk, node) row
   * per live walker; each step's corpus block is pinned separately and
   * the corpus is assembled (and pinned) once at the end, so per-step
   * checkpoint traffic is frontier-sized and the total is
   * O(length·walkers) — not the O(length²·walkers) a
   * corpus-in-state design re-writes. (No checkpoint/resume surface here:
   * a resumed frontier could not reconstruct the per-step blocks already
   * emitted in a dead process, so offering one would be a silent-data-loss
   * trap — persist the RESULT corpus instead, it is the durable artifact.)
   *
   * @return (start, walk, step 0-based, node) — step 0 is the start node
   */
  def randomWalks(
      spark: SparkSession,
      g: TemporalGraph,
      length: Int = 8,
      nWalks: Int = 1,
      seed: Long = 42L): DataFrame =
    randomWalksFull(spark, g, length, nWalks, seed)._1

  /** [[randomWalks]] also returning the superstep [[SuperstepRunner.RunResult]]
    * — the final state is the (already-freed) FRONTIER frame, exposed so
    * tests can assert the state stays walker-sized, and per-step `live`
    * metrics ride along. */
  private[graft] def randomWalksFull(
      spark: SparkSession,
      g: TemporalGraph,
      length: Int = 8,
      nWalks: Int = 1,
      seed: Long = 42L): (DataFrame, SuperstepRunner.RunResult) = {
    require(length >= 1 && length <= 64, s"length=$length out of [1, 64]")
    require(nWalks >= 1 && nWalks <= 1024, s"nWalks=$nWalks out of [1, 1024]")
    Pin.scope { pins =>
      val adj = pins.persist(g.adjacencyOut.repartition(col("src")))
      val init = g.nodes
        .select(col("id").as("start"))
        .withColumn("walk", explode(array((0 until nWalks).map(i => lit(i.toLong)): _*)))
        .withColumn("node", col("start"))

      walkLoop(pins, init, length, "walks") { (state, k) =>
        val frontier = state.select(col("start"), col("walk"), col("node").as("cur"))
        val pick = transform(
          col("dsts"),
          x => struct(
            hmix(seed, (col("start"), M1), (col("walk"), M2), (lit(k), M3), (x, M4)).as("h"),
            x.as("n")))
        frontier
          .join(adj, frontier("cur") === adj("src"))
          .select(col("start"), col("walk"), array_min(pick).as("m"))
          .groupBy("start", "walk")
          .agg(min(col("m")).as("m"))
          .select(col("start"), col("walk"), col("m.n").as("node"))
      }
    }
  }

  /**
   * Hand-rolled frontier loop shared by the walk families. Each step's
   * PINNED frontier doubles as that step's corpus block — the r5 shape ran
   * under [[SuperstepRunner]], whose truncate pinned the state and whose
   * evaluate then pinned a SECOND copy as the block (two materializations
   * + a count per step; measured ≤ 10% CPU occupancy on the bench legs —
   * per-step job latency, not compute, dominated). Retention is unchanged
   * (every step's frontier stays cached until the one end-of-run corpus
   * assembly, O(length·walkers) total), per-step traffic halves, and the
   * loop still stops early when the frontier empties. Lineage is truncated
   * by the per-step pin exactly as the runner did. Frontiers are pinned
   * through the caller's scope, so they are freed when it ends; only the
   * returned corpus is handed back.
   *
   * @param mkStep (pinned state, step k ≥ 1) => next-frontier plan
   * @return (corpus = union of per-step frontiers with their `step`,
   *         RunResult with the final frontier + per-step live/wallMs)
   */
  private def walkLoop(pins: Pin.Scope, init: DataFrame, length: Int, name: String)(
      mkStep: (DataFrame, Int) => DataFrame): (DataFrame, SuperstepRunner.RunResult) = {
    var state = pins.pin(init)
    val frames = scala.collection.mutable.ArrayBuffer[(Long, DataFrame)](0L -> state)
    var metrics = List.empty[Map[String, Double]]
    var step = 0
    var done = false
    while (!done && step < length) {
      step += 1
      val t0 = System.nanoTime()
      val stepPlan = mkStep(state, step)
      if (step == math.min(2, length))
        SuperstepRunner.explainHook(s"${name}_superstep", stepPlan)
      state = pins.pin(stepPlan)
      frames += step.toLong -> state
      val live = state.count()
      done = live == 0L
      metrics ::= Map("live" -> live.toDouble, "wallMs" -> (System.nanoTime() - t0) / 1e6)
    }
    val res = SuperstepRunner.RunResult(state, step, done, metrics.reverse)
    // ONE full-corpus pin; the scope then frees every per-step frontier
    // (incl. the final state) — nothing stays cached but the returned
    // frame. Block columns: (start, walk, step, node[, ts]) —
    // walker-internal columns (node2vec's prev) stay out of the corpus.
    val corpus = Pin.pin(
      frames
        .map { case (k, f) =>
          val cols = Seq(col("start"), col("walk"), lit(k).as("step")) ++
            f.columns.filter(c => c == "node" || c == "ts").map(col)
          f.select(cols: _*)
        }
        .reduce(_.unionByName(_)))
    (corpus, res)
  }

  /**
   * node2vec-BIASED walk corpus (Grover & Leskovec 2016): the 2nd-order
   * walk whose transition out of `cur` is weighted by where the candidate
   * sits relative to the PREVIOUS node — `wReturn` for going back to prev
   * (the paper's 1/p), `wInner` for candidates adjacent to prev (BFS-ish,
   * weight 1), `wOuter` for distance-2 candidates (1/q, DFS-ish). Step 1
   * is uniform (no prev), and weights here are small INTEGERS: the pick
   * replicates each candidate `w` times and takes the hash-argmin over
   * all (candidate, replica) pairs — P(c) = w(c)/Σw EXACTLY (all Σw
   * hashes are exchangeable, each is the minimum with equal probability),
   * with zero float arithmetic, so the corpus is replayable row-for-row
   * by the DuckDB oracle like [[randomWalks]].
   *
   * Scale shape: the salted out-CSR and the undirected neighbour-array
   * table are both persisted hash-partitioned ONCE; each step exchanges
   * only the walker frame (twice: once keyed on prev for the
   * classification array, once on cur for the candidates). Per
   * walker-shard row the cost is one `array_intersect(dsts_shard,
   * prev_nbrs)` — O(|shard| + deg(prev)) — plus ≤ maxWeight·|shard|
   * replica hashes; a hub PREV contributes its (single, linkFeatures-
   * style) full neighbour array to that scan, a hub CUR only ever
   * appears as bounded shard rows.
   *
   * @return (start, walk, step 0-based, node) — step 0 is the start node
   */
  def node2vecWalks(
      spark: SparkSession,
      g: TemporalGraph,
      length: Int = 8,
      nWalks: Int = 1,
      wReturn: Int = 1,
      wInner: Int = 1,
      wOuter: Int = 1,
      seed: Long = 42L): DataFrame = {
    require(length >= 1 && length <= 64, s"length=$length out of [1, 64]")
    require(nWalks >= 1 && nWalks <= 1024, s"nWalks=$nWalks out of [1, 1024]")
    Seq("wReturn" -> wReturn, "wInner" -> wInner, "wOuter" -> wOuter).foreach {
      case (n, w) => require(w >= 1 && w <= 16, s"$n=$w out of [1, 16]")
    }
    Pin.scope { pins =>
      val adj = pins.persist(g.adjacencyOut.repartition(col("src")))
      val nbrs = pins.persist(g.undirectedPairs
        .filter(col("node") =!= col("nbr"))
        .groupBy("node")
        .agg(sort_array(collect_list(col("nbr"))).as("pn")))
      val emptyArr = array().cast("array<bigint>")
      // frontier-only state: (start, walk, node, prev) — one row per live
      // walker; each pinned frontier doubles as the corpus block (walkLoop)
      val init = g.nodes
        .select(col("id").as("start"))
        .withColumn("walk", explode(array((0 until nWalks).map(i => lit(i.toLong)): _*)))
        .withColumn("node", col("start"))
        .withColumn("prev", lit(null).cast("long"))

      walkLoop(pins, init, length, "n2v") { (state, k) =>
        val frontier = state.select(col("start"), col("walk"), col("node").as("cur"), col("prev"))
        // step 1 has NO prev (uniform step): skip the classification join
        // entirely — an all-NULL join key never matches but hashes every
        // walker into ONE reducer partition, a full-frontier skew funnel
        val classified =
          if (k == 1) frontier.withColumn("pn", emptyArr)
          else
            frontier
              .join(nbrs, frontier("prev") === nbrs("node"), "left")
              .select(
                col("start"), col("walk"), col("cur"), col("prev"),
                coalesce(col("pn"), emptyArr).as("pn"))
        val joined = classified
          .join(adj, classified("cur") === adj("src"))
          // once per (walker, shard) row, NOT per candidate
          .withColumn("inter", array_intersect(col("dsts"), col("pn")))
        def weight(c: Column): Column =
          when(col("prev").isNull, lit(1L))
            .when(c === col("prev"), lit(wReturn.toLong))
            .when(array_contains(col("inter"), c), lit(wInner.toLong))
            .otherwise(lit(wOuter.toLong))
        val pick = array_min(flatten(transform(
          col("dsts"),
          c => transform(
            sequence(lit(0L), weight(c) - 1L),
            r => struct(
              hmix(seed,
                (col("start"), M1), (col("walk"), M2), (lit(k), M3),
                (c, M4), (r, M5)).as("h"),
              c.as("n"))))))
        joined
          .select(col("start"), col("walk"), col("cur"), pick.as("m"))
          .groupBy("start", "walk", "cur") // cur is unique per (start, walk)
          .agg(min(col("m")).as("m"))
          .select(
            col("start"), col("walk"),
            col("m.n").as("node"), col("cur").as("prev"))
      }._1
    }
  }

  /**
   * TIME-RESPECTING walk corpus (CTDNE, Nguyen et al. 2018) — the temporal
   * twin of [[randomWalks]] for a temporal link graph: a walker at node
   * `cur` holding time `t` may only traverse edge EVENTS with
   * `src = cur AND ts > t` (strictly later — causal paths, the same
   * ordering [[graft.algos.Paths.temporalReachability]] respects), takes
   * the event minimizing `hash(seed, start, walk, step, dst, ts)` (ties by
   * (dst, ts)) and adopts that event's timestamp. Walks start at every
   * node at time `startTs` (default: before everything).
   *
   * Scale shape = [[randomWalks]]: one persisted salted temporal CSR
   * (events grouped per src, hub-sharded), per-step eligibility + argmin
   * fused into `array_min(transform(filter(...)))` over the shard arrays —
   * no event explode, walker frame is the only per-step exchange.
   *
   * @return (start, walk, step 0-based, node, ts) — step 0 carries startTs
   */
  def temporalWalks(
      spark: SparkSession,
      g: TemporalGraph,
      length: Int = 8,
      nWalks: Int = 1,
      seed: Long = 42L,
      startTs: Long = Long.MinValue,
      maxShard: Int = TemporalGraph.DefaultMaxShard): DataFrame = {
    require(length >= 1 && length <= 64, s"length=$length out of [1, 64]")
    require(nWalks >= 1 && nWalks <= 1024, s"nWalks=$nWalks out of [1, 1024]")
    // salted temporal CSR over distinct (src, dst, ts) events — the
    // adjacencyOut sharding contract, entries carry the event time
    val ev = g.edges.select(col("src"), col("dst"), col("ts")).distinct()
    val deg = ev.groupBy("src").agg(count(lit(1)).as("deg"))
    Pin.scope { pins =>
      val adj = pins.persist(ev
        .join(deg, Seq("src"))
        .withColumn(
          "salt",
          pmod(xxhash64(col("dst"), col("ts")),
            greatest(ceil(col("deg") / maxShard.toDouble), lit(1L))).cast("int"))
        .groupBy("src", "salt")
        .agg(collect_list(struct(col("ts"), col("dst"))).as("evs"))
        .repartition(col("src")))

      // frontier-only state: (start, walk, node, ts) — each pinned
      // frontier doubles as the corpus block (walkLoop)
      val init = g.nodes
        .select(col("id").as("start"))
        .withColumn("walk", explode(array((0 until nWalks).map(i => lit(i.toLong)): _*)))
        .withColumn("node", col("start"))
        .withColumn("ts", lit(startTs))

      walkLoop(pins, init, length, "twalks") { (state, k) =>
        val frontier = state
          .select(col("start"), col("walk"), col("node").as("cur"), col("ts").as("t"))
        val pick = transform(
          filter(col("evs"), x => x("ts") > col("t")),
          x => struct(
            hmix(seed, (col("start"), M1), (col("walk"), M2), (lit(k), M3),
              (x("dst"), M4), (x("ts"), M5)).as("h"),
            x("dst").as("n"),
            x("ts").as("ets")))
        frontier
          .join(adj, frontier("cur") === adj("src"))
          .select(col("start"), col("walk"), array_min(pick).as("m"))
          .filter(col("m").isNotNull)
          .groupBy("start", "walk")
          .agg(min(col("m")).as("m"))
          .select(
            col("start"), col("walk"),
            col("m.n").as("node"), col("m.ets").as("ts"))
      }._1
    }
  }

  /**
   * Topological link-prediction features for candidate node pairs — the
   * classic Liben-Nowell/Kleinberg feature set a link-prediction trainer
   * joins onto its (positive ∪ negative) candidate table:
   *
   *  - `cn`      common-neighbour count |N(a) ∩ N(b)| (BOTH-direction,
   *              distinct, self-loops excluded)
   *  - `jaccard` cn / |N(a) ∪ N(b)| (0.0 when both neighborhoods empty)
   *  - `aa`      Adamic–Adar Σ_{w ∈ N(a)∩N(b)} 1/ln(deg w) — the fold runs
   *              over the SORTED intersection (degree-decorated neighbour
   *              arrays are sort_array'd, and `array_intersect` preserves
   *              first-array order), so the float sum has ONE fixed order:
   *              replayable bit-for-bit by the oracle, stable across
   *              partitionings (deg w ≥ 2 for any common neighbour, so
   *              ln ≥ ln 2 — no division blow-up)
   *  - `pa`      preferential attachment deg(a)·deg(b) (long; overflows
   *              only if BOTH endpoints exceed degree ~3·10⁹)
   *
   * Scale shape: two joins of the pair table against the degree-decorated
   * neighbour-array table (one row per node, array bounded by degree — the
   * adjacencyOut CSR caveat applies: pair features against a degree-10⁸
   * hub need the hub row; cap with a degree filter upstream if that
   * matters), then pure array expressions — no per-pair explode, no
   * triangle-style enumeration.
   *
   * @param pairs candidate pairs; extra columns (label, …) pass through
   */
  def linkFeatures(
      spark: SparkSession,
      g: TemporalGraph,
      pairs: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = g.undirectedPairs.filter(col("node") =!= col("nbr"))
    val deg = und.groupBy("node").agg(count(lit(1)).as("deg"))
    val narr = und
      .join(
        deg.select(col("node").as("nbr"), col("deg").as("nbr_deg")), Seq("nbr"))
      .groupBy("node")
      .agg(sort_array(collect_list(struct(col("nbr"), col("nbr_deg")))).as("narr"))
    val emptyArr = array().cast("array<struct<nbr:bigint,nbr_deg:bigint>>")
    // join both sides against the SAME narr subtree (aliases, renames only
    // above the join): the two shuffle exchanges of the neighbour-array
    // aggregation are then identical, so Catalyst's ReuseExchange computes
    // narr ONCE at scale instead of once per side
    val na = narr.as("__gl_na")
    val nb = narr.as("__gl_nb")
    val withA = pairs.join(na, pairs(srcCol) === col("__gl_na.node"), "left")
    val withB = withA
      .join(nb, col(dstCol) === col("__gl_nb.node"), "left")
      .withColumn("__na", col("__gl_na.narr"))
      .withColumn("__nb", col("__gl_nb.narr"))
      .drop(col("__gl_na.node")).drop(col("__gl_na.narr"))
      .drop(col("__gl_nb.node")).drop(col("__gl_nb.narr"))
    val cnA = array_intersect(
      coalesce(col("__na"), emptyArr), coalesce(col("__nb"), emptyArr))
    val da = size(coalesce(col("__na"), emptyArr)).cast("long")
    val db = size(coalesce(col("__nb"), emptyArr)).cast("long")
    withB
      .withColumn("__cn", cnA)
      .withColumn("cn", size(col("__cn")).cast("long"))
      .withColumn(
        "jaccard",
        when(da + db - col("cn") > 0L,
          round(col("cn").cast("double") / (da + db - col("cn")).cast("double"), 6))
          .otherwise(lit(0.0)))
      .withColumn(
        "aa",
        round(
          aggregate(
            col("__cn"), lit(0.0),
            (acc, x) => acc + lit(1.0) / log(x("nbr_deg").cast("double"))),
          6))
      .withColumn("pa", da * db)
      .drop("__na", "__nb", "__cn")
  }

  /**
   * Skip-gram training pairs over a walk corpus (the DeepWalk/node2vec
   * objective's input): for every walk position, emit (center, context)
   * for contexts within `window` steps on EITHER side. Expressed as
   * 2·window `lead` projections over ONE per-walk sort — a single exchange
   * on the walk key, no self-join, no corpus blow-up beyond the 2·window
   * output factor (walk length is bounded, so per-key state is bounded).
   *
   * @param walks output of [[randomWalks]]/[[temporalWalks]]
   *              (start, walk, step, node)
   * @return (start, walk, step, offset ±1..±window, center, context)
   */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1 && window <= 16, s"window=$window out of [1, 16]")
    val w = Window.partitionBy("start", "walk").orderBy("step")
    val base = walks.select(col("start"), col("walk"), col("step"), col("node"))
    val shifted = (1 to window).foldLeft(base) { (df, o) =>
      df.withColumn(s"__l$o", lead(col("node"), o).over(w))
    }
    val parts = (1 to window).flatMap { o =>
      Seq(
        shifted.filter(col(s"__l$o").isNotNull).select(
          col("start"), col("walk"), col("step"), lit(o.toLong).as("offset"),
          col("node").as("center"), col(s"__l$o").as("context")),
        shifted.filter(col(s"__l$o").isNotNull).select(
          col("start"), col("walk"), (col("step") + o).as("step"),
          lit(-o.toLong).as("offset"),
          col(s"__l$o").as("center"), col("node").as("context")))
    }
    parts.reduce(_.unionByName(_))
  }
}
