package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * A temporal property graph as a lazy, composable view over an append-only
 * edge-events DataFrame — the Spark-native counterpart of the reference's
 * view stack (WindowedGraph / LayeredGraph / NodeSubgraph under
 * raphtory/src/db/graph/views/; GraphViewOps,
 * raphtory/src/db/api/view/graph.rs:74-168).
 *
 * The edge table needs columns `src: long, dst: long` and, for temporal /
 * layer views, `ts: long (epoch millis)`, `event_id: long`, `layer: string`.
 * Every view is just a narrowed DataFrame, so Catalyst pushes the combined
 * predicates into the parquet scan — views never copy data.
 *
 * Semantics replicated from the reference:
 *  - multi-edges collapse into one logical edge per (src, dst, layer)
 *    (db4-storage/src/segments/node/segment.rs:56-73) → [[simpleEdges]];
 *  - neighbours/degrees count *distinct* neighbours per direction; BOTH is
 *    the deduplicated union of in and out
 *    (db4-storage/src/segments/node/entry.rs:204-233) → [[undirectedPairs]],
 *    [[degrees]];
 *  - `window(start, end)` is end-exclusive event-semantics filtering
 *    (raphtory/src/db/api/view/time.rs:116; event_semantics.rs:30).
 */
case class TemporalGraph(
    edges: DataFrame,
    viewStart: Option[Long] = None,
    viewEnd: Option[Long] = None) {

  // ---- temporal algebra (TimeOps, reference time.rs:93-260) ----

  /** Reported window start (reference `TimeOps::start`, time.rs:210) —
    * None when unbounded. */
  def start: Option[Long] = viewStart

  /** Reported window end (exclusive; reference `TimeOps::end`). */
  def end: Option[Long] = viewEnd

  /** Window span end − start, None while either side is unbounded
    * (reference `window_size`, time.rs:237-242). */
  def windowSize: Option[Long] =
    for (s <- viewStart; e <- viewEnd) yield e - s

  /** Events in [startMs, endMs). Like the reference's `window`, the
    * REPORTED bounds are set verbatim while the event set composes (a
    * window over a window intersects the filters). */
  def window(startMs: Long, endMs: Long): TemporalGraph =
    copy(
      edges.filter(col("ts") >= startMs && col("ts") < endMs),
      viewStart = Some(startMs),
      viewEnd = Some(endMs))

  /** Narrow the start to max(startMs, current start) — never widens
    * (reference `shrink_start`, time.rs:218-224). */
  def shrinkStart(startMs: Long): TemporalGraph = {
    val s = viewStart.fold(startMs)(math.max(_, startMs))
    copy(edges.filter(col("ts") >= s), viewStart = Some(s))
  }

  /** Narrow the end to min(endMs, current end) (reference `shrink_end`). */
  def shrinkEnd(endMs: Long): TemporalGraph = {
    val e = viewEnd.fold(endMs)(math.min(_, endMs))
    copy(edges.filter(col("ts") < e), viewEnd = Some(e))
  }

  /** Narrow both bounds (reference `shrink_window`, time.rs:231-235). */
  def shrinkWindow(startMs: Long, endMs: Long): TemporalGraph =
    shrinkStart(startMs).shrinkEnd(endMs)

  /** Events exactly at t (window [t, t+1)). */
  def at(t: Long): TemporalGraph = window(t, t + 1)

  /** View of only the latest event time (reference `latest`,
    * time.rs:256-262: `at(latest_time)`); unchanged view when empty. */
  def latest(): TemporalGraph = latestTime().fold(this)(at)

  /** Events strictly before t (window [-inf, t)). */
  def before(t: Long): TemporalGraph =
    copy(edges.filter(col("ts") < t), viewEnd = Some(viewEnd.fold(t)(math.min(_, t))))

  /** Events strictly after t. */
  def after(t: Long): TemporalGraph =
    copy(
      edges.filter(col("ts") > t),
      viewStart = Some(viewStart.fold(t + 1)(math.max(_, t + 1))))

  /** Event-semantics snapshot: everything up to and including t — the
    * reference's `snapshot_at` ≡ `before(t + 1)` for event graphs. */
  def snapshotAt(t: Long): TemporalGraph = before(t + 1)

  /** Reference `snapshot_latest`: a no-op for event-semantics graphs
    * (time.rs:128-131). */
  def snapshotLatest(): TemporalGraph = this

  /** Materialized-filter analog of the reference's `CachedView`
    * (cached_view.rs:38 caches the composed filter masks): persist the
    * view's filtered edge table so downstream algorithms stop re-running
    * the filter chain against the source. Call [[uncacheView]] when done. */
  def cacheView(): TemporalGraph = copy(edges.persist())

  def uncacheView(): TemporalGraph = copy(edges.unpersist(false))

  // ---- window sets (reference rolling/expanding, time.rs:147-210) ----

  /** Rolling window set over millisecond steps (unaligned): [[rollingAligned]]
    * with `TimeInterval.discrete` window and step (reference rolling,
    * time.rs:147-210). Returns (windowStart, windowEnd, view) triples. */
  def rolling(windowMs: Long, stepMs: Option[Long] = None): Seq[(Long, Long, TemporalGraph)] =
    rollingAligned(TimeInterval.discrete(windowMs), stepMs.map(TimeInterval.discrete))

  /**
   * Calendar-aligned rolling window set (reference rolling/rolling_aligned,
   * time.rs:169-205 + WindowSet cursor :456-492): window ends
   * e_k = alignedStart + k·step (interval multiplication FIRST, then one
   * calendar addition), alignment floored to the smallest unit of window
   * and step (month/year on the UTC calendar, day/week/… on epoch
   * multiples). Returns (windowStart, windowEnd, view) triples.
   */
  def rollingAligned(
      windowIv: TimeInterval,
      stepIv: Option[TimeInterval] = None): Seq[(Long, Long, TemporalGraph)] = {
    val step = stepIv.getOrElse(windowIv)
    val unit = AlignmentUnit.min(windowIv.alignment, step.alignment)
    (earliestTime(), latestTime()) match {
      case (Some(t0), Some(t1)) =>
        val start = unit.align(t0)
        val end = t1 + 1
        val stop = step.addTo(end) // cursor runs while e_k < end + step
        Iterator
          .from(1)
          .map(k => (step * k).addTo(start))
          .takeWhile(_ < stop)
          .map(e => (windowIv.subtractFrom(e), e))
          .filter(_._1 < end) // over-stepping rule (time.rs:480-486)
          .map { case (s, e) => (s, e, window(s, e)) }
          .toSeq
      case _ => Seq.empty
    }
  }

  /** Calendar-aligned expanding window set: views (−∞, e_k) with
    * e_k = alignedStart + k·step. Returns (windowEnd, view) pairs. */
  def expandingAligned(stepIv: TimeInterval): Seq[(Long, TemporalGraph)] =
    (earliestTime(), latestTime()) match {
      case (Some(t0), Some(t1)) =>
        val start = stepIv.alignment.align(t0)
        val stop = stepIv.addTo(t1 + 1)
        Iterator
          .from(1)
          .map(k => (stepIv * k).addTo(start))
          .takeWhile(_ < stop)
          .map(e => (e, before(e)))
          .toSeq
      case _ => Seq.empty
    }

  /** Expanding window set over millisecond steps (unaligned): views
    * (−∞, e_k), [[expandingAligned]] with a `TimeInterval.discrete` step
    * (reference time.rs:147-167). Returns (windowEnd, view) pairs. */
  def expanding(stepMs: Long): Seq[(Long, TemporalGraph)] =
    expandingAligned(TimeInterval.discrete(stepMs))

  // ---- layer / subgraph algebra ----

  def layer(names: String*): TemporalGraph =
    copy(edges.filter(col("layer").isin(names: _*)))

  /** Induced subgraph on a node set: both endpoints must be present. */
  def subgraph(nodeIds: DataFrame): TemporalGraph = {
    val ids = nodeIds.select(col(nodeIds.columns.head).as("__sid"))
    val e1 = edges.join(ids, edges("src") === col("__sid"), "left_semi")
    val e2 = e1.join(ids, e1("dst") === col("__sid"), "left_semi")
    copy(e2)
  }

  /** Drop all edges touching the given nodes (reference exclude_nodes). */
  def excludeNodes(nodeIds: DataFrame): TemporalGraph = {
    val ids = nodeIds.select(col(nodeIds.columns.head).as("__sid"))
    val e1 = edges.join(ids, edges("src") === col("__sid"), "left_anti")
    val e2 = e1.join(ids, e1("dst") === col("__sid"), "left_anti")
    copy(e2)
  }

  def filter(cond: Column): TemporalGraph = copy(edges.filter(cond))

  // ---- graph-level scalars (GraphViewOps, graph.rs:128-145) ----

  def countNodes(): Long = nodes.count()
  def countEdges(): Long = simpleEdges.count()
  def countTemporalEdges(): Long = edges.count()
  def earliestTime(): Option[Long] =
    Option(edges.agg(min("ts")).first().get(0)).map(_.asInstanceOf[Long])
  def latestTime(): Option[Long] =
    Option(edges.agg(max("ts")).first().get(0)).map(_.asInstanceOf[Long])

  // ---- derived relational views (all deduped, algorithm inputs) ----

  /** Distinct node ids appearing as src or dst. */
  def nodes: DataFrame =
    edges.select(col("src").as("id")).union(edges.select(col("dst").as("id"))).distinct()

  /** One row per logical directed edge: distinct (src, dst) across layers. */
  def simpleEdges: DataFrame = edges.select("src", "dst").distinct()

  /**
   * Distinct undirected neighbour pairs, both orientations, self-loops kept
   * as a single (v, v) row — matches the reference's BOTH-direction kmerge +
   * dedup (entry.rs:222-231). One row per (node, neighbour).
   */
  def undirectedPairs: DataFrame = {
    val e = simpleEdges
    e.select(col("src").as("node"), col("dst").as("nbr"))
      .union(e.select(col("dst").as("node"), col("src").as("nbr")))
      .distinct()
  }

  /** Canonical undirected edge set: src < dst, self-loops dropped. */
  def canonicalUndirected: DataFrame = {
    val e = simpleEdges.filter(col("src") =!= col("dst"))
    e.select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct()
  }

  /**
   * Distinct-neighbour degrees per direction (reference degree semantics,
   * SURVEY §1.1): `(id, out_deg, in_deg, deg)` where `deg` is the size of the
   * deduplicated BOTH-direction neighbour set. Nodes with no edges in some
   * direction get 0 via the full outer assembly.
   */
  def degrees: DataFrame = {
    val out = simpleEdges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = simpleEdges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    val both = undirectedPairs.groupBy(col("node").as("id")).agg(count(lit(1)).as("deg"))
    both
      .join(out, Seq("id"), "left")
      .join(in, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        col("deg"))
  }

  /** Per logical edge, the scalable history summary (reference
    * `edge.history_counts` + `earliest_time`/`latest_time`,
    * db/api/view/edge.rs): `(src, dst, earliest, latest, n_events)` — one
    * hash aggregate, no arrays, safe at any multiplicity. */
  def edgeHistoryStats: DataFrame =
    edges
      .groupBy("src", "dst")
      .agg(
        min(col("ts")).as("earliest"),
        max(col("ts")).as("latest"),
        count(lit(1)).as("n_events"))

  /**
   * Per logical edge, the event-time history itself (reference
   * `edge.history()`): `(src, dst, history: array<long> ascending,
   * earliest, latest, n_events, truncated)`. The array keeps the EARLIEST
   * `maxEvents` timestamps — capped BEFORE collection (rank filter), so a
   * hot multi-edge pair can never build an unbounded in-memory buffer;
   * `n_events`/`latest` still report the full multiplicity and `truncated`
   * flags capped rows first-class (the Dedup drop-report pattern).
   */
  def edgeHistory(maxEvents: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("src", "dst").orderBy("ts", "event_id")
    val wAll = Window.partitionBy("src", "dst")
    edges
      .select(col("src"), col("dst"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_events", count(lit(1)).over(wAll))
      .withColumn("latest", max(col("ts")).over(wAll))
      .filter(col("rn") <= maxEvents)
      .groupBy("src", "dst")
      .agg(
        sort_array(collect_list(col("ts"))).as("history"),
        min(col("ts")).as("earliest"),
        first(col("latest")).as("latest"),
        first(col("n_events")).as("n_events"))
      .withColumn("truncated", col("n_events") > maxEvents)
  }

  /**
   * Salted CSR-style out-adjacency `(src, salt, dsts: array<long>, out_deg)`
   * over distinct out-neighbours — the Spark answer to the reference's
   * HopExec adjacency walk (raphtory-cypher/src/hop/execution.rs), made
   * hub-safe for power-law graphs by [[TemporalGraph.saltedCsr]]. `out_deg`
   * carries the TOTAL distinct out-degree on every shard, so consumers
   * divide by the true degree without a merge.
   */
  def adjacencyOut(maxShard: Int): DataFrame =
    TemporalGraph.saltedCsr(simpleEdges, "src", "out_deg", Seq(col("dst")), maxShard)(
      collect_list("dst").as("dsts"), first("out_deg").as("out_deg"))

  def adjacencyOut: DataFrame = adjacencyOut(TemporalGraph.DefaultMaxShard)

  /**
   * WEIGHTED salted out-CSR from a per-edge weight frame `(src, dst, w)`
   * (one row per distinct edge; integer weights keep downstream scores
   * exactly replayable, see [[graft.algos.PageRank.weighted]]): shards
   * `(src, salt, dsts: array<struct<dst, w>>, out_w)` where `out_w` is
   * the TOTAL outgoing weight of src. Sharding is by edge count, so hub
   * fan-out stays bounded regardless of the weight distribution.
   *
   * The '(src, dst) unique, w ≥ 1' contract is ENFORCED here rather than
   * trusted: duplicate (src, dst) rows collapse by summing (multiplicity
   * is additive weight — silently double-counting out_w while shipping
   * both rows would skew every downstream w/out_w term), and any w < 1
   * fails the build loudly (w ≤ 0 rows can zero out_w for a node that has
   * edges — a division-by-zero/NaN score seed). Both guards run once, at
   * CSR-build time, never in the superstep loop.
   */
  def adjacencyOutWeighted(
      weights: DataFrame,
      maxShard: Int = TemporalGraph.DefaultMaxShard): DataFrame = {
    val checked = weights.select(
      col("src"),
      col("dst"),
      when(col("w") >= 1, col("w").cast("long"))
        .otherwise(raise_error(concat(
          lit("adjacencyOutWeighted: edge weight must be >= 1, got "),
          col("w").cast("string"), lit(" on edge "),
          col("src").cast("string"), lit("->"), col("dst").cast("string"))))
        .as("w"))
      .groupBy("src", "dst")
      .agg(sum("w").as("w"))
    TemporalGraph.saltedCsr(
      checked, "src", "out_deg", Seq(col("dst")), maxShard, Seq(sum("w").as("out_w")))(
      collect_list(struct(col("dst"), col("w"))).as("dsts"), first("out_w").as("out_w"))
  }

  /** Salted CSR-style BOTH-direction adjacency `(node, salt, nbrs, deg)`. */
  def adjacencyBoth(maxShard: Int): DataFrame =
    TemporalGraph.saltedCsr(undirectedPairs, "node", "deg", Seq(col("nbr")), maxShard)(
      collect_list("nbr").as("nbrs"), first("deg").as("deg"))

  def adjacencyBoth: DataFrame = adjacencyBoth(TemporalGraph.DefaultMaxShard)

  /** Salted CSR carrying BOTH directions with an orientation flag:
    * `(node, salt, nbrs: array<struct<nbr: long, out: int>>, deg)` — each
    * distinct directed edge u→v contributes entry (v, 1) on node u and
    * (u, 0) on node v. One persisted frame lets a message pass that needs
    * both directions per superstep (HITS: hub along edges, auth along
    * reversed edges) pay ONE state join + ONE groupBy exchange instead of
    * two of each. */
  def adjacencySigned(maxShard: Int): DataFrame = {
    val ends = simpleEdges
      .select(col("src").as("node"), struct(col("dst").as("nbr"), lit(1).as("out")).as("e"))
      .unionByName(simpleEdges
        .select(col("dst").as("node"), struct(col("src").as("nbr"), lit(0).as("out")).as("e")))
    TemporalGraph.saltedCsr(ends, "node", "deg", Seq(col("e.nbr"), col("e.out")), maxShard)(
      collect_list("e").as("nbrs"), first("deg").as("deg"))
  }

  def adjacencySigned: DataFrame = adjacencySigned(TemporalGraph.DefaultMaxShard)
}

object TemporalGraph {

  /** Default CSR shard cap: 2^17 neighbours ≈ 1 MB of longs per row —
    * big enough that non-hub sources stay single-row, small enough that a
    * hub row can't blow a task's memory. */
  val DefaultMaxShard: Int = 1 << 17

  /**
   * The one hub-sharding rule behind every salted CSR (the north rule's
   * "explicit salting for hub-turn skew"). `rows` holds one row per
   * (key, entry); the result has one row per `(key, salt)` carrying the
   * caller's `aggs` — the collected entries and any `first(<total>)`:
   *
   *  - the per-key degree `deg` (row count, plus any `totals` such as the
   *    weighted CSR's total weight) is joined back onto every row, so a
   *    carried total is the TOTAL on every shard and consumers need no
   *    merge;
   *  - a key with degree ≤ `maxShard` gets exactly ONE row (the CSR
   *    benefit: a rank-join touches ~|V| rows, fan-out via `explode` after
   *    the join);
   *  - a hub with degree > `maxShard` is sharded into ⌈deg/maxShard⌉
   *    `(key, salt)` rows of ~maxShard entries each, salted by a hash of
   *    the `hashed` entry columns — without this, a degree-10M hub is one
   *    ~80 MB collect_list buffer and one giant row in a single task;
   *  - the `groupBy(key, salt)` runs on key-hash-partitioned data (salting
   *    never adds an exchange: HashPartitioning(key) satisfies the
   *    clustered distribution of (key, salt)), and the output STAYS
   *    partitioned by key — iterative consumers that persist this and join
   *    on key every superstep reuse the layout with zero adjacency
   *    re-shuffle.
   */
  private[graft] def saltedCsr(
      rows: DataFrame,
      key: String,
      deg: String,
      hashed: Seq[Column],
      maxShard: Int,
      totals: Seq[Column] = Nil)(aggs: Column*): DataFrame = {
    val degs = rows.groupBy(key).agg(count(lit(1)).as(deg), totals: _*)
    rows
      .join(degs, Seq(key))
      .withColumn(
        "salt",
        pmod(xxhash64(hashed: _*), greatest(ceil(col(deg) / maxShard.toDouble), lit(1L)))
          .cast("int"))
      .groupBy(key, "salt")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The plain out-CSR message pass: each shard row of `adj`
    * `(src, salt, dsts, …)` joined to `scores(id, score)` ships `value` to
    * every one of its dsts; `(id, msum)` sums what each node received. */
  private[graft] def pushOut(adj: DataFrame, scores: DataFrame, value: Column): DataFrame =
    adj
      .join(scores, adj("src") === col("id"))
      .select(explode(col("dsts")).as("id"), value.as("w"))
      .groupBy("id")
      .agg(sum("w").as("msum"))

  /** Build from a transcript table via [[EdgeBuilder]]. */
  def fromTranscripts(transcripts: DataFrame): TemporalGraph =
    TemporalGraph(EdgeBuilder.edges(transcripts))

  /** Build from in-memory (src, dst, ts) triples — test fixture helper. */
  def fromTriples(spark: org.apache.spark.sql.SparkSession, triples: Seq[(Long, Long, Long)]): TemporalGraph = {
    import spark.implicits._
    TemporalGraph(
      triples
        .toDF("src", "dst", "ts")
        .withColumn("event_id", lit(0L))
        .withColumn("layer", lit("_default")))
  }
}
