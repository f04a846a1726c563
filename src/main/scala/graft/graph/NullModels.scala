package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.GraphLearn

/**
 * Randomized reference models for a temporal edge list — the reference's
 * python null-model surface (nullmodels.py: shuffle_column:9,
 * shuffle_multiple_columns:54, permuted_timestamps_model:93). A temporal
 * null model destroys ONE correlation so an observed statistic can be
 * compared against its randomized reference (Holme & Saramäki's shuffling
 * taxonomy): the permuted-timestamps model keeps the static multigraph
 * and the global timestamp multiset but breaks all temporal ordering —
 * run the same motif/reachability/rich-club measurement on the shuffled
 * graph and the delta is the temporal signal.
 *
 * The reference shuffles with pandas `.sample` — engine-seeded and
 * irreproducible. Here the permutation is a PURE FUNCTION of
 * (seed, key column): rows are ranked under one portable hash ordering
 * (h1), values under a second (h2), and the value at h2-rank i moves to
 * the row at h1-rank i. The composition of two independent hash orderings
 * behaves as a uniform permutation, and any engine replays it exactly
 * (hash family [[GraphLearn.hmix]], DuckDB twin [[GraphLearn.hmixSql]]).
 *
 * Scale shape (100 TB-safe): each exact global rank uses the two-phase
 * sharded pattern ([[graft.ml.CorpusOps.quantileBuckets]] precedent) —
 * approx-quantile boundaries on the uniform hash shard the axis, a
 * per-shard parallel `row_number`, and the tiny per-shard totals frame is
 * prefix-summed and broadcast back as base offsets. No single-partition
 * global sort anywhere; the final value hand-off is ONE join keyed on
 * rank. Three exchanges per shuffled column, all on rank/shard keys.
 */
object NullModels {

  /** Exact global rank of every row under the (hash, key) total order —
    * two-phase sharded prefix sum, never a global sort. Adds `__rank`.
    * Shard boundaries come from approx-quantiles of the hash (uniform in
    * [0, P), double-exact), so sharding is monotone in the order and the
    * per-shard ranks + broadcast bases compose to the exact global rank. */
  private def rankBy(
      df: DataFrame,
      h: Column,
      keyCol: String,
      shards: Int): DataFrame = {
    val withH = df.withColumn("__h", h)
    val probs = (1 until shards).map(_.toDouble / shards).toArray
    val bounds =
      if (shards > 1) withH.stat.approxQuantile("__h", probs, 0.05).distinct.sorted
      else Array.empty[Double]
    val shard =
      if (bounds.isEmpty) lit(0L)
      else
        size(filter(
          array(bounds.toIndexedSeq.map(lit(_)): _*),
          b => col("__h").cast("double") > b)).cast("long")
    val sharded = withH.withColumn("__shard", shard)
    val w = Window.partitionBy("__shard").orderBy(col("__h"), col(keyCol))
    val local = sharded.withColumn("__lr", row_number().over(w).cast("long"))
    val bases = sharded
      .groupBy("__shard")
      .agg(count(lit(1)).as("tot"))
      .withColumn(
        "base",
        coalesce(
          sum("tot").over(
            Window.orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__shard", "base")
    local
      .join(broadcast(bases), Seq("__shard"))
      .withColumn("__rank", col("base") + col("__lr"))
      .drop("__shard", "__lr", "base", "__h")
  }

  /**
   * One column's values permuted across rows (nullmodels.py
   * `shuffle_column`): every other column stays on its row; the shuffled
   * column's global multiset is preserved exactly.
   *
   * `keyCol` must be UNIQUE and non-null (e.g. `event_id`) — it seeds the
   * permutation and breaks hash ties; with duplicate keys the mapping
   * between the duplicated rows would be arbitrary.
   */
  def shuffleColumn(
      df: DataFrame,
      column: String,
      keyCol: String,
      seed: Long = 42L,
      shards: Int = 64): DataFrame = {
    require(df.columns.contains(column), s"no column '$column' to shuffle")
    require(df.columns.contains(keyCol), s"no key column '$keyCol'")
    require(column != keyCol, "cannot shuffle the permutation key column")
    require(shards > 0, s"shards=$shards must be positive")
    // Pin the input once (eager local checkpoint): the two rank passes
    // reference it SIX times (each rankBy: quantile probe + rank leg +
    // bases leg) — for chained shuffleColumns or an expensive upstream
    // (eventEdges carries a window) the r5 shape recomputed the full
    // input plan each time (the ADVICE r5 recompute item). Values are
    // unchanged; blocks are freed by the ContextCleaner when the
    // result's lineage is dropped.
    val df0 = graft.bsp.Pin.pin(df)
    // two-stage hash: hmix's seed is ADDITIVE, so a bare hmix(seed, key)
    // ordering is a mod-P rotation of hmix(0, key)'s — nearly the same
    // permutation for nearby seeds. Feeding the seeded hash through a
    // second stage amplifies small seed deltas into large rotations of
    // the order (the map stays affine in (seed, key); practically
    // sufficient — see ADVICE r5 on the earlier "nonlinear" overclaim).
    val h1 = GraphLearn.hmix(
      0L, GraphLearn.hmix(seed, col(keyCol) -> GraphLearn.M1) -> GraphLearn.M3)
    val h2 = GraphLearn.hmix(
      0L, GraphLearn.hmix(seed, col(keyCol) -> GraphLearn.M2) -> GraphLearn.M4)
    val outCols = df.columns.toSeq // preserve the original column order
    val rows = rankBy(df0.drop(column), h1, keyCol, shards)
    val vals = rankBy(df0.select(col(column), col(keyCol)), h2, keyCol, shards)
      .select(col("__rank"), col(column))
    rows
      .join(vals, Seq("__rank"))
      .select(outCols.map(col): _*)
  }

  /** Several columns shuffled INDEPENDENTLY (nullmodels.py
    * `shuffle_multiple_columns`) — each gets its own derived seed, so no
    * two columns share a permutation. */
  def shuffleColumns(
      df: DataFrame,
      columns: Seq[String],
      keyCol: String,
      seed: Long = 42L,
      shards: Int = 64): DataFrame =
    columns.zipWithIndex.foldLeft(df) { case (acc, (c, k)) =>
      shuffleColumn(acc, c, keyCol, seed + 1000003L * (k + 1), shards)
    }

  /**
   * A column's values permuted WITHIN groups (beyond the reference's
   * three global shuffles; the Holme–Saramäki "link-sequence shuffled"
   * family): rows sharing `groupCols` trade values only among themselves
   * — e.g. group by (src, dst) to shuffle each link's timestamps while
   * preserving every link's own timestamp multiset, or by `layer` to
   * scramble time within layers only.
   *
   * Plan shape: the group key rides in both rank windows'
   * `partitionBy`, so this needs NO two-phase machinery — per-group
   * `row_number`s distribute on the group key (skew bounded by the
   * largest group) and the hand-off join keys on (group, rank).
   */
  def shuffleColumnWithin(
      df: DataFrame,
      column: String,
      groupCols: Seq[String],
      keyCol: String,
      seed: Long = 42L): DataFrame = {
    require(df.columns.contains(column), s"no column '$column' to shuffle")
    require(df.columns.contains(keyCol), s"no key column '$keyCol'")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(groupCols.forall(df.columns.contains), s"unknown group column in $groupCols")
    require(!groupCols.contains(column) && column != keyCol,
      "cannot shuffle a grouping or key column")
    val h1 = GraphLearn.hmix(
      0L, GraphLearn.hmix(seed, col(keyCol) -> GraphLearn.M1) -> GraphLearn.M3)
    val h2 = GraphLearn.hmix(
      0L, GraphLearn.hmix(seed, col(keyCol) -> GraphLearn.M2) -> GraphLearn.M4)
    val outCols = df.columns.toSeq
    val gc = groupCols.map(col)
    val w1 = Window.partitionBy(gc: _*).orderBy(h1, col(keyCol))
    val w2 = Window.partitionBy(gc: _*).orderBy(h2, col(keyCol))
    val rows = df.drop(column).withColumn("__rank", row_number().over(w1))
    val vals = df.select((groupCols :+ column :+ keyCol).distinct.map(col): _*)
      .withColumn("__rank", row_number().over(w2))
      .select((groupCols :+ "__rank").map(col) :+ col(column): _*)
    rows
      .join(vals, groupCols :+ "__rank")
      .select(outCols.map(col): _*)
  }

  /** The permuted-timestamps reference model (nullmodels.py
    * `permuted_timestamps_model`): the `ts` column shuffled across the
    * edge list — static multigraph and timestamp multiset preserved,
    * temporal ordering destroyed. */
  def permutedTimestamps(
      edges: DataFrame,
      seed: Long = 42L,
      keyCol: String = "event_id",
      shards: Int = 64): DataFrame =
    shuffleColumn(edges, "ts", keyCol, seed, shards)

  /**
   * The directed CONFIGURATION MODEL (degree-preserving rewiring, the
   * null model Maslov–Sneppen-style edge swaps converge to; beyond the
   * reference's column shuffles): the entire `dst` column is permuted
   * across the edge list in one shot. Every node's OUT-degree is exactly
   * preserved (src never moves) and every node's IN-degree is exactly
   * preserved (a permutation of the dst column leaves each node's count
   * in it unchanged) — while all src↔dst correlation (degree–degree
   * assortativity, community structure, reciprocity) is destroyed. A full
   * permutation IS the uniform sample here, so no iterative swap rounds
   * are needed — swap-chain MCMC exists to cope with in-place mutation,
   * which a column shuffle does not have. (An earlier draft paired edges
   * under a per-round seeded hash ordering and traded endpoints; the hash
   * family is affine in the key, so a round seed only ROTATES the
   * ordering and two rounds re-paired and un-swapped each other — the
   * one-shot permutation is both simpler and uniform.)
   *
   * As in the classic model, the rewired list may contain self-loops and
   * parallel edges; callers wanting the simple-graph variant filter
   * afterwards. Deterministic: pure function of (seed, key column).
   */
  def configurationModel(
      edges: DataFrame,
      seed: Long = 42L,
      keyCol: String = "event_id",
      shards: Int = 64): DataFrame = {
    require(edges.columns.contains("dst"), "edge frame needs a dst column")
    shuffleColumn(edges, "dst", keyCol, seed, shards)
  }
}
