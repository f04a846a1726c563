package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Semantic deduplication (SemDeDup — Abbas et al. 2023, "SemDeDup:
 * Data-efficient learning at web-scale through semantic deduplication"):
 * embeddings are clustered by a coarse quantizer, pairwise cosine runs
 * ONLY within each cluster, pairs above the similarity threshold form
 * semantic-duplicate groups, and one representative is kept per group —
 * per the paper's rule, the member with the LOWEST cosine similarity to
 * its cluster centroid (the most atypical copy carries the most marginal
 * information), ties broken by smallest id.
 *
 * The coarse quantizer is the same deterministic sampled-pivot scheme as
 * [[Similarity.ivfTopK]] (the paper uses k-means; sampled pivots make the
 * whole pipeline replayable by the DuckDB oracle — a trained centroid
 * table plugs into the identical joins for production recall).
 *
 * The 100 TB shape: pivots are one broadcast (nCells rows); assignment is
 * a map-side argmax whose exchange carries one row per corpus vector;
 * the within-cell pair join is quadratic per cell, so cells larger than
 * `maxCell` are excluded from pairing with first-class accounting
 * ([[semDedupDropped]]) — the standard guardrail, never silent. The
 * connected components run on the PAIR graph only (tiny next to the
 * corpus); the corpus is labelled back with one left join.
 *
 * Sizing note: the pairing stage shuffles on `cell`, so its parallelism is
 * bounded by nCells — size nCells ≥ the cluster's core count (the paper
 * uses ~100k clusters at web scale, which also keeps cells under maxCell);
 * the tiny defaults here fit the synthetic test corpus.
 */
object SemDedup {

  /** Deterministic pivot table: (pid, pv, prank), nCells rows. The
    * portable hash is the same LCG as [[Similarity.ivfTopK]]'s so both
    * quantizers sample identical pivots for a given corpus. */
  private def pivots(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      seed: Long,
      portable: Boolean): DataFrame = {
    val pivotHash =
      if (portable) expr(s"(pmod($idCol, 1000000007L) * 1103515245L + 12345L) % 1000000007L")
      else xxhash64(lit(seed), col(idCol))
    val sampled = corpus
      .select(col(idCol).as("pid"), col(vecCol).as("pv"), pivotHash.as("h"))
      .orderBy(col("h"), col("pid"))
      .limit(nCells)
    // the global-order window runs on nCells rows only (post-limit)
    broadcast(
      sampled
        .withColumn("prank", row_number().over(Window.orderBy(col("h"), col("pid"))))
        .drop("h"))
  }

  /** Cell assignment with the centroid cosine retained: (id, v, cell,
    * ccos). Argmax over the broadcast pivots; `max(struct(...))` keeps the
    * combine associative and the tie-break (smaller prank) deterministic,
    * so the exchange carries one row per corpus vector. */
  private def assigned(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      seed: Long,
      portable: Boolean): DataFrame =
    assignedOver(corpus, idCol, vecCol, pivots(corpus, idCol, vecCol, nCells, seed, portable))

  /** The assignment joins over ANY broadcast (pv, prank) pivot frame —
    * sampled pivots or trained centroids alike. */
  private def assignedOver(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      pivotFrame: DataFrame): DataFrame =
    corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(pivotFrame.select(col("pv"), col("prank")))
      .select(
        col("id"), col("v"),
        struct(Similarity.cosine("v", "pv").as("pcos"), (-col("prank")).as("nrank")).as("cand"))
      .groupBy("id")
      .agg(first(col("v")).as("v"), max(col("cand")).as("best"))
      .select(
        col("id"), col("v"),
        (-col("best.nrank")).cast("long").as("cell"),
        col("best.pcos").as("ccos"))

  /** Guardrail accounting: the (cell, cell_n) rows the `maxCell` cap
    * excludes from pairing — observable, never silent. */
  def semDedupDropped(
      corpus: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCells: Int = 16,
      maxCell: Int = 100000,
      seed: Long = 42L,
      portable: Boolean = false): DataFrame =
    assigned(corpus, idCol, vecCol, nCells, seed, portable)
      .groupBy("cell")
      .agg(count(lit(1)).as("cell_n"))
      .filter(col("cell_n") > maxCell)

  /**
   * The full SemDeDup labelling: one row per corpus vector with its cell,
   * centroid cosine, semantic-duplicate cluster and the keep decision.
   *
   * @param threshold within-cell cosine at or above which two vectors are
   *                  semantic duplicates (the paper sweeps 1−ε near 1.0)
   * @return (idCol, cell, ccos, cluster, cluster_n, keep) — `ccos`
   *         rounded to 6dp for cross-engine replay; singletons keep
   *         themselves
   */
  def semDedup(
      corpus: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCells: Int = 16,
      maxCell: Int = 100000,
      seed: Long = 42L,
      portable: Boolean = false): DataFrame =
    label(assigned(corpus, idCol, vecCol, nCells, seed, portable),
      threshold, idCol, maxCell)

  /** SemDeDup with the coarse quantizer the paper actually uses: TRAINED
    * k-means centroids ([[Clustering.kmeans]] output) instead of the
    * sampled-pivot stand-in — identical joins, cells defined by the
    * trained table. Still fully oracle-replayable because the trainer is. */
  def semDedupTrained(
      corpus: DataFrame,
      threshold: Double,
      centroids: Array[(Int, Array[Double])],
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxCell: Int = 100000): DataFrame = {
    require(centroids.nonEmpty, "semDedupTrained needs at least one centroid")
    val session = corpus.sparkSession
    import session.implicits._
    val pivotFrame = broadcast(
      centroids.toSeq.map { case (r, cv) => (r, cv.toSeq) }.toDF("prank", "pv"))
    label(assignedOver(corpus, idCol, vecCol, pivotFrame), threshold, idCol, maxCell)
  }

  /** Pairing, components and the keep rule over an assigned frame. */
  private def label(
      assignedFrame: DataFrame,
      threshold: Double,
      idCol: String,
      maxCell: Int): DataFrame = {
    val spark = assignedFrame.sparkSession
    // Pinned (eager local checkpoint): the assigned frame feeds BOTH sides
    // of the within-cell pair join and the final labelling — the r5 shape
    // recomputed the broadcast-pivot assignment argmax up to three times.
    val a = graft.bsp.Pin.pin(
      assignedFrame.withColumn("cell_n", count(lit(1)).over(Window.partitionBy("cell"))))
    val paired = a.filter(col("cell_n") <= maxCell)
    val l = paired.select(col("cell"), col("id").as("pa"), col("v").as("va"))
    val r = paired.select(col("cell"), col("id").as("pb"), col("v").as("vb"))
    val pairs = l
      .join(r, Seq("cell"))
      .filter(col("pa") < col("pb"))
      .select(col("pa"), col("pb"), Similarity.cosine("va", "vb").as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("pa").as("a"), col("pb").as("b"))
    // components on the pair graph only (tiny), as in Dedup.dupClusters
    val g = graft.graph.TemporalGraph(
      pairs.select(
        col("a").as("src"),
        col("b").as("dst"),
        lit(0L).as("ts"),
        lit(0L).as("event_id"),
        lit("_semdup").as("layer")))
    val comp = graft.algos.ConnectedComponents.run(spark, g)
    val labeled = a
      .join(comp.select(col("id"), col("label")), Seq("id"), "left")
      .select(
        col("id"), col("cell"), col("ccos"),
        coalesce(col("label"), col("id")).as("cluster"))
    val keepW = Window.partitionBy("cluster").orderBy(col("ccos").asc, col("id"))
    val cw = Window.partitionBy("cluster")
    labeled
      .withColumn("cluster_n", count(lit(1)).over(cw))
      .withColumn("keep", row_number().over(keepW) === 1)
      .select(
        col("id").as(idCol),
        col("cell"),
        round(col("ccos"), 6).as("ccos"),
        col("cluster"),
        col("cluster_n"),
        col("keep"))
  }
}
