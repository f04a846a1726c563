package graft.algos

import graft.bsp.{Pin, SuperstepRunner}
import graft.bsp.SuperstepRunner.{Never, RunConfig, Step}
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * FastRP node embeddings (reference
 * raphtory/src/algorithms/embeddings/fast_rp.rs:40-114): initialize each
 * node with a sparse random projection vector — component +/−(l·√s) with
 * probability 1/(2s) each, else 0, where s = √m, l = (deg/(2m))^(ns−1) —
 * then for each iteration k add the neighbour average of the previous
 * state scaled by iterWeights(k)/(deg·(iters+1)), accumulating across
 * iterations (the reference's double-buffer copies current → next, so
 * contributions stack).
 *
 * Randomness is hash-derived per (seed, id, dim) — deterministic at any
 * parallelism (the reference seeds SmallRng per node; distributions match,
 * exact streams differ — embeddings are only comparable within one
 * implementation).
 *
 * Spark plan per iteration: per-dimension explode → (nbr, dim) partial-sum
 * shuffle → reassemble ordered arrays. Message volume is |E|·dim; partial
 * aggregation absorbs hub skew.
 */
object FastRP {

  /** Portable arithmetic hash for the sparse-projection draw: pure BIGINT
    * arithmetic both Spark and DuckDB evaluate identically, so the verify
    * query can replay the whole embedding end to end in SQL (xxhash64
    * stays the default — better mixing). */
  val PolyP = 1000000007L

  def run(
      spark: SparkSession,
      g: TemporalGraph,
      embeddingDim: Int = 16,
      normalizationStrength: Double = 0.5,
      iterWeights: Seq[Double] = Seq(1.0, 1.0, 0.5),
      seed: Long = 42L,
      portable: Boolean = false): DataFrame = Pin.scope { pins =>
    val pairs = pins.persist(g.undirectedPairs)
    val deg = pairs.groupBy(col("node").as("id")).agg(count(lit(1)).as("deg"))
    val m = deg.count().toDouble
    val s = math.sqrt(m)
    val beta = normalizationStrength - 1.0
    val numIters = iterWeights.size - 1

    // init: component c ~ {+lv w.p. 1/(2s), -lv w.p. 1/(2s), 0 otherwise},
    // scaled by iterWeights(0)
    val lCol = pow(col("deg") / (2.0 * m), beta)
    val v0 = math.sqrt(s)
    val bucket = math.max(1, (2 * s).round)
    val hashSql =
      if (portable) s"pmod(pmod(id, $PolyP) * 1000003 + d * 999983 + $seed * 31 + 12345, $PolyP)"
      else s"xxhash64($seed, id, d)"
    // l·v0 = (deg/2m)^β · m^¼. For the default β = −1/2 this is
    // sqrt(2m/deg)·m^¼ — sqrt and division are correctly-rounded IEEE ops,
    // so Spark and DuckDB produce BIT-IDENTICAL values (pow() is not
    // correctly rounded and differs between libm implementations — enough
    // to flip a 6dp rounding in the oracle compare).
    val lv0Sql =
      if (beta == -0.5) s"(sqrt(${2.0 * m} / deg) * $v0)"
      else s"(pow(deg / ${2.0 * m}, $beta) * $v0)"
    val init = deg.select(
      col("id"),
      col("deg"),
      expr(
        s"""transform(sequence(0, ${embeddingDim - 1}), d ->
           |  CASE pmod($hashSql, $bucket)
           |    WHEN 0 THEN  $lv0Sql * ${iterWeights.head}
           |    WHEN 1 THEN -$lv0Sql * ${iterWeights.head}
           |    ELSE cast(0.0 as double) END)""".stripMargin)
        .as("emb"))

    val result = SuperstepRunner.run(
      spark,
      init,
      RunConfig(maxSteps = numIters, runId = "fastrp")) { (state, k) =>
      // reference weight indexing: the task runner's ss starts at 0 on the
      // first regular superstep (task_runner.rs:332-355 increments at loop
      // end), so iteration k ∈ 1..numIters reads weights[k-1]; the last
      // weight only sizes the iteration count and is never applied.
      val w = iterWeights(k - 1)
      // neighbour sums per dimension
      val msgs = pairs
        .join(state.select(col("id"), col("emb")), pairs("nbr") === col("id"))
        .select(pairs("node").as("id"), posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy("id", "dim")
        .agg(sum("v").as("sv"))
        .groupBy("id")
        .agg(expr("transform(array_sort(collect_list(struct(dim, sv))), x -> x.sv)").as("nsum"))
      val next = state
        .join(msgs, Seq("id"), "left")
        .select(
          col("id"),
          col("deg"),
          when(col("nsum").isNull, col("emb"))
            .otherwise(expr(s"zip_with(emb, nsum, (a, b) -> a + b * (${w} / (deg * ${numIters + 1.0})))"))
            .as("emb"))
      Step(next.select("id", "deg", "emb"), Never)
    }
    result.state.select("id", "emb")
  }
}
