package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.bsp.SuperstepRunner

/**
 * Distributed BPE vocabulary induction — the tokenizer-training counting
 * loop of an LLM data pipeline (Sennrich, Haddow & Birch 2016, "Neural
 * Machine Translation of Rare Words with Subword Units").
 *
 * Trains on the DISTINCT-WORD frequency table (the standard BPE
 * compression: pair statistics are identical over `(word, count)` and the
 * raw corpus stream, but the iterated state is vocabulary-sized, not
 * corpus-sized). Each round is one wordcount-shape pair census over the
 * persisted state — adjacent symbol pairs exploded, `groupBy(a, b)` with
 * map-side partial aggregation weighted by word count — an argmax via
 * distributed TakeOrdered (ties broken by pair lexicographically, so the
 * learned vocabulary is deterministic), and a greedy-left merge applied as
 * a per-word `aggregate` fold (no explode/re-collect round trip). The loop
 * runs under [[graft.bsp.SuperstepRunner]] for the usual iteration hygiene
 * (eager local checkpoint + stats reset per round, previous state freed).
 *
 * Greedy-left fold semantics: within a word, occurrences of the best pair
 * merge left-to-right without re-consuming a just-merged symbol
 * (`a a a` + merge (a,a) → `aa a`). Merging never creates a NEW occurrence
 * of the same pair earlier in the word (that would need `a+b == a` or
 * `a+b == b`), so the single fold equals exhaustive leftmost re-splicing —
 * the property the DuckDB oracle's relational form relies on.
 *
 * Simplification vs a production tokenizer: symbols start as characters of
 * lowercase whitespace words, with no end-of-word marker and no byte
 * fallback — the operator's subject is the distributed counting loop, not
 * tokenizer fidelity; markers are a symbol-alphabet choice orthogonal to
 * the plan shape.
 *
 * At 100 TB: the one corpus-scale job is the initial word count; every
 * round after it exchanges only vocabulary-sized frames (distinct words /
 * distinct pairs). The driver holds exactly one row per round (the argmax)
 * plus the merge list itself.
 */
object Bpe {

  /**
   * Learn `rounds` merges.
   *
   * @return one row per learned merge: (round, a, b, merged, cnt) — stops
   *         early when no pair reaches `minPairCount`
   */
  def learnMerges(
      docs: DataFrame,
      textCol: String = "text",
      rounds: Int = 8,
      minPairCount: Long = 2L): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds=$rounds out of [1,64]")
    val spark = docs.sparkSession
    import spark.implicits._

    val words = docs
      .select(explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
    val init = words.withColumn(
      "syms",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    SuperstepRunner.run(spark, init, SuperstepRunner.RunConfig(maxSteps = rounds, runId = "bpe")) {
      (state, step) =>
        // pair census: explode adjacent pairs of the persisted state, one
        // partial-aggregated exchange, then a distributed TakeOrdered(1)
        val best = pairCensus(state)
          .limit(1)
          .collect() // bounded: exactly one row per round
        if (best.isEmpty || best.head.getAs[Long]("c") < minPairCount) {
          SuperstepRunner.Step(state, SuperstepRunner.Check(_ => (true, Map("stopped" -> 1.0))))
        } else {
          val (a, b, c) =
            (best.head.getAs[String]("a"), best.head.getAs[String]("b"), best.head.getAs[Long]("c"))
          merges += ((step.toLong, a, b, a + b, c))
          SuperstepRunner.Step(
            state.withColumn("syms", applyMerge(col("syms"), a, b)),
            SuperstepRunner.Check(_ => (false, Map("pairCount" -> c.toDouble))))
        }
    }
    merges.toSeq.toDF("round", "a", "b", "merged", "cnt")
  }

  /** One round's pair census over the symbol state: adjacent pairs
    * exploded, `groupBy(a, b)` with map-side partial aggregation weighted
    * by word count, ordered (count desc, pair asc) so `.limit(1)` is a
    * bounded distributed TakeOrdered argmax. Vocabulary-sized: the
    * exchange carries one row per distinct adjacent pair. */
  private[ml] def pairCensus(state: DataFrame): DataFrame =
    state
      .filter(size(col("syms")) > 1)
      .select(
        col("cnt"),
        explode(
          arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
      .groupBy(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
      .agg(sum("cnt").as("c"))
      .orderBy(col("c").desc, col("a").asc, col("b").asc)

  /** Greedy-left application of one merge to a symbol array: a single fold
    * — if the accumulator's last symbol is `a` and the current is `b`,
    * replace the last with `a+b`, else append. */
  private[ml] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      typedLit(Seq.empty[String]),
      (acc, s) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), greatest(size(acc) - 1, lit(0))), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Segment distinct words with an already-learned merge list (applied in
    * rank order — the standard BPE inference rule restricted to the learned
    * table). Column-only: `rounds` nested folds, no UDF.
    *
    * @param merges (a, b) pairs in learned order
    * @return (word, pieces array<string>)
    */
  def segmentWords(
      words: DataFrame,
      merges: Seq[(String, String)],
      wordCol: String = "word"): DataFrame = {
    val init =
      expr(s"transform(sequence(1, length($wordCol)), i -> substring($wordCol, i, 1))")
    val pieces = merges.foldLeft(init) { case (c, (a, b)) => applyMerge(c, a, b) }
    words.withColumn("pieces", pieces)
  }
}
