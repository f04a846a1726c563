package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-preparation operators a large-scale training-data pipeline needs
 * beyond dedup/quality/sampling: benchmark decontamination (GPT-3 appx C /
 * PaLM appx — drop training documents that share long n-grams with an
 * evaluation set), sequence packing (the standard concat-and-chunk that
 * turns a filtered corpus into fixed-length training examples), and PII
 * redaction (regex scrubbing of emails / IPs / phone numbers).
 *
 * All three are single-plan DataFrame transforms: decontamination is a
 * broadcast semi-join against the (small) benchmark n-gram set, packing is
 * a two-phase distributed prefix sum (no global-order window — see
 * [[packSequences]]), redaction is pure codegen'd string expressions.
 */
object CorpusOps {

  // ---------- benchmark decontamination ----------

  /** Distinct word n-grams of `textCol` per document: (id, gram). */
  private def docGrams(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), explode(Dedup.shingles(textCol, n)).as("gram"))
      .distinct()

  /**
   * Per-document contamination stats against a benchmark/eval corpus: how
   * many of the document's distinct word `n`-grams appear anywhere in the
   * benchmark (the GPT-3/PaLM overlap rule; n = 13 there, configurable
   * here because tiny test corpora need shorter grams).
   *
   * Scale shape: the benchmark side is an eval suite — thousands to a few
   * million distinct grams — so it is aggregated small and BROADCAST; the
   * corpus side is one projection + explode + partial-agg groupBy on the
   * doc id. The 100 TB corpus is never shuffled on gram.
   *
   * @return (id, n_grams, n_contaminated, frac) — one row per corpus doc
   *         that has at least one gram (i.e. non-empty text).
   */
  def contamination(
      docs: DataFrame,
      bench: DataFrame,
      n: Int = 13,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchTextCol: String = "text"): DataFrame = {
    val corpusGrams = docGrams(docs, idCol, textCol, n)
    val benchGrams = bench
      .select(explode(Dedup.shingles(benchTextCol, n)).as("gram"))
      .distinct()
    corpusGrams
      .join(broadcast(benchGrams).withColumn("hit", lit(1L)), Seq("gram"), "left")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_grams"),
        coalesce(sum("hit"), lit(0L)).as("n_contaminated"))
      .withColumn("frac", col("n_contaminated").cast("double") / col("n_grams"))
  }

  /** The corpus with contaminated documents removed: drops any doc whose
    * distinct-gram overlap fraction is ≥ `maxFrac` (default: any overlap).
    * Anti-join keeps the plan one pass over the corpus. */
  def decontaminate(
      docs: DataFrame,
      bench: DataFrame,
      n: Int = 13,
      maxFrac: Double = 0.0,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchTextCol: String = "text"): DataFrame = {
    val dirty = contamination(docs, bench, n, idCol, textCol, benchTextCol)
      .filter(col("n_contaminated") > 0 && col("frac") > maxFrac)
      .select(col("id").as(idCol))
    docs.join(dirty, Seq(idCol), "left_anti")
  }

  /**
   * FUZZY benchmark decontamination: near-duplicate overlap between the
   * corpus and an evaluation set via MinHash-LSH across the two corpora —
   * catches the paraphrased/reformatted leakage the exact n-gram rule
   * ([[contamination]]) misses (the complementary check run by e.g. the
   * GPT-4 and Llama-2 eval-contamination audits).
   *
   * Scale shape: the benchmark side is an eval suite, so its banded
   * signatures BROADCAST; the corpus side computes signatures in one pass
   * and probes the broadcast buckets on (band, bh) — the 100 TB corpus is
   * never shuffled on a signature key. Candidates verify against the
   * full-signature Jaccard estimate, then aggregate to one row per
   * contaminated corpus doc.
   *
   * @return (idCol, bench_id, est_jaccard) — per corpus doc, the
   *         best-matching benchmark doc at estimate ≥ `threshold`
   *         (bench_id ties broken low)
   */
  def contaminationFuzzy(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "doc_id",
      benchTextCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    val c = Dedup.bandedMinHash(docs, idCol, textCol, shingleSize, numHashes, bands, portable)
    val b = Dedup.bandedMinHash(bench, benchIdCol, benchTextCol, shingleSize, numHashes, bands, portable)
      .select(col("id").as("bench_id"), col("minhash").as("bench_minhash"), col("band"), col("bh"))
    c.join(broadcast(b), Seq("band", "bh"))
      .select(
        col("id"),
        col("bench_id"),
        (graft.functions.HashExpressions.eqCount(col("minhash"), col("bench_minhash"))
          .cast("double") / numHashes).as("est"))
      .filter(col("est") >= threshold)
      .groupBy("id", "bench_id")
      .agg(round(max("est"), 6).as("est"))
      // one row per corpus doc: its best benchmark match (ties → low id)
      .withColumn(
        "__rk",
        row_number().over(
          Window.partitionBy("id").orderBy(col("est").desc, col("bench_id"))))
      .filter(col("__rk") === 1)
      .select(col("id").as(idCol), col("bench_id"), col("est").as("est_jaccard"))
  }

  // ---------- DSIR importance-weighted data selection ----------

  /** One row per hashed n-gram occurrence: (id, b) with b = the feature's
    * hash bucket. The feature space is the union of word n-grams at the
    * requested sizes (DSIR's unigram+bigram space by default), built with
    * the exact [[Dedup.shingles]] construction so the portable family's
    * DuckDB twin replays it verbatim. */
  private def featureBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      ngramSizes: Seq[Int],
      portable: Boolean): DataFrame = {
    val featureArr = ngramSizes.map { k =>
      val sh =
        s"element_at(transform(array(split($textCol, '\\\\s+')), toks -> " +
          s"transform(sequence(0, greatest(size(toks) - $k, 0)), " +
          s"i -> array_join(slice(toks, i + 1, $k), ' '))), 1)"
      if (portable) s"transform($sh, s -> ${Dedup.polyHashSql("s")})"
      else s"transform($sh, s -> xxhash64(s))"
    }.mkString("concat(", ", ", ")")
    df.select(col(idCol).as("id"), explode(expr(featureArr)).as("h"))
      .select(col("id"), pmod(col("h"), lit(buckets.toLong)).as("b"))
  }

  /**
   * DSIR hashed n-gram importance weights (Xie et al., NeurIPS 2023,
   * "Data Selection for Language Models via Importance Resampling"):
   * score each corpus document by how much more likely its hashed n-gram
   * features are under a TARGET-domain bag-of-ngrams model than under the
   * corpus's own —
   * `weight = Σ_f n_f · (ln p_target(b_f) − ln p_corpus(b_f))`
   * with Laplace-smoothed bucket unigram models over `buckets` hash
   * buckets and the paper's unigram+bigram feature space (`ngramSizes`).
   *
   * Determinism: each ln is pinned to integer MICRO-nats
   * (`round(ln·1e6)` per bucket, on both engines) so the per-document
   * weight is an exact INTEGER sum — no float-accumulation-order noise —
   * and, in the portable family, the whole computation replays in DuckDB.
   *
   * Scale shape: the corpus explodes to one row per n-gram occurrence
   * (the census shape, ~2 rows/token at the default sizes) into a
   * partial-agg groupBy on (id, bucket); the corpus model FOLDS from
   * those per-doc counts (no second corpus pass in the plan), both models
   * are `buckets`-row frames and the log-ratio table broadcasts; the
   * target side is the small curated corpus. At deployment scale persist
   * the per-doc count frame — it is referenced by both the model fold and
   * the weight join.
   *
   * @return (idCol, dsir_weight_micro) — one row per corpus doc, weight
   *         in integer micro-nats (positive = more target-like)
   */
  def dsirWeights(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      targetTextCol: String = "text",
      buckets: Int = 4096,
      ngramSizes: Seq[Int] = Seq(1, 2),
      portable: Boolean = false): DataFrame = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    require(ngramSizes.nonEmpty && ngramSizes.forall(_ >= 1), s"bad ngramSizes: $ngramSizes")
    val dc = featureBuckets(corpus, idCol, textCol, buckets, ngramSizes, portable)
      .groupBy("id", "b")
      .agg(count(lit(1)).as("n"))
    val src = dc.groupBy("b").agg(sum("n").as("sc"))
    val tgt = featureBuckets(target, idCol, targetTextCol, buckets, ngramSizes, portable)
      .groupBy("b")
      .agg(count(lit(1)).as("tc"))
    val totals = broadcast(
      src.agg(sum("sc").as("sN"))
        .crossJoin(tgt.agg(coalesce(sum("tc"), lit(0L)).as("tN"))))
    val microLn: Column => Column = p => round(log(p) * 1e6, 0).cast("long")
    val ratio = src
      .join(tgt, Seq("b"), "left")
      .crossJoin(totals)
      .select(
        col("b"),
        (microLn((coalesce(col("tc"), lit(0L)) + 1).cast("double") / (col("tN") + buckets)) -
          microLn((col("sc") + 1).cast("double") / (col("sN") + buckets))).as("ri"))
    dc.join(broadcast(ratio), Seq("b"))
      .groupBy("id")
      .agg(sum(col("n") * col("ri")).as("dsir_weight_micro"))
      .select(col("id").as(idCol), col("dsir_weight_micro"))
  }

  /** The `k` most target-like corpus documents under [[dsirWeights]],
    * deterministically ranked by (weight desc, id) — the paper resamples
    * with Gumbel noise; the pinned top-k keeps selection replayable.
    * Returns (idCol, dsir_weight_micro, rank). */
  def dsirSelect(
      corpus: DataFrame,
      target: DataFrame,
      k: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      targetTextCol: String = "text",
      buckets: Int = 4096,
      ngramSizes: Seq[Int] = Seq(1, 2),
      portable: Boolean = false): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val w = Window.orderBy(col("dsir_weight_micro").desc, col(idCol))
    dsirWeights(corpus, target, idCol, textCol, targetTextCol, buckets, ngramSizes, portable)
      .orderBy(col("dsir_weight_micro").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /**
   * DSIR's sampled selection, made deterministic: Gumbel top-k over the
   * importance weights (sampling k docs without replacement ∝ exp(weight)
   * — Xie et al. §3.2 resample step). The Gumbel perturbation
   * `g = −ln(−ln(u))` draws `u` from the same (seed, id) integer hash the
   * samplers use (u = (h + 0.5)/10^6 ∈ (0,1)), and is pinned to integer
   * micro-nats like the weights, so the perturbed score — and therefore
   * the selected set — is a pure integer function of (corpus, target,
   * seed), replayable in DuckDB in the portable family.
   *
   * @return (idCol, dsir_weight_micro, score_micro, rank) for the top `k`
   *         by (score desc, id)
   */
  def dsirResample(
      corpus: DataFrame,
      target: DataFrame,
      k: Int,
      seed: Long = 42L,
      idCol: String = "doc_id",
      textCol: String = "text",
      targetTextCol: String = "text",
      buckets: Int = 4096,
      ngramSizes: Seq[Int] = Seq(1, 2),
      portable: Boolean = false): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val P = 1000000007L
    val h =
      if (portable) {
        val s = ((seed % P) + P) % P
        (lit(s) + pmod(col(idCol).cast("long"), lit(P)) * 73856093L) % P % 1000000L
      } else pmod(xxhash64(lit(seed), col(idCol)), lit(1000000L))
    val u = (h.cast("double") + 0.5) / 1e6
    val g = round(-log(-log(u)) * 1e6, 0).cast("long")
    val w = Window.orderBy(col("score_micro").desc, col(idCol))
    dsirWeights(corpus, target, idCol, textCol, targetTextCol, buckets, ngramSizes, portable)
      .withColumn("score_micro", col("dsir_weight_micro") + g)
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  // ---------- exact quantile buckets (CCNet head/middle/tail) ----------

  /**
   * Exact global quantile buckets over a value column WITHOUT a global
   * sort — the CCNet partition (Wenzek et al. 2020: split the corpus by
   * LM perplexity into head/middle/tail thirds) generalized to
   * `nBuckets`. Every row gets its EXACT global rank under the
   * (valueCol, idCol) total order and `bucket = (rank−1)·nBuckets div n
   * + 1` (equal-width on rank; identical to SQL ntile when nBuckets
   * divides n).
   *
   * Scale shape: the [[packSequences]] two-phase pattern on the VALUE
   * axis — rows range-bucket into `shards` spans using boundaries from a
   * bounded `approxQuantile` probe (boundary quality affects only shard
   * BALANCE; the rank, and therefore every output column, is exact and
   * partitioning-invariant regardless), a per-shard window ranks in
   * parallel, and the `shards`-row totals frame prefix-sums into
   * broadcast base offsets. No single-partition global window anywhere.
   * `valueCol` must be non-null numeric (nulls have no place in the
   * total order — filter them first).
   *
   * @return input plus (rank, bucket), rank 1-based ascending
   */
  def quantileBuckets(
      df: DataFrame,
      valueCol: String,
      nBuckets: Int,
      idCol: String = "doc_id",
      shards: Int = 64): DataFrame = {
    require(nBuckets > 0, s"nBuckets=$nBuckets must be positive")
    require(shards > 0, s"shards=$shards must be positive")
    // Pin the input once (eager local checkpoint): the two-phase rank
    // references it FOUR times (count, quantile probe, rank leg, bases
    // leg) — with an expensive upstream (e.g. the trigram-LM perplexity
    // scorer) the r5 shape recomputed the whole input plan each time
    // (measured 4× the input cost at sf0.1). Values are unchanged; the
    // pin's blocks are freed by the ContextCleaner when the result's
    // lineage is dropped.
    val df0 = graft.bsp.Pin.pin(df)
    val n = df0.count()
    if (n == 0L)
      return df.withColumn("rank", lit(0L)).withColumn("bucket", lit(0L)).limit(0)
    val probs = (1 until shards).map(_.toDouble / shards).toArray
    val bounds =
      if (shards > 1) df0.stat.approxQuantile(valueCol, probs, 0.05).distinct.sorted
      else Array.empty[Double]
    // strict `value > boundary` keeps ties in one shard → sharding is
    // monotone in the (value, id) order, the two-phase invariant
    val shard =
      if (bounds.isEmpty) lit(0L)
      else
        size(filter(
          array(bounds.toIndexedSeq.map(lit(_)): _*),
          b => col(valueCol).cast("double") > b)).cast("long")
    val sharded = df0.withColumn("__shard", shard)
    val w = Window.partitionBy("__shard").orderBy(col(valueCol), col(idCol))
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
      .withColumn("rank", col("base") + col("__lr"))
      .withColumn("bucket", expr(s"((rank - 1) * $nBuckets) div ${n}L + 1L"))
      .drop("__shard", "__lr", "base")
  }

  // ---------- sequence packing (concat-and-chunk) ----------

  /**
   * Concat-and-chunk sequence packing: documents, in deterministic
   * `orderCol` order, are laid end to end on a global token axis and cut
   * into fixed `seqLen` training sequences (the standard GPT-style packing
   * — a document may straddle a sequence boundary; each output row is one
   * (document × sequence) chunk with both-side offsets, enough to
   * materialize examples or build attention-mask segment ids).
   *
   * The global running token offset is NOT a global-order window (that
   * would be a single-partition sort at corpus scale). Two-phase prefix
   * sum instead: `orderCol` is range-bucketed into `shards` contiguous
   * spans (monotonic bucketing preserves global order across shards), the
   * cumulative sum runs per-shard in parallel, and the tiny per-shard
   * totals frame (`shards` rows) is prefix-summed and broadcast back as
   * each shard's base offset. One corpus-side shuffle (by shard, which is
   * a range of the order key), never a global sort.
   *
   * @return (id, seq_id, seq_off, doc_off, len): chunk of document `id`
   *         covering tokens [doc_off, doc_off+len) of the doc, placed at
   *         [seq_off, seq_off+len) of training sequence `seq_id`.
   */
  def packSequences(
      docs: DataFrame,
      seqLen: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      shards: Int = 256,
      idBounds: Option[(Long, Long)] = None): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val t = docs.select(
      col(idCol).as("id"),
      size(split(col(textCol), "\\s+")).cast("long").as("n"))
    // contiguous range buckets of the order key (ids need not be dense).
    // `idBounds` may be any SUPERSET of the actual id range (empty shards
    // are harmless) — pass the raw table's min/max when `docs` is the tail
    // of an expensive filter chain, so the 2-value bounds probe below
    // doesn't re-execute that chain just to size the buckets.
    val (lo, hi) = idBounds.getOrElse {
      val bounds = t.agg(min("id"), max("id")).first()
      if (bounds.isNullAt(0)) return t.sparkSession.emptyDataFrame
      (bounds.getLong(0), bounds.getLong(1))
    }
    // bucket at HALF id resolution: full-range ids (xxhash64-scale) can
    // span more than Long.MaxValue, so `id - lo` overflows (raises under
    // ANSI) and `hi - lo` wraps silently on the driver, breaking the
    // monotonic-bucketing invariant. `id div 2` is monotone and its range
    // difference always fits a Long; bucket boundaries only need to be
    // monotone and roughly balanced — the output offsets depend on global
    // ORDER alone, not on where the buckets fall. (Integer div, not double
    // division, which loses id precision past 2^53.)
    val loH = lo / 2
    val span = math.max((hi / 2 - loH) / shards + 1, 1L)
    val sharded = t.withColumn("shard", expr(s"((id div 2L) - ${loH}L) div ${span}L"))
    // phase 1: per-shard exclusive running sum (parallel across shards)
    val local = sharded.withColumn(
      "local_s",
      sum("n").over(Window.partitionBy("shard").orderBy("id")) - col("n"))
    // phase 2: shard base offsets — `shards` rows, trivially small
    val bases = sharded
      .groupBy("shard")
      .agg(sum("n").as("tot"))
      .withColumn(
        "base",
        coalesce(
          sum("tot").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("shard", "base")
    val placed = local
      .join(broadcast(bases), Seq("shard"))
      .select(col("id"), col("n"), (col("local_s") + col("base")).as("s"))
      .withColumn("e", col("s") + col("n"))
    // chunk fan-out: ceil(n / seqLen) + 1 rows per doc, bounded
    val L = lit(seqLen.toLong)
    placed
      .select(
        col("id"),
        col("s"),
        col("e"),
        explode(expr(s"sequence(s div ${seqLen}L, (e - 1) div ${seqLen}L)")).as("seq_id"))
      .select(
        col("id"),
        col("seq_id"),
        (greatest(col("s"), col("seq_id") * L) - col("seq_id") * L).as("seq_off"),
        (greatest(col("s"), col("seq_id") * L) - col("s")).as("doc_off"),
        (least(col("e"), (col("seq_id") + 1) * L) - greatest(col("s"), col("seq_id") * L))
          .as("len"))
  }

  // ---------- per-document sliding-window chunking ----------

  /**
   * Per-document sliding-window chunking (the RAG / context-window prep
   * op — unlike [[packSequences]], chunks NEVER cross document
   * boundaries): token windows of `chunkTokens` starting every `stride`
   * tokens, last window ragged, every token covered. stride < chunkTokens
   * gives the standard overlap.
   *
   * Scale shape: pure map — one projection + explode, no shuffle at all;
   * fan-out per doc is ceil(max(n − chunk, 0)/stride) + 1 rows, bounded by
   * the doc's own length.
   *
   * @return (idCol, chunk_idx, start_tok, n_toks, chunk_text)
   */
  def chunkDocuments(
      docs: DataFrame,
      chunkTokens: Int,
      stride: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && stride > 0, s"chunkTokens=$chunkTokens, stride=$stride must be positive")
    require(stride <= chunkTokens,
      s"stride=$stride > chunkTokens=$chunkTokens would leave uncovered gaps")
    docs
      .select(col(idCol), split(col(textCol), "\\s+").as("tk"))
      // chunk starts: 0, stride, …, the last one that still begins new
      // content (start < n, and previous chunk didn't already cover to n)
      .select(
        col(idCol),
        col("tk"),
        posexplode(expr(
          s"transform(sequence(0, greatest(cast(ceil((size(tk) - $chunkTokens) / $stride.0D) as int), 0)), " +
            s"j -> j * $stride)")).as(Seq("chunk_idx", "start_tok")))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        least(lit(chunkTokens.toLong), size(col("tk")) - col("start_tok"))
          .cast("long").as("n_toks"),
        expr(s"array_join(slice(tk, start_tok + 1, $chunkTokens), ' ')").as("chunk_text"))
  }

  // ---------- PII redaction ----------

  /** ASCII-safe PII patterns, portable between Java regex and RE2 (no
    * backreferences, no lookaround): email, IPv4, phone-like digit runs. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val PhonePattern = "[+(]?[0-9][0-9()\\- ]{6,}[0-9]"

  /** Redact PII in place: emails → `<EMAIL>`, then IPv4 → `<IP>` (before
    * phones, whose digit-run pattern would otherwise eat dotted quads),
    * then phone-like runs → `<PHONE>`. Pure string expressions — codegen,
    * no UDF, no shuffle. */
  def redactPii(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(textCol, EmailPattern, "<EMAIL>"),
        Ipv4Pattern,
        "<IP>"),
      PhonePattern,
      "<PHONE>")

  /** Redaction with per-kind match counts (for pipeline accounting):
    * (…input columns…, n_emails, n_ips, n_phones, redacted). */
  def redactionReport(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_emails", size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).cast("long"))
      .withColumn(
        "n_ips",
        size(
          regexp_extract_all(
            regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
            lit(Ipv4Pattern),
            lit(0))).cast("long"))
      .withColumn(
        "n_phones",
        size(
          regexp_extract_all(
            regexp_replace(
              regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
              Ipv4Pattern,
              "<IP>"),
            lit(PhonePattern),
            lit(0))).cast("long"))
      .withColumn("redacted", redactPii(col(textCol)))
}
