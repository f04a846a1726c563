package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication operators for large-scale training-data pipelines.
 * Everything is expressed with codegen'd built-ins (`xxhash64`, `transform`,
 * `aggregate`, `explode`) — no UDFs — so the hot paths stay inside
 * whole-stage codegen and scale by partitioning on the hash/band keys.
 *
 * Scale notes: exact dedup is one hash-groupBy; MinHash-LSH shuffles once on
 * the (band, band-hash) key — candidate pairs are generated per bucket with
 * a self-join, so skewed buckets (boilerplate docs) are the risk; buckets
 * larger than `maxBucket` are dropped with a count, the standard guardrail.
 */
object Dedup {

  /** Exact duplicates: group by content hash.
    * @return (fp, n_dups, canonical_id, doc_ids) */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("fp"))
      .agg(
        count(lit(1)).as("n_dups"),
        min(col(idCol)).as("canonical_id"),
        sort_array(collect_list(col(idCol))).as("doc_ids"))

  /** Normalized-content fingerprint dedup: lowercase + strip non-alnum. */
  def normalized(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("canonical_id"))

  /** Word k-shingles of a text column (by name) as array<string>.
    * The token array is bound ONCE through a single-element transform
    * lambda — writing `split(...)` inline in the per-shingle lambda would
    * re-split the whole text for every shingle index, O(text²) per
    * document (measured dominating LSH wall time before the hoist). */
  def shingles(textColName: String, k: Int): Column =
    expr(
      s"element_at(transform(array(split($textColName, '\\\\s+')), toks -> " +
        s"transform(sequence(0, greatest(size(toks) - $k, 0)), " +
        s"i -> array_join(slice(toks, i + 1, $k), ' '))), 1)")

  /** Portable-hash parameters: a polynomial rolling hash over character
    * codes mod a ~2^30 prime, indexed hash family h_i(x) = (a_i·x + b_i)
    * mod P. Pure integer arithmetic both Spark and DuckDB evaluate
    * identically, so LSH pipelines built on it are oracle-replayable
    * end-to-end (xxhash64 — the default, better-mixing family — has no
    * DuckDB equivalent). All intermediates stay < 2^62: codes < 2^17,
    * rolling acc < P ≈ 2^30, a_i < 2^26, products < 2^56.
    */
  val PolyP = 1000000007L
  val PolyBandP = 998244353L

  /** SQL for the polynomial character hash of string expression `s`. */
  private[graft] def polyHashSql(s: String): String =
    s"aggregate(split($s, ''), cast(0 as bigint), " +
      s"(acc, c) -> (acc * 31 + pmod(ascii(c), 65536)) % $PolyP)"

  /**
   * MinHash signatures: per document, `numHashes` minima of
   * xxhash64(shingle, seed_i). Returns the docs DF with a `minhash`
   * array<long> column.
   */
  def withMinHash(
      docs: DataFrame,
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 32,
      portable: Boolean = false): DataFrame = {
    // The variable-length STRING hash of each shingle is computed ONCE into
    // a base array (__hs, its own projection — CollapseProject does not
    // inline non-cheap aliases, so codegen evaluates it once per row); the
    // per-h family then maps cheap integer ops over longs. The naive form
    // (string hash inside the h-loop) pays numHashes× the string hashing —
    // measured 32× redundant work dominating LSH wall time. For the
    // portable family this hoist is exactly the algebra the DuckDB oracle
    // replays (identical values); the xxhash64 family derives h_i from a
    // base hash (xxhash64(base, h)) — equally valid MinHash, 32× cheaper.
    val sh = docs.withColumn("__shingles", shingles(textCol, shingleSize))
    val baseExpr =
      if (portable) s"transform(__shingles, s -> ${polyHashSql("s")})"
      else "transform(__shingles, s -> xxhash64(s))"
    sh.withColumn("__hs", expr(baseExpr))
      .withColumn(
        "minhash",
        graft.functions.HashExpressions.minHashSig(col("__hs"), numHashes, portable))
      .drop("__shingles", "__hs")
  }

  /** The composed-builtins MinHash family the native kernel replaced —
    * retained as the executable spec of
    * [[graft.functions.MinHashSignature]]'s numeric contract (bit-identity
    * asserted in `HashExpressionsSpec`). Expects the base-hash array bound
    * as `__hs`. */
  private[graft] def minHashSigSql(numHashes: Int, portable: Boolean): String =
    if (portable)
      s"transform(sequence(0, ${numHashes - 1}), h -> array_min(" +
        s"transform(__hs, x -> ((1 + h * 1000003) * x + h * 999983 + 12345) % $PolyP)))"
    else
      s"transform(sequence(0, ${numHashes - 1}), " +
        "h -> array_min(transform(__hs, x -> xxhash64(x, h))))"

  /**
   * MinHash + LSH near-duplicate candidate pairs: split the signature into
   * `bands` bands, bucket on (band index, hash of the band slice), emit
   * candidate pairs per bucket, then verify with the full-signature Jaccard
   * estimate ≥ `threshold`.
   *
   * @return (a, b, est_jaccard) with a < b.
   */
  /** Banded signature rows WITHOUT the bucket-size window: (id, minhash,
    * band, bh) — the cross-corpus ops ([[CorpusOps.contaminationFuzzy]])
    * join these directly on (band, bh). */
  private[graft] def bandedMinHash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int,
      portable: Boolean): DataFrame = {
    val rows = numHashes / bands
    val bandHash =
      if (portable)
        s"aggregate(slice(minhash, b * $rows + 1, $rows), " +
          s"cast(42 as bigint), (acc, x) -> (acc * 31 + x) % $PolyBandP)"
      else
        s"aggregate(slice(minhash, b * $rows + 1, $rows), " +
          "cast(42 as bigint), (acc, x) -> xxhash64(acc, x))"
    withMinHash(docs, textCol, shingleSize, numHashes, portable)
      .select(col(idCol).as("id"), col("minhash"))
      .select(
        col("id"),
        col("minhash"),
        explode(
          expr(s"transform(sequence(0, ${bands - 1}), b -> named_struct(" +
            s"'band', b, 'bh', $bandHash))"))
          .as("bb"))
      .select(col("id"), col("minhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** The banded signature rows shared by [[minHashLsh]] and
    * [[minHashLshDropped]]: (id, minhash, band, bh, bucket_n). */
  private def bandedSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int,
      portable: Boolean): DataFrame =
    bandedMinHash(docs, idCol, textCol, shingleSize, numHashes, bands, portable)
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))

  /** Guardrail accounting for [[minHashLsh]]: the buckets the cap would
    * drop, as (band, bh, bucket_n) — at 100 TB the drops ARE the story
    * (boilerplate explosions), so they're first-class output, not a silent
    * filter. Aggregate or persist this alongside the pair results. */
  def minHashLshDropped(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame =
    bandedSignatures(docs, idCol, textCol, shingleSize, numHashes, bands, portable)
      .filter(col("bucket_n") > maxBucket)
      .groupBy("band", "bh")
      .agg(first("bucket_n").as("bucket_n"))

  def minHashLsh(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame = {
    // guardrail: drop pathologically hot buckets (boilerplate explosion);
    // the dropped buckets are observable via [[minHashLshDropped]]
    val sized = bandedSignatures(docs, idCol, textCol, shingleSize, numHashes, bands, portable)
      .filter(col("bucket_n") <= maxBucket)

    // Candidate pairs are generated WITHIN each bucket from a collected
    // member array (bounded by maxBucket, so a bucket row is ≤ a few
    // hundred KB) rather than a bucket self-join: the signatures are
    // computed once on a single plan branch (the old two-branch self-join
    // had to persist them — a cache leak in a long-lived session) and the
    // whole pipeline pays ONE exchange on (band, bh), which the window,
    // the groupBy and the pair fan-out all reuse. The fan-out itself goes
    // through [[bucketPairs]], which never builds the C(n,2) array in a
    // single row.
    val buckets = sized
      .groupBy("band", "bh")
      .agg(collect_list(struct(col("id"), col("minhash"))).as("mem"))
      .filter(size(col("mem")) >= 2)

    bucketPairs(buckets)
      .select(
        col("l.id").as("ia"),
        col("l.minhash").as("mha"),
        col("r.id").as("ib"),
        col("r.minhash").as("mhb"))
      .select(
        least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"),
        // native eqCount == size(filter(zip_with(mha, mhb, (x,y) -> x = y), v -> v))
        (graft.functions.HashExpressions.eqCount(col("mha"), col("mhb"))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy("a", "b")
      .agg(round(max("est_jaccard"), 6).as("est_jaccard"))
  }

  /**
   * SimHash: 64-bit locality-sensitive fingerprint — per token hash, vote
   * each bit up/down, sign gives the fingerprint bit. Near-dups differ in
   * few bits (compare with `bit_count(a ^ b)` ≤ k).
   * @return docs with a `simhash` long column.
   */
  def withSimHash(docs: DataFrame, textCol: String = "text", portable: Boolean = false): DataFrame = {
    // portable: 63 bits (bit 63 would need signed-overflow shifts DuckDB
    // rejects); per-token bit b = ((H·(2b+17) + 7919) mod P) mod 2 over the
    // polynomial token hash H — a family both engines evaluate identically
    // (oracle-replayable). Default: xxhash64 token hash, vote by bit b.
    // The token hash is computed ONCE per token; the per-bit vote fold runs
    // in the native [[graft.functions.SimHash64]] kernel (one pass over the
    // tokens with 63/64 counters instead of a per-bit token re-scan).
    docs
      .withColumn("__th", expr(tokenHashesExpr(textCol, portable)))
      .withColumn("simhash", graft.functions.HashExpressions.simHash(col("__th"), portable))
      .drop("__th")
  }

  /** The composed-builtins SimHash vote the native kernel replaced — the
    * executable spec for `HashExpressionsSpec`'s bit-identity check.
    * Expects the token-hash array bound as `__th`. */
  private[graft] def simHashSql(portable: Boolean): String =
    if (portable)
      s"""aggregate(
         |  sequence(0, 62),
         |  cast(0 as bigint),
         |  (acc, bit) -> acc + CASE WHEN
         |    aggregate(__th, 0,
         |      (v, h) -> v + CASE WHEN pmod(h * (2 * bit + 17) + 7919, $PolyP) % 2 = 1
         |                      THEN 1 ELSE -1 END) > 0
         |    THEN shiftleft(cast(1 as bigint), bit) ELSE cast(0 as bigint) END)""".stripMargin
    else
      s"""aggregate(
         |  sequence(0, 63),
         |  cast(0 as bigint),
         |  (acc, bit) -> acc + CASE WHEN
         |    aggregate(__th, 0,
         |      (v, h) -> v + CASE WHEN (shiftright(h, bit) & 1) = 1
         |                      THEN 1 ELSE -1 END) > 0
         |    THEN shiftleft(cast(1 as bigint), bit) ELSE cast(0 as bigint) END)""".stripMargin

  /** Pigeonhole segment layout for [[simHashPairs]]: (index, startBit,
    * mask) for maxHamming+1 segments over the 64-bit fingerprint —
    * shared with the DuckDB oracle so both engines bucket identically. */
  def simHashSegments(maxHamming: Int): Seq[(Int, Int, Long)] = {
    val m = maxHamming + 1
    (0 until m).map { i =>
      val start = i * 64 / m
      val width = (i + 1) * 64 / m - start
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      (i, start, mask)
    }
  }

  /** The segmented fingerprint rows shared by [[simHashPairs]] and
    * [[simHashDropped]]: (id, simhash, q, qh, bucket_n). */
  private def segmentedSimHash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      portable: Boolean): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming=$maxHamming out of [0, 32)")
    // segment i covers bits [floor(i·64/m), floor((i+1)·64/m))
    val segs = simHashSegments(maxHamming).map { case (i, start, mask) =>
      s"named_struct('q', $i, 'qh', shiftright(simhash, $start) & ${mask}L)"
    }
    withSimHash(docs, textCol, portable)
      .select(
        col(idCol).as("id"),
        col("simhash"),
        explode(expr(s"array(${segs.mkString(", ")})")).as("qq"))
      .select(col("id"), col("simhash"), col("qq.q").as("q"), col("qq.qh").as("qh"))
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("q", "qh")))
  }

  /** Guardrail accounting for [[simHashPairs]]: segment buckets larger than
    * `maxBucket` as (q, qh, bucket_n) — same first-class drop-report
    * contract as [[minHashLshDropped]] (a hot segment value is the SimHash
    * flavor of a boilerplate explosion). */
  def simHashDropped(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      portable: Boolean = false): DataFrame =
    segmentedSimHash(docs, idCol, textCol, maxHamming, portable)
      .filter(col("bucket_n") > maxBucket)
      .groupBy("q", "qh")
      .agg(first("bucket_n").as("bucket_n"))

  /** SimHash near-dup pairs: fingerprints within `maxHamming` bits, bucketed
    * by `maxHamming + 1` bit segments of the fingerprint — by pigeonhole a
    * pair differing in ≤ maxHamming bits has at least one segment with zero
    * differing bits, so bucketing on exact segment values is recall-exact
    * (unlike a fixed quarter split, which is only exact for distance ≤ 3).
    * Segment buckets hotter than `maxBucket` are dropped (observable via
    * [[simHashDropped]]); pairs are generated within each bucket from the
    * collected member array — one fingerprint computation, one exchange on
    * (q, qh), no persisted intermediate. */
  def simHashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      portable: Boolean = false): DataFrame = {
    val buckets = segmentedSimHash(docs, idCol, textCol, maxHamming, portable)
      .filter(col("bucket_n") <= maxBucket)
      .groupBy("q", "qh")
      .agg(collect_list(struct(col("id"), col("simhash"))).as("mem"))
      .filter(size(col("mem")) >= 2)

    bucketPairs(buckets)
      .select(
        least(col("l.id"), col("r.id")).as("a"),
        greatest(col("l.id"), col("r.id")).as("b"),
        expr("bit_count(l.simhash ^ r.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("a", "b")
      .agg(min("hamming").as("hamming"))
  }

  /** Unordered in-bucket candidate pairs from a frame with a `mem`
    * array<struct> column, WITHOUT materializing the C(n,2) pair array in
    * one row (the old `flatten(transform(...slice...))` built ~500k structs
    * per near-cap minhash bucket and ~5·10⁷ — multi-GB — per near-cap
    * simhash bucket before its explode, an OOM risk per task). Two chained
    * explodes instead: posexplode a member, then explode its tail slice —
    * every intermediate row is bounded by ONE member list (≤ maxBucket
    * structs), the plan stays a single branch (no self-join, nothing
    * persisted), and the generated pair set is identical. */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(col("mem"), posexplode(col("mem")).as(Seq("i", "l")))
      .select(col("l"), explode(expr("slice(mem, i + 2, size(mem))")).as("r"))

  /**
   * Exact n-gram Jaccard similarity for candidate pairs (the verify stage
   * after LSH, or standalone on a pre-filtered pair set): computes
   * |A∩B| / |A∪B| over word shingle sets.
   * `pairs` must have columns (a, b) of ids matching `docs(idCol)`.
   */
  def ngramJaccard(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3): DataFrame = {
    val sh = docs.select(
      col(idCol).as("id"),
      array_distinct(shingles(textCol, shingleSize)).as("sh"))
    pairs
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .select(
        col("a"),
        col("b"),
        round(
          size(array_intersect(col("sha"), col("shb"))).cast("double") /
            greatest(size(array_union(col("sha"), col("shb"))), lit(1)),
          6).as("jaccard"))
  }

  /** Token-hash array expression shared by [[withSimHash]] and
    * [[duplicateSpans]]. */
  private def tokenHashesExpr(textCol: String, portable: Boolean): String =
    if (portable) s"transform(split($textCol, '\\\\s+'), tok -> ${polyHashSql("tok")})"
    else s"transform(split($textCol, '\\\\s+'), tok -> xxhash64(tok))"

  /** The composed-builtins window-hash form the native
    * [[graft.functions.WindowHashes]] kernel replaced — executable spec for
    * `HashExpressionsSpec`'s bit-identity check. Expects the token-hash
    * array bound as `__th`. */
  private[graft] def windowHashesSql(width: Int, portable: Boolean): String =
    if (portable)
      // dual independent folds combined into one ~2^60 key (a single ~2^30
      // modulus has expected birthday collisions at census scale)
      s"""if(size(__th) >= $width,
         |  transform(sequence(0, size(__th) - $width),
         |    i -> aggregate(slice(__th, i + 1, $width),
         |           named_struct('h1', cast(7 as bigint), 'h2', cast(11 as bigint)),
         |           (acc, x) -> named_struct(
         |             'h1', (acc.h1 * 31 + x) % $PolyP,
         |             'h2', (acc.h2 * 37 + x) % $PolyBandP),
         |           acc -> acc.h1 * $PolyBandP + acc.h2)),
         |  cast(array() as array<bigint>))""".stripMargin
    else
      s"""if(size(__th) >= $width,
         |  transform(sequence(0, size(__th) - $width),
         |    i -> aggregate(slice(__th, i + 1, $width), cast(42 as bigint),
         |           (acc, x) -> xxhash64(x, acc))),
         |  cast(array() as array<bigint>))""".stripMargin

  /**
   * Exact duplicated-substring spans (the suffix-window analog of Lee et
   * al. 2021, "Deduplicating Training Data Makes Language Models Better"):
   * every length-`minTokens` token window is hashed; a window is duplicated
   * iff its hash occurs ≥ 2 times in the corpus (so `minDocs = 1` catches
   * within-document repetition too) AND in ≥ `minDocs` distinct documents;
   * per document,
   * CONSECUTIVE duplicated window positions merge into maximal spans, so a
   * duplicated passage of S tokens reports one span with
   * `span_len = S = n_windows + minTokens − 1`.
   *
   * The 100 TB shape (plan verified via `tools.PlanDump`), stated honestly:
   *
   *  - **The census `groupBy(wh)` IS a full corpus-token-scale exchange** —
   *    ~one shuffle row per corpus token, and because window hashes are
   *    mostly unique, map-side partial aggregation barely reduces it. This
   *    is the single biggest shuffle in this library at 100 TB and it is
   *    the canonical MapReduce shape for exact substring dedup (Lee et
   *    al.'s suffix-array build moves the corpus the same way); exactness
   *    needs a global per-hash count, and no sketch pre-pass can prune
   *    singletons without a second corpus-scale exchange of its own.
   *    [[duplicateSpansStats]] meters it (windows in, distinct/dup hashes,
   *    measured shuffle volume is in BENCH.md) — the no-silent-costs
   *    convention the `*Dropped` frames follow.
   *  - The duplicate-hash SET that comes out of the census — rare next to
   *    the corpus — returns as the BROADCAST build side of a LeftSemi
   *    join, so the second corpus-sized window stream reaches the join
   *    with no exchange (scanning the corpus twice is cheaper than
   *    materializing the window stream); on a corpus where dup hashes are
   *    NOT rare, AQE falls back to a shuffle join — one exchange per side.
   *  - Boilerplate explosions aggregate to a count per hash (never a pair
   *    fan-out, so no bucket cap is needed); the island merge exchanges
   *    hit positions only.
   *
   * @return (doc_id, span_start, span_len, n_windows) — token offsets
   */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 8,
      minDocs: Int = 2,
      portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wh = docs
      .withColumn("__th", expr(tokenHashesExpr(textCol, portable)))
      .select(
        col(idCol).as("doc_id"),
        posexplode(graft.functions.HashExpressions.windowHashes(
          col("__th"), minTokens, portable)).as(Seq("pos", "wh")))
      .filter(col("wh").isNotNull)
    val dupHashes = wh
      .groupBy("wh")
      .agg(count(lit(1)).as("n_occ"), count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= 2 && col("n_docs") >= minDocs)
    val hits = wh.join(dupHashes.select("wh"), Seq("wh"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val running = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn(
        "newSpan",
        when(col("pos") - coalesce(lag("pos", 1).over(byDoc), lit(-2)) =!= 1, 1).otherwise(0))
      .withColumn("island", sum("newSpan").over(running))
      .groupBy("doc_id", "island")
      .agg(
        min("pos").cast("long").as("span_start"),
        count(lit(1)).as("n_windows"))
      .select(
        col("doc_id"),
        col("span_start"),
        (col("n_windows") + (minTokens - 1)).as("span_len"),
        col("n_windows"))
  }

  /** Census-size accounting for [[duplicateSpans]] — the frame to persist
    * next to span results at scale, because the census exchange is the
    * library's largest shuffle and its volume should be a first-class
    * output, not a surprise: one row with
    * (n_windows, n_distinct_hashes, n_dup_hashes, n_dup_windows,
    * census_shuffle_rows, census_shuffle_bytes_est). The byte estimate is
    * rows × 24 B (wh, doc_id, pos per pre-aggregation shuffle row); the
    * MEASURED exchange volume for the sf0.1 corpus is recorded in
    * BENCH.md. */
  def duplicateSpansStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 8,
      minDocs: Int = 2,
      portable: Boolean = false): DataFrame = {
    val wh = docs
      .withColumn("__th", expr(tokenHashesExpr(textCol, portable)))
      .select(
        col(idCol).as("doc_id"),
        posexplode(graft.functions.HashExpressions.windowHashes(
          col("__th"), minTokens, portable)).as(Seq("pos", "wh")))
      .filter(col("wh").isNotNull)
    val census = wh
      .groupBy("wh")
      .agg(count(lit(1)).as("n_occ"), count_distinct(col("doc_id")).as("n_docs"))
    census.agg(
      sum("n_occ").as("n_windows"),
      count(lit(1)).as("n_distinct_hashes"),
      sum(when(col("n_occ") >= 2 && col("n_docs") >= minDocs, 1L).otherwise(0L))
        .as("n_dup_hashes"),
      sum(when(col("n_occ") >= 2 && col("n_docs") >= minDocs, col("n_occ")).otherwise(0L))
        .as("n_dup_windows"))
      .withColumn("census_shuffle_rows", col("n_windows"))
      .withColumn("census_shuffle_bytes_est", col("n_windows") * 24L)
  }

  /**
   * The action stage of exact substring dedup (Lee et al. 2021 §4: keep ONE
   * occurrence of every duplicated passage, cut the rest): spans from
   * [[duplicateSpans]] are grouped by span CONTENT (a dual-fold hash of the
   * span's token hashes — identical passages have identical token streams),
   * the lexicographically first occurrence (doc_id, span_start) is the
   * canonical keeper, and every other occurrence's token range is removed
   * from its document's token stream.
   *
   * Output text is the token stream re-joined with single spaces (the
   * normalized form — original inter-token whitespace is not preserved).
   *
   * The 100 TB shape: spans are rare next to the corpus, so the removal
   * list per document is a small array joined onto the docs table; the cut
   * itself is one projection (`filter` over the token array against ≤ a few
   * ranges — no per-token shuffle, no posexplode of the corpus).
   *
   * @return (doc_id, clean_text, removed_tokens)
   */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 8,
      minDocs: Int = 2,
      portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = duplicateSpans(docs, idCol, textCol, minTokens, minDocs, portable)
    // span content hash over the span's token hashes (same families as the
    // window census; dual fold for the portable key space)
    val contentHash =
      if (portable)
        expr(
          s"""aggregate(slice(__th, cast(span_start as int) + 1, cast(span_len as int)),
             |  named_struct('h1', cast(7 as bigint), 'h2', cast(11 as bigint)),
             |  (acc, x) -> named_struct(
             |    'h1', (acc.h1 * 31 + x) % $PolyP,
             |    'h2', (acc.h2 * 37 + x) % $PolyBandP),
             |  acc -> acc.h1 * $PolyBandP + acc.h2)""".stripMargin)
      else
        expr(
          s"""aggregate(slice(__th, cast(span_start as int) + 1, cast(span_len as int)),
             |  cast(42 as bigint), (acc, x) -> xxhash64(x, acc))""".stripMargin)
    // only span-bearing documents get re-tokenized for content hashing —
    // at corpus scale spans are rare, so this semi-join keeps the hashing
    // side tiny instead of tokenizing the whole corpus a second time
    val spanDocs = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(spans.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), expr(tokenHashesExpr("__text", portable)).as("__th"))
    val withCh = spans
      .join(spanDocs, Seq("doc_id"))
      .withColumn("ch", contentHash)
    val byContent = Window.partitionBy("ch", "span_len").orderBy("doc_id", "span_start")
    val removals = withCh
      .withColumn("rn", row_number().over(byContent))
      .filter(col("rn") > 1)
      .groupBy("doc_id")
      .agg(
        collect_list(struct(col("span_start"), col("span_len"))).as("rm"),
        sum("span_len").as("removed_tokens"))
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), "\\s+").as("tk"))
      .join(removals, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("rm").isNull, expr("array_join(tk, ' ')"))
          .otherwise(expr(
            """array_join(transform(
              |  filter(zip_with(tk, sequence(0, size(tk) - 1), (t, i) -> named_struct('t', t, 'i', i)),
              |    p -> !exists(rm, r -> p.i >= r.span_start AND p.i < r.span_start + r.span_len)),
              |  p -> p.t), ' ')""".stripMargin))
          .as("clean_text"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"))
  }

  /**
   * Dedup clustering — the "keep one copy" stage of a corpus pipeline:
   * connected components over a near-dup pair graph (from [[minHashLsh]],
   * [[simHashPairs]], [[graft.ml.Similarity.cosineNearDupPairs]], …), with
   * a deterministic representative per cluster (longest text, then
   * smallest id — the usual keep-the-most-complete-copy rule).
   *
   * Components run on the PAIR graph only (tiny next to the corpus — only
   * documents that hit a candidate pair appear), via the same
   * alternating-star contraction as [[graft.algos.ConnectedComponents]];
   * the full document table is then labelled with one left join.
   * Singletons keep their own id as cluster.
   *
   * @param pairs candidate duplicate pairs, columns (a, b)
   * @return one row per document: (idCol, cluster, cluster_n, keep)
   */
  def dupClusters(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val g = graft.graph.TemporalGraph(
      pairs.select(
        col("a").as("src"),
        col("b").as("dst"),
        lit(0L).as("ts"),
        lit(0L).as("event_id"),
        lit("_dup").as("layer")))
    val comp = graft.algos.ConnectedComponents.run(spark, g)
    val labeled = docs
      .select(col(idCol).as("id"), length(col(textCol)).cast("long").as("len"))
      .join(comp.select(col("id"), col("label")), Seq("id"), "left")
      .select(col("id"), col("len"), coalesce(col("label"), col("id")).as("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("len").desc, col("id"))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    labeled
      .withColumn("cluster_n", count(lit(1)).over(cw))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("id").as(idCol), col("cluster"), col("cluster_n"), col("keep"))
  }

  // ---------- corpus-level line dedup (C4/CCNet-style) ----------

  /** One row per (document, line), keyed for the dedup join: (doc_id, idx,
    * line, k, empty). Lines are keyed by md5 of the trimmed content (md5 is
    * portable to the DuckDB oracle); blank lines are never dedup
    * candidates. */
  private def corpusLines(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "line")
      .withColumn("k", md5(trim(col("line"))))
      .withColumn("empty", trim(col("line")) === "")

  /** Line census: how often each distinct (trimmed) line occurs across the
    * corpus and in how many documents — the observability face of
    * [[dedupLines]] and the C4 boilerplate signal (nav bars, cookie
    * banners repeat across millions of pages). Returns lines occurring at
    * least `minOccurrences` times: (k, sample_line, n_docs, n_occ). */
  def lineCensus(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minOccurrences: Int = 2): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), "\n")).as("line"))
      .withColumn("t", trim(col("line")))
      .filter(col("t") =!= "")
      .groupBy(md5(col("t")).as("k"))
      .agg(
        min(col("t")).as("sample_line"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minOccurrences)

  /**
   * Corpus-level line deduplication (the CCNet/RefinedWeb analog of C4's
   * repeated-span rule): every non-blank line that occurs more than once
   * across the corpus is kept ONLY at its globally-first occurrence
   * (smallest (doc_id, line index)) and removed everywhere else; blank
   * lines always survive. Documents are reconstructed in original line
   * order.
   *
   * Scale shape — stated plainly, like the substring census: the global
   * first occurrence per line is `min(struct(doc_id, idx))` over the line
   * hash — an AGGREGATE, not a rank window, deliberately: min is map-side
   * combinable, so the heavy-hitter boilerplate lines (nav bars, cookie
   * banners at 10^8 occurrences in a web corpus) collapse to one row per
   * partition before the exchange, where a `row_number` window would sort
   * every occurrence of the hottest key in a single task that AQE cannot
   * split. The firsts table (one row per DISTINCT line) joins back to the
   * corpus-line stream — a shuffle join AQE can skew-split — then one
   * groupBy(doc) reassembles. The corpus-line stream is exchanged once
   * for the join and once for the reassembly, the canonical cost.
   *
   * @return (doc_id, n_lines, n_kept, clean_text)
   */
  def dedupLines(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = corpusLines(docs, idCol, textCol)
    val firsts = lines
      .filter(!col("empty"))
      .groupBy("k")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    lines
      .join(firsts, Seq("k"), "left")
      .withColumn(
        "keep",
        col("empty") || struct(col("doc_id"), col("idx")) === col("first"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(
              collect_list(
                when(col("keep"), struct(col("idx"), col("line"))))),
            x => x("line")),
          "\n").as("clean_text"))
  }
}
