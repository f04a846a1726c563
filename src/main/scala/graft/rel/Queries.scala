package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.TemporalGraph
import graft.algos.{BipartiteProjection, Centrality, Components, ConnectedComponents, FastRP, Hits, Independent, KCore, LabelPropagation, Louvain, Metrics, PageRank, Paths, Scc, Triangles}
import graft.ml.{Clustering, CorpusOps, Dedup, GraphLearn, Sampling, SemDedup, Similarity, TextAnalysis}

/**
 * The relational operator surface checked by the driver's DuckDB oracle:
 * every entry in [[all]] is a Spark DataFrame program over the
 * `/root/testdata/sf*` parquet tables; entries present in [[oracles]] carry
 * semantically-identical ANSI SQL. Column names/aliases match exactly on
 * both sides (the driver sorts columns by name before hashing). Floating
 * aggregates are rounded on both sides so FP summation order can't flip the
 * hash.
 *
 * Operator coverage follows SURVEY.md §2: scans/projections/predicate
 * algebra (§2.2), joins incl. semi/anti (§2.3), aggregations (§2.4),
 * windows (§2.5-2.6), set ops (§2.7), scalar functions (§2.8), plus the
 * link-graph operators (§2.10) expressed over an edge table derived from
 * `events` (consecutive events of the same type link their users — fully
 * SQL-expressible so DuckDB can replay degree/triangle/reciprocity exactly).
 */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Epoch helpers that work on the NTZ timestamps the testdata parquet
    * carries (session TZ is UTC, so NTZ→LTZ reinterpretation is exact and
    * matches DuckDB's naive-timestamp epoch). */
  private def epochMillis(c: org.apache.spark.sql.Column) =
    unix_millis(c.cast("timestamp_ltz"))
  private def epochMicros(c: org.apache.spark.sql.Column) =
    unix_micros(c.cast("timestamp_ltz"))

  /** DuckDB CTE chain replaying `rounds` of BPE training relationally
    * (shared by `q_text_bpe_merges` and `q_text_bpe_segment`): per round,
    * a pair census + argmax (ties by pair asc), then the greedy-left merge
    * applied as position explode → candidate marking (run-parity rule for
    * `a==b` overlaps) → consumed-position drop → ordered re-collect. Ends
    * with `sym{rounds+1}` = the post-training symbol state per word. */
  private def bpeOracleCtes(rounds: Int): String = {
    def round(r: Int): String =
      s"""best$r AS (
         |  SELECT pr.a, pr.b, pr.a || pr.b AS m, pr.c FROM (
         |    SELECT p[1] AS a, p[2] AS b, CAST(sum(cnt) AS BIGINT) AS c
         |    FROM (SELECT cnt, unnest(list_zip(syms, syms[2:])) AS p
         |          FROM sym$r WHERE len(syms) > 1)
         |    WHERE p[2] IS NOT NULL
         |    GROUP BY 1, 2 ORDER BY c DESC, a, b LIMIT 1) pr),
         |flat$r AS (
         |  SELECT word, cnt, t['i'] AS i, t['s'] AS s FROM (
         |    SELECT word, cnt, unnest(list_transform(range(1, len(syms)+1),
         |      i -> struct_pack(i := i, s := syms[i]))) AS t FROM sym$r)),
         |mark$r AS (
         |  SELECT word, cnt, i, s, bb.a, bb.b, bb.m,
         |    CASE WHEN s = bb.a AND lead(s) OVER (PARTITION BY word ORDER BY i) = bb.b
         |         THEN 1 ELSE 0 END AS cand,
         |    i - coalesce(max(CASE WHEN s <> bb.a THEN i END) OVER
         |      (PARTITION BY word ORDER BY i
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - 1 AS off
         |  FROM flat$r, best$r bb),
         |g$r AS (
         |  SELECT *, CASE WHEN cand = 1 AND (a <> b OR off % 2 = 0)
         |            THEN 1 ELSE 0 END AS mg FROM mark$r),
         |sym${r + 1} AS (
         |  SELECT word, any_value(cnt) AS cnt,
         |    list(CASE WHEN mg = 1 THEN m ELSE s END ORDER BY i) AS syms
         |  FROM (SELECT *, coalesce(lag(mg) OVER (PARTITION BY word ORDER BY i), 0)
         |          AS consumed FROM g$r)
         |  WHERE consumed = 0 GROUP BY word)""".stripMargin
    s"""WITH w0 AS (
       |  SELECT tk AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                  t -> t <> '')) AS tk
       |    FROM documents) GROUP BY 1),
       |sym1 AS (SELECT word, cnt,
       |  list_transform(range(1, length(word)+1), i -> word[i]) AS syms FROM w0),
       |""".stripMargin + (1 to rounds).map(round).mkString(",\n") + "\n"
  }

  /** DuckDB CTE chain replaying [[graft.ml.Clustering.kmeans]] over the
    * embeddings table (shared by `q_embed_kmeans` and
    * `q_sim_ivf_trained`): emb (exact float→double cast), c0 (portable-LCG
    * pivot init), then per round an assignment CTE a&lt;i&gt; (6dp-rounded
    * squared-L2 argmin, rank tie-break) and an M-step CTE c&lt;i&gt;
    * (element-wise 6dp-rounded means, empty cells coalesced to the
    * previous centroid) — ending at the FINAL assignment `a&lt;rounds&gt;`
    * measured against the trained centroids `c&lt;rounds-1&gt;`. */
  private def kmeansOracleCtes(
      k: Int,
      dim: Int,
      rounds: Int,
      prefix: String = "",
      vecSql: String = "list_transform(embedding, x -> CAST(x AS DOUBLE))",
      finalAssign: Boolean = true): String = {
    def distSql(v: String, cv: String) =
      s"""round(list_sum(list_transform(list_zip($v, $cv),
         |        p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)""".stripMargin
    def assignCte(name: String, cen: String) =
      s"""$prefix$name AS MATERIALIZED (
         |  SELECT vec_id, v, cluster, d FROM (
         |    SELECT e.vec_id, e.v, c.crank AS cluster,
         |      ${distSql("e.v", "c.cv")} AS d,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${distSql("e.v", "c.cv")}, c.crank) AS rn
         |    FROM ${prefix}emb e, $prefix$cen c) WHERE rn = 1)""".stripMargin
    def meanCte(name: String, assigned: String, prev: String) =
      s"""$prefix$name AS MATERIALIZED (
         |  SELECT $prefix$prev.crank, coalesce(g.cv, $prefix$prev.cv) AS cv
         |  FROM $prefix$prev LEFT JOIN (
         |    SELECT cluster AS crank, list(m ORDER BY i) AS cv FROM (
         |      SELECT cluster, r.i AS i, round(avg(v[r.i + 1]), 6) AS m
         |      FROM $prefix$assigned, range($dim) AS r(i) GROUP BY cluster, r.i)
         |    GROUP BY cluster) g ON g.crank = $prefix$prev.crank)""".stripMargin
    val header =
      s"""${prefix}emb AS MATERIALIZED (
         |  SELECT vec_id, $vecSql AS v
         |  FROM embeddings),
         |${prefix}c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY h, pid) AS crank, pv AS cv
         |  FROM (SELECT vec_id AS pid, $vecSql AS pv,
         |          ((vec_id % 1000000007) * 1103515245 + 12345)
         |            % 1000000007 AS h
         |        FROM embeddings ORDER BY h, pid LIMIT $k))""".stripMargin
    val steps = (1 until rounds).flatMap { i =>
      Seq(assignCte(s"a$i", s"c${i - 1}"), meanCte(s"c$i", s"a$i", s"c${i - 1}"))
    } ++ (if (finalAssign) Seq(assignCte(s"a$rounds", s"c${rounds - 1}")) else Nil)
    (header +: steps).mkString(",\n")
  }

  /** DuckDB CTE chain replaying [[graft.ml.SemDedup.semDedupTrained]]
    * over `emb` against the trained centroid CTE `cen` (shared by
    * `q_dedup_semantic_trained` and `q_pipeline_curation`): cosine argmax
    * assignment (`sassigned`), within-cell pairing at `threshold`,
    * recursive closure (`r`/`comp`) and the labelled frame `lab`
    * (vec_id, cell, ccos, cluster). Callers must open WITH RECURSIVE. */
  private def semDedupTrainedOracleCtes(cen: String, threshold: Double): String = {
    def cosSql(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))
         |    / (sqrt(list_sum(list_transform($a, x -> x * x)))
         |     * sqrt(list_sum(list_transform($b, x -> x * x))))""".stripMargin
    s"""pcos AS MATERIALIZED (
       |  SELECT e.vec_id AS cid, p.crank AS prank,
       |    ${cosSql("e.v", "p.cv")} AS cos
       |  FROM emb e, $cen p),
       |sassigned AS MATERIALIZED (
       |  SELECT cid, cell, ccos FROM (
       |    SELECT cid, prank AS cell, cos AS ccos,
       |      row_number() OVER (PARTITION BY cid ORDER BY cos DESC, prank) AS arn
       |    FROM pcos) WHERE arn = 1),
       |pr AS MATERIALIZED (
       |  SELECT a.cid AS a, b.cid AS b
       |  FROM sassigned a JOIN sassigned b ON a.cell = b.cell AND a.cid < b.cid
       |  JOIN emb ea ON ea.vec_id = a.cid
       |  JOIN emb eb ON eb.vec_id = b.cid
       |  WHERE ${cosSql("ea.v", "eb.v")} >= $threshold),
       |ud AS MATERIALIZED (SELECT a, b FROM (
       |  SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr)),
       |r(id, m) AS (
       |  SELECT a, b FROM ud
       |  UNION
       |  SELECT r.id, ud.b FROM r JOIN ud ON ud.a = r.m),
       |comp AS (SELECT id, least(id, min(m)) AS cluster FROM r GROUP BY id),
       |lab AS (
       |  SELECT s.cid AS vec_id, s.cell, s.ccos,
       |         coalesce(c.cluster, s.cid) AS cluster
       |  FROM sassigned s LEFT JOIN comp c ON c.id = s.cid)""".stripMargin
  }

  /** Edge table derived from events: user of event k → user of the next
    * event of the same type, under the stable order (ts, event_id). */
  def eventEdges(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("dst", lead("user_id", 1).over(w))
      .filter(col("dst").isNotNull && col("dst") =!= col("user_id"))
      .select(
        col("user_id").as("src"),
        col("dst"),
        epochMillis(col("ts")).as("ts"),
        col("event_id"),
        col("event_type").as("layer"))
  }

  private val eventEdgesSql =
    """SELECT user_id AS src, dst, event_id, event_type AS layer FROM (
      |  SELECT user_id, event_type, event_id,
      |         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
      |  FROM events) WHERE dst IS NOT NULL AND dst <> user_id""".stripMargin

  def eventGraph(spark: SparkSession, dir: String): TemporalGraph =
    TemporalGraph(eventEdges(spark, dir))

  // ------------------------------------------------------------------
  // Iterated-CTE oracle generators for the fixpoint algorithms.
  //
  // DuckDB can replay a *pinned-iteration* run of each flagship algorithm:
  // every superstep becomes one MATERIALIZED CTE (materialization stops the
  // optimizer from inlining a CTE that is referenced twice per step, which
  // would make the plan exponential in the iteration count). Early
  // convergence on the Spark side is safe: a converged state is a fixpoint
  // of the synchronous update, so extra SQL iterations are no-ops (exact
  // for WCC/LPA/k-core; PageRank/HITS pin tol=0 so both sides run the full
  // iteration count, and outputs are rounded to 6dp on both sides).
  // ------------------------------------------------------------------

  /** Shared graph CTEs over the events-derived edge table: `e` = distinct
    * directed edges, `u` = distinct undirected pairs (both orientations),
    * `nodes` = every endpoint. */
  private val graphBaseSql =
    s"""e0 AS ($eventEdgesSql),
       |e AS (SELECT DISTINCT src, dst FROM e0),
       |u AS (SELECT DISTINCT a, b FROM (
       |  SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e)),
       |nodes AS (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e))""".stripMargin
  // ^ single-SELECT DISTINCT: under WITH RECURSIVE, DuckDB 1.0 parses a
  //   top-level "a UNION b" CTE body as base/step and skips the dedup

  /**
   * Brute-force temporal-motif CTEs: the sliding-window kernels in
   * [[graft.algos.TemporalMotifs]] count position-ordered event triples
   * i1<i2<i3 (per entity, ordered by (ts, event_id)) with t3 − t1 ≤ delta,
   * classified by neighbour-equality / role patterns — a definition that is
   * directly relational at oracle scale. The kernel ⇄ brute-force
   * equivalence is property-tested in `TemporalMotifsBruteForceSpec`
   * (200–400 random instances per kernel), so this SQL replays the exact
   * semantics:
   *  - `two_triples`: per unordered pair, slot = direction triple seen from
   *    the min endpoint (each triple later credited to both perspectives,
   *    the max endpoint direction-mirrored: slot 7 − m);
   *  - `star_triples`: per centre, triples where EXACTLY one of the three
   *    neighbour equalities holds (nb1=nb2 → pre block 0–7, nb1=nb3 → mid
   *    8–15, nb2=nb3 → post 16–23; all-equal triples are the two-node
   *    motifs — the kernel path subtracts them, the strict condition here
   *    never counts them);
   *  - `tri_triples`: per id-sorted triangle (x1<x2<x3; roles v=x1, u=x2,
   *    w=x3 as in the reference's global_temporal_three_node_motifs.rs
   *    :188-226), triples with exactly one u–v event and one event on each
   *    w-pair, slot by the u–v event's position (uv-last/first/middle
   *    formulas read off the kernel's preSum/postSum/midSum indices).
   * Every multiply-referenced CTE is MATERIALIZED — DuckDB otherwise
   * re-inlines it per reference and the plan grows multiplicatively.
   */
  /** Full brute-force global 40-slot census at one delta — a complete
    * `WITH … SELECT (motif_id, count)` statement, nestable as a DuckDB
    * subquery so the multi-delta oracle can UNION ALL several deltas. */
  private def motifGlobalCensusSql(deltaMs: Long, evBody: Option[String] = None): String =
    s"""WITH ${motifBaseSql(deltaMs, evBody)},
       |counts AS (
       |  SELECT m AS motif_id, count(*) AS c FROM star_triples GROUP BY m
       |  UNION ALL
       |  SELECT 24 + m, count(*) FROM (
       |    SELECT m FROM two_triples UNION ALL SELECT 7 - m FROM two_triples
       |  ) t GROUP BY m
       |  UNION ALL
       |  SELECT 32 + m, count(*) FROM tri_triples GROUP BY m)
       |SELECT CAST(r.range AS INT) AS motif_id,
       |       CAST(coalesce(sum(c.c), 0) AS BIGINT) AS count
       |FROM range(40) r LEFT JOIN counts c ON c.motif_id = r.range
       |GROUP BY r.range""".stripMargin

  /** The default motif event table (src, dst, tms, event_id). */
  private val motifEvSelect: String =
    """SELECT user_id AS src, dst, epoch_us(ts)//1000 AS tms, event_id
      |  FROM (SELECT user_id, event_type, ts, event_id,
      |               lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
      |        FROM events)
      |  WHERE dst IS NOT NULL AND dst <> user_id""".stripMargin

  /** @param evBody override the event-table SELECT (same four columns) —
    *        used by the null-model motif-significance oracle to feed the
    *        permuted-timestamps edge list through the identical census */
  private def motifBaseSql(deltaMs: Long, evBody: Option[String] = None): String =
    s"""ev AS MATERIALIZED (
       |  ${evBody.getOrElse(motifEvSelect)}),
       |nodes AS MATERIALIZED (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM ev UNION ALL SELECT dst AS id FROM ev)),
       |pair_ev AS MATERIALIZED (
       |  SELECT least(src,dst) AS a, greatest(src,dst) AS b, tms,
       |         CASE WHEN src < dst THEN 1 ELSE 0 END AS dir,
       |         row_number() OVER (PARTITION BY least(src,dst), greatest(src,dst)
       |                            ORDER BY tms, event_id) AS rn
       |  FROM ev),
       |two_triples AS MATERIALIZED (
       |  SELECT e1.a, e1.b, 4*e1.dir + 2*e2.dir + e3.dir AS m
       |  FROM pair_ev e1
       |  JOIN pair_ev e2 ON e2.a=e1.a AND e2.b=e1.b AND e2.rn > e1.rn AND e2.tms - e1.tms <= $deltaMs
       |  JOIN pair_ev e3 ON e3.a=e1.a AND e3.b=e1.b AND e3.rn > e2.rn AND e3.tms - e1.tms <= $deltaMs),
       |star_ev AS MATERIALIZED (
       |  SELECT node, nbr, dir, tms,
       |         row_number() OVER (PARTITION BY node ORDER BY tms, event_id) AS rn
       |  FROM (SELECT src AS node, dst AS nbr, 1 AS dir, tms, event_id FROM ev
       |        UNION ALL SELECT dst, src, 0, tms, event_id FROM ev)),
       |star_triples AS MATERIALIZED (
       |  SELECT e1.node,
       |         CASE WHEN e1.nbr = e2.nbr THEN 0 WHEN e1.nbr = e3.nbr THEN 8 ELSE 16 END
       |           + 4*e1.dir + 2*e2.dir + e3.dir AS m
       |  FROM star_ev e1
       |  JOIN star_ev e2 ON e2.node=e1.node AND e2.rn > e1.rn AND e2.tms - e1.tms <= $deltaMs
       |  JOIN star_ev e3 ON e3.node=e1.node AND e3.rn > e2.rn AND e3.tms - e1.tms <= $deltaMs
       |  WHERE (CAST(e1.nbr = e2.nbr AS INT) + CAST(e1.nbr = e3.nbr AS INT)
       |       + CAST(e2.nbr = e3.nbr AS INT)) = 1),
       |und AS MATERIALIZED (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b FROM ev),
       |tri AS MATERIALIZED (
       |  SELECT t1.a AS x1, t1.b AS x2, t2.b AS x3
       |  FROM und t1 JOIN und t2 ON t2.a = t1.b JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b),
       |tri_pairs AS MATERIALIZED (
       |  SELECT x1,x2,x3, x1 AS p, x2 AS q FROM tri
       |  UNION ALL SELECT x1,x2,x3, x2, x3 FROM tri
       |  UNION ALL SELECT x1,x2,x3, x1, x3 FROM tri),
       |tri_ev AS MATERIALIZED (
       |  SELECT tp.x1, tp.x2, tp.x3, e.tms,
       |         CASE WHEN e.src <> tp.x3 AND e.dst <> tp.x3 THEN 1 ELSE 0 END AS uv,
       |         CASE WHEN e.src = tp.x3 THEN (CASE WHEN e.dst = tp.x2 THEN 0 ELSE 1 END)
       |              WHEN e.dst = tp.x3 THEN (CASE WHEN e.src = tp.x2 THEN 0 ELSE 1 END)
       |              WHEN e.src = tp.x2 THEN 1 ELSE 0 END AS uorv,
       |         CASE WHEN e.src = tp.x3 THEN 0
       |              WHEN e.dst = tp.x3 THEN 1
       |              WHEN e.src = tp.x2 THEN 1 ELSE 0 END AS dir,
       |         row_number() OVER (PARTITION BY tp.x1,tp.x2,tp.x3 ORDER BY e.tms, e.event_id) AS rn
       |  FROM tri_pairs tp
       |  JOIN ev e ON least(e.src,e.dst) = tp.p AND greatest(e.src,e.dst) = tp.q),
       |tri_triples AS MATERIALIZED (
       |  SELECT e1.x1, e1.x2, e1.x3,
       |         CASE
       |           WHEN e3.uv = 1 THEN
       |             (CASE WHEN e1.uorv = e3.dir THEN 1 ELSE 0 END) + 4*(1-e1.dir) + 2*(1-e2.dir)
       |           WHEN e1.uv = 1 THEN
       |             (CASE WHEN e2.uorv = e1.dir THEN 0 ELSE 4 END) + 2*e2.dir + (1-e3.dir)
       |           ELSE
       |             (CASE WHEN e1.uorv = e2.dir THEN 0 ELSE 2 END) + 4*e1.dir + e3.dir
       |         END AS m
       |  FROM tri_ev e1
       |  JOIN tri_ev e2 ON e2.x1=e1.x1 AND e2.x2=e1.x2 AND e2.x3=e1.x3
       |                AND e2.rn > e1.rn AND e2.tms - e1.tms <= $deltaMs
       |  JOIN tri_ev e3 ON e3.x1=e1.x1 AND e3.x2=e1.x2 AND e3.x3=e1.x3
       |                AND e3.rn > e2.rn AND e3.tms - e1.tms <= $deltaMs
       |  WHERE e1.uv + e2.uv + e3.uv = 1
       |    AND (CASE WHEN e1.uv = 0 THEN e1.uorv ELSE 0 END
       |       + CASE WHEN e2.uv = 0 THEN e2.uorv ELSE 0 END
       |       + CASE WHEN e3.uv = 0 THEN e3.uorv ELSE 0 END) = 1)""".stripMargin

  /** Fixed-iteration PageRank (semantics of algos/PageRank: teleport +
    * damped in-neighbour mass + sink mass from the previous iteration). */
  /** Windowed/layer-filtered variant of [[graphBaseSql]] for the
    * view-composed algorithm oracle (`q_view_algorithm`): same events link
    * graph restricted to [Jan 3, Jan 26) with the `error` layer excluded —
    * mirrors the JSON view chain the Spark side ships. */
  private val viewedGraphBaseSql =
    """e0 AS (
      |  SELECT user_id AS src, dst, event_type AS layer,
      |    epoch_us(ts) // 1000 AS tms FROM (
      |    SELECT user_id, event_type, event_id, ts,
      |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
      |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
      |ef AS (SELECT src, dst FROM e0
      |  WHERE tms >= 1704240000000 AND tms < 1706227200000 AND layer <> 'error'),
      |e AS (SELECT DISTINCT src, dst FROM ef),
      |nodes AS (SELECT DISTINCT id FROM (
      |  SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e))""".stripMargin

  /** [[viewedGraphBaseSql]] plus `u` (undirected pairs, both
    * orientations) — the base the undirected-peel oracles need. */
  private val viewedGraphBaseSqlWithU =
    viewedGraphBaseSql + """,
      |u AS (SELECT DISTINCT a, b FROM (
      |  SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e))""".stripMargin

  private def pageRankOracleSql(iters: Int, damping: Double): String =
    pageRankOracleSqlOver(graphBaseSql, iters, damping)

  /** Full-replay Fruchterman–Reingold oracle on the <20-id events
    * subgraph: portable LCG init draw + `iters` unrolled exact-physics
    * iterations, mirroring Layout's float expressions op for op
    * (scale = 1, dt = 0.1, cooloff = 0.975, half = 0.5, seed = 42). */
  private def layoutOracleSql(iters: Int): String = {
    def init(axis: Int) =
      s"(CAST(((id % 1000000007 + 1000000007) % 1000000007 * 1000003 + $axis * 999983 " +
        s"+ 42 * 31 + 12345) % 1000000007 % 2000000 AS DOUBLE) / 1000000.0 - 1.0) * 0.5"
    val head =
      s"""WITH e0 AS (
         |  SELECT user_id AS src, dst FROM (
         |    SELECT user_id, lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
         |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
         |sub AS (SELECT DISTINCT src, dst FROM e0 WHERE src < 20 AND dst < 20),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM sub UNION ALL SELECT dst FROM sub)),
         |nbr AS (SELECT DISTINCT id, nbr FROM (
         |  SELECT src AS id, dst AS nbr FROM sub UNION ALL SELECT dst, src FROM sub)),
         |p0 AS MATERIALIZED (
         |  SELECT id, ${init(0)} AS x, ${init(1)} AS y,
         |    0.0 AS vx, 0.0 AS vy FROM nodes)""".stripMargin
    val steps = (1 to iters).flatMap { k =>
      Seq(
        s"""rep$k AS MATERIALIZED (
           |  SELECT id, sum((1.0 * dx) / (d * d)) AS rfx, sum((1.0 * dy) / (d * d)) AS rfy
           |  FROM (SELECT a.id, a.x - b.x AS dx, a.y - b.y AS dy,
           |          sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS d
           |        FROM p${k - 1} a JOIN p${k - 1} b ON a.id <> b.id)
           |  WHERE d > 0.0 GROUP BY id)""".stripMargin,
        s"""att$k AS MATERIALIZED (
           |  SELECT id, sum(((nx - x) * d) / 1.0) AS afx, sum(((ny - y) * d) / 1.0) AS afy
           |  FROM (SELECT p.id, p.x, p.y, n.x AS nx, n.y AS ny,
           |          sqrt((n.x - p.x) * (n.x - p.x) + (n.y - p.y) * (n.y - p.y)) AS d
           |        FROM nbr j JOIN p${k - 1} p ON j.id = p.id JOIN p${k - 1} n ON j.nbr = n.id)
           |  WHERE d > 0.0 GROUP BY id)""".stripMargin,
        s"""p$k AS MATERIALIZED (
           |  SELECT id, x + vx * 0.1 AS x, y + vy * 0.1 AS y, vx, vy FROM (
           |    SELECT n.id, n.x, n.y,
           |      (n.vx + (coalesce(r.rfx, 0.0) + coalesce(a.afx, 0.0)) * 0.1) * 0.975 AS vx,
           |      (n.vy + (coalesce(r.rfy, 0.0) + coalesce(a.afy, 0.0)) * 0.1) * 0.975 AS vy
           |    FROM p${k - 1} n
           |    LEFT JOIN rep$k r ON n.id = r.id
           |    LEFT JOIN att$k a ON n.id = a.id))""".stripMargin)
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT id, round(x, 6) + 0.0 AS x, round(y, 6) + 0.0 AS y FROM p$iters"
  }

  /** Fixed-iteration PageRank replay over any base providing `e` (distinct
    * directed edges) and `nodes` CTEs. */
  private def pageRankOracleSqlOver(base: String, iters: Int, damping: Double): String = {
    val head =
      s"""WITH $base,
         |od AS (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),
         |deg AS (SELECT n.id, coalesce(od.outdeg, 0) AS outdeg
         |        FROM nodes n LEFT JOIN od ON n.id = od.id),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |s0 AS MATERIALIZED (
         |  SELECT id, outdeg, 1.0 / (SELECT n FROM nn) AS score FROM deg)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT d.id, d.outdeg,
         |    (1.0 - $damping) / (SELECT n FROM nn)
         |      + $damping * coalesce(m.msum, 0)
         |      + $damping / (SELECT n FROM nn)
         |        * (SELECT coalesce(sum(score), 0) FROM s${k - 1} WHERE outdeg = 0) AS score
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.score / p.outdeg) AS msum
         |    FROM e JOIN s${k - 1} p ON e.src = p.id GROUP BY e.dst) m ON d.id = m.id)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT id, round(score, 6) AS score FROM s$iters"
  }

  /** Fixed-iteration PERSONALIZED PageRank replay (PageRank.personalized):
    * teleport and sink mass redistribute to the seed distribution; the
    * seed set is `nodes WHERE seedPred`. Same structure as
    * [[pageRankOracleSqlOver]] with p riding in every step. */
  private def pprOracleSql(iters: Int, damping: Double, seedPred: String): String = {
    val head =
      s"""WITH $graphBaseSql,
         |od AS (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),
         |deg AS (SELECT n.id, coalesce(od.outdeg, 0) AS outdeg
         |        FROM nodes n LEFT JOIN od ON n.id = od.id),
         |seeds AS (SELECT id FROM nodes WHERE $seedPred),
         |sn AS (SELECT CAST(count(*) AS DOUBLE) AS sc FROM seeds),
         |pv AS MATERIALIZED (
         |  SELECT d.id, d.outdeg,
         |    CASE WHEN s.id IS NOT NULL THEN 1.0 / (SELECT sc FROM sn)
         |         ELSE 0.0 END AS p
         |  FROM deg d LEFT JOIN seeds s ON s.id = d.id),
         |s0 AS MATERIALIZED (SELECT id, outdeg, p, p AS score FROM pv)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT d.id, d.outdeg, d.p,
         |    (1.0 - $damping) * d.p
         |      + $damping * coalesce(m.msum, 0)
         |      + $damping
         |        * (SELECT coalesce(sum(score), 0) FROM s${k - 1} WHERE outdeg = 0)
         |        * d.p AS score
         |  FROM pv d LEFT JOIN (
         |    SELECT e.dst AS id, sum(p2.score / p2.outdeg) AS msum
         |    FROM e JOIN s${k - 1} p2 ON e.src = p2.id GROUP BY e.dst) m ON d.id = m.id)"""
        .stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT id, round(score, 6) AS score FROM s$iters"
  }

  /** Iterated HyperBall register CTEs (algos.Reach.registers): r0 = each
    * node's own register from the portable hash (index = h mod 16,
    * ρ = 27 − ⌊log₂(h div 16)⌋ via length(bin(w)) — no float log), then
    * union+max merges with out-neighbour registers per step. */
  private def reachRegistersCtes(iters: Int): String = {
    val h = GraphLearn.hmixSql(42L, "id" -> GraphLearn.M1)
    val head =
      s"""$graphBaseSql,
         |h0 AS (SELECT id, $h AS h FROM nodes),
         |r0 AS MATERIALIZED (
         |  SELECT id, CAST(h % 16 AS BIGINT) AS j,
         |    CAST(CASE WHEN h // 16 = 0 THEN 27
         |              ELSE 27 - length(bin(h // 16)) END AS BIGINT) AS rho
         |  FROM h0)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT id, j, max(rho) AS rho FROM (
         |    SELECT id, j, rho FROM r${k - 1}
         |    UNION ALL
         |    SELECT e.src AS id, r.j, r.rho FROM e JOIN r${k - 1} r ON e.dst = r.id)
         |  GROUP BY id, j)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def reachRegistersSql(iters: Int): String =
    s"WITH ${reachRegistersCtes(iters)}\nSELECT id, j, rho FROM r$iters"

  /** Per-step ball-size estimate CTE `b$k` from register CTE `r$k` —
    * the HLL raw-estimate + linear-counting form of algos.Reach
    * .estimateRaw: UNROUNDED (the per-node value is a pure function of
    * exact integers, so both engines produce the same double; per-step
    * decimal rounding could pick adjacent doubles at a boundary and the
    * downstream folds would amplify that past final rounding). */
  private def ballEstimateCte(k: Int): String = {
    val c = 0.673 * 256.0 * 134217728.0
    s"""b$k AS MATERIALIZED (
       |  SELECT id,
       |    CASE WHEN raw <= ${2.5 * 16} AND v0 > 0
       |         THEN 16.0 * ln(16.0 / CAST(v0 AS DOUBLE))
       |         ELSE raw END AS b
       |  FROM (SELECT id, (16 - np) AS v0,
       |               $c / CAST((16 - np) * 134217728 + ps AS DOUBLE) AS raw
       |        FROM (SELECT id, count(*) AS np,
       |                     sum(CAST(power(2, 27 - rho) AS BIGINT)) AS ps
       |              FROM r$k GROUP BY id)))""".stripMargin
  }

  /** HyperBall harmonic/closeness centrality replay
    * (algos.Reach.harmonicCloseness): unrounded per-step ball estimates,
    * clamped deltas, explicit left-to-right float folds, round-6 once at
    * the end. */
  private def harmonicOracleSql(iters: Int): String = {
    val bCtes = (0 to iters).map(ballEstimateCte).mkString(",\n")
    val joins = (1 to iters).map(k => s"JOIN b$k USING (id)").mkString(" ")
    val ds = (1 to iters)
      .map(k => s"greatest(b$k.b - b${k - 1}.b, 0.0) AS d$k").mkString(",\n        ")
    val harm = (1 to iters).map(k => s"d$k/$k.0").mkString(" + ")
    val dist = (1 to iters).map(k => s"d$k*$k.0").mkString(" + ")
    s"""WITH ${reachRegistersCtes(iters)},
       |$bCtes,
       |w AS (SELECT b0.id, b$iters.b AS bt,
       |        $ds
       |      FROM b0 $joins)
       |SELECT id, round(bt, 6) AS ball_est,
       |  round($harm, 6) AS harmonic_est,
       |  round(CASE WHEN $dist > 0.0 THEN (bt - 1.0) / ($dist)
       |        ELSE 0.0 END, 6) AS closeness_est
       |FROM w""".stripMargin
  }

  /** Integer effective diameter from the neighbourhood function
    * (algos.Reach.effectiveDiameter). */
  private def effDiameterOracleSql(iters: Int, q: Double): String = {
    val bCtes = (0 to iters).map(ballEstimateCte).mkString(",\n")
    val nRows = (0 to iters)
      .map(k => s"SELECT $k AS t, sum(b) AS nt FROM b$k").mkString("\n  UNION ALL ")
    s"""WITH ${reachRegistersCtes(iters)},
       |$bCtes,
       |n AS ($nRows)
       |SELECT
       |  CAST((SELECT min(t) FROM n
       |        WHERE nt >= $q * (SELECT nt FROM n WHERE t = $iters)) AS BIGINT)
       |    AS eff_diameter,
       |  round((SELECT nt FROM n WHERE t = $iters), 2) AS reach_total""".stripMargin
  }

  /** Fixed-iteration HITS (semantics of algos/Hits: received sums along
    * both directions, normalized by the global received totals). */
  private def hitsOracleSql(iters: Int): String = {
    val head =
      s"""WITH $graphBaseSql,
         |h0 AS MATERIALIZED (SELECT id, 1.0 AS hub, 1.0 AS auth FROM nodes)""".stripMargin
    val steps = (1 to iters).flatMap { k =>
      Seq(
        s"""r$k AS MATERIALIZED (
           |  SELECT n.id, coalesce(rh.v, 0) AS recv_hub, coalesce(ra.v, 0) AS recv_auth
           |  FROM nodes n
           |  LEFT JOIN (SELECT e.dst AS id, sum(p.hub) AS v
           |             FROM e JOIN h${k - 1} p ON e.src = p.id GROUP BY e.dst) rh
           |    ON n.id = rh.id
           |  LEFT JOIN (SELECT e.src AS id, sum(p.auth) AS v
           |             FROM e JOIN h${k - 1} p ON e.dst = p.id GROUP BY e.src) ra
           |    ON n.id = ra.id)""".stripMargin,
        s"""h$k AS MATERIALIZED (
           |  SELECT id,
           |    recv_auth / (SELECT CASE WHEN sum(recv_auth) = 0 THEN 1
           |                 ELSE sum(recv_auth) END FROM r$k) AS hub,
           |    recv_hub / (SELECT CASE WHEN sum(recv_hub) = 0 THEN 1
           |                ELSE sum(recv_hub) END FROM r$k) AS auth
           |  FROM r$k)""".stripMargin)
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT id, round(hub, 6) AS hub_score, round(auth, 6) AS auth_score FROM h$iters"
  }

  /** Fixed-iteration sup-norm eigenvector power iteration
    * (algos.Centrality.eigenvector: recv = in-message sum, then divide by
    * the global max — max is aggregation-order-independent). */
  private def eigenvectorOracleSql(iters: Int): String = {
    val head =
      s"""WITH $graphBaseSql,
         |x0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS score FROM nodes)""".stripMargin
    val steps = (1 to iters).flatMap { k =>
      Seq(
        s"""r$k AS MATERIALIZED (
           |  SELECT n.id, coalesce(m.v, 0) AS recv
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, sum(p.score) AS v
           |    FROM e JOIN x${k - 1} p ON e.src = p.id GROUP BY e.dst) m
           |  ON n.id = m.id)""".stripMargin,
        s"""x$k AS MATERIALIZED (
           |  SELECT id, recv / (SELECT CASE WHEN max(recv) = 0 THEN 1
           |                     ELSE max(recv) END FROM r$k) AS score
           |  FROM r$k)""".stripMargin)
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT id, round(score, 6) AS score FROM x$iters"
  }

  /** Fixed-iteration Katz centrality (algos.Centrality.katz:
    * x ← β + α·Σ_{u→v} x(u), init x = β), reported max-normalized: the
    * raw truncated sum grows multiplicatively when α·λ_max > 1, and at
    * large magnitudes float-sum order noise outruns 6-dp rounding — the
    * normalized profile stays O(1) at any α. */
  private def katzOracleSql(iters: Int, alpha: Double, beta: Double): String = {
    val head =
      s"""WITH $graphBaseSql,
         |x0 AS MATERIALIZED (SELECT id, CAST($beta AS DOUBLE) AS score FROM nodes)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""x$k AS MATERIALIZED (
         |  SELECT n.id, CAST($beta AS DOUBLE) + CAST($alpha AS DOUBLE) * coalesce(m.v, 0) AS score
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.score) AS v
         |    FROM e JOIN x${k - 1} p ON e.src = p.id GROUP BY e.dst) m
         |  ON n.id = m.id)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT id, round(score / (SELECT max(score) FROM x$iters), 6) AS score FROM x$iters"
  }

  /** Synchronous LPA with the (votes desc, label desc) tie-break. */
  private def lpaOracleSql(iters: Int): String = {
    val head =
      s"""WITH $graphBaseSql,
         |l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT id, label FROM (
         |    SELECT id, label,
         |      row_number() OVER (PARTITION BY id ORDER BY votes DESC, label DESC) AS rn
         |    FROM (
         |      SELECT t.id, t.label, count(*) AS votes FROM (
         |        SELECT u.a AS id, p.label FROM u JOIN l${k - 1} p ON u.b = p.id
         |        UNION ALL SELECT id, label FROM l${k - 1}) t
         |      GROUP BY t.id, t.label))
         |  WHERE rn = 1)""".stripMargin
    }
    (head +: steps).mkString(",\n") + s"\nSELECT id, label FROM l$iters"
  }

  /**
   * Louvain LEVEL-0 local moving, pinned `rounds` parity-gated synchronous
   * rounds on the UNWEIGHTED event graph (resolution 1, tol 1e-8) — the
   * exact twin of [[graft.algos.Louvain.localMovingRounds]]: pair weights /
   * degrees / Σtot are integer-valued doubles (exact in any sum order),
   * every move delta is one fixed-operand-order float expression, the
   * winner is argmax by (delta DESC, cand ASC), and round r admits a move
   * to a smaller community id iff r is even (Spark's SuperstepRunner
   * rounds are 1-based). A converged state is a fixpoint, so extra rounds
   * no-op.
   */
  private def louvainLocalMovingSql(rounds: Int): String = {
    val head =
      s"""WITH $graphBaseSql,
         |pairs AS MATERIALIZED (
         |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |         CAST(count(*) AS DOUBLE) AS w
         |  FROM e GROUP BY 1, 2),
         |bi AS MATERIALIZED (
         |  SELECT a AS other, b AS nbr, w FROM pairs
         |  UNION ALL SELECT b, a, w FROM pairs),
         |kdeg AS MATERIALIZED (
         |  SELECT n.id, coalesce(sum(p.w), 0.0) AS k
         |  FROM nodes n LEFT JOIN (
         |    SELECT a AS id, w FROM pairs UNION ALL SELECT b, w FROM pairs) p
         |    ON p.id = n.id
         |  GROUP BY n.id),
         |m2 AS MATERIALIZED (SELECT sum(k) AS v FROM kdeg),
         |st0 AS MATERIALIZED (SELECT id, id AS com, k FROM kdeg)""".stripMargin
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      val toSmaller = if (r % 2 == 0) "TRUE" else "FALSE"
      s"""kt$r AS MATERIALIZED (
         |  SELECT com, sum(k) AS ktot FROM st$p GROUP BY com),
         |wc$r AS MATERIALIZED (
         |  SELECT b.nbr AS id, s.com AS cand, sum(b.w) AS w_cand
         |  FROM bi b JOIN st$p s ON b.other = s.id GROUP BY 1, 2),
         |dl$r AS MATERIALIZED (
         |  SELECT s.id, s.com, s.k, w.cand,
         |    CASE WHEN w.cand IS NULL OR w.cand = s.com THEN 0.0
         |         ELSE (2.0 * (w.w_cand - coalesce(wo.w_cand, 0.0))
         |               - 2.0 * (s.k * (ktn.ktot - kto.ktot) + s.k * s.k)
         |                 / (SELECT v FROM m2))
         |              / (SELECT v FROM m2) END AS delta
         |  FROM st$p s
         |  LEFT JOIN wc$r w ON w.id = s.id
         |  LEFT JOIN wc$r wo ON wo.id = s.id AND wo.cand = s.com
         |  LEFT JOIN kt$r ktn ON ktn.com = w.cand
         |  JOIN kt$r kto ON kto.com = s.com),
         |wn$r AS MATERIALIZED (
         |  SELECT id, com, k, cand, delta FROM dl$r
         |  QUALIFY row_number() OVER (
         |    PARTITION BY id ORDER BY delta DESC, cand ASC) = 1),
         |st$r AS MATERIALIZED (
         |  SELECT id,
         |    CASE WHEN cand IS NOT NULL AND cand <> com AND delta > 1e-08
         |              AND ((cand < com) = $toSmaller)
         |         THEN cand ELSE com END AS com,
         |    k
         |  FROM wn$r)""".stripMargin
    }
    (head +: steps).mkString(",\n") + s"\nSELECT id, com FROM st$rounds"
  }

  /** k-core peel: enough rounds that the peel is a fixpoint at test scale
    * (extra rounds are no-ops once stable). */
  /** SEIR/SI oracle (p=1, no recovery, incubation 1): label-correcting
    * min-time relaxation — infected(v) = earliest event arrival with
    * ts ≥ infected(u) + 1 — iterated `rounds` times (extra rounds are
    * fixpoint no-ops). Seeds pinned to nodes {0, 1} at t=0. */
  private def seirOracleSql(rounds: Int): String = {
    val head =
      s"""WITH ev AS (
         |  SELECT user_id AS src, dst, epoch_us(ts)//1000 AS tms FROM (
         |    SELECT user_id, ts, event_id,
         |           lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
         |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
         |i0 AS MATERIALIZED (
         |  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS t
         |  UNION ALL SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT))""".stripMargin
    val steps = (1 to rounds).map { k =>
      s"""i$k AS MATERIALIZED (
         |  SELECT id, min(t) AS t FROM (
         |    SELECT * FROM i${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, e.tms AS t
         |    FROM ev e JOIN i${k - 1} p ON e.src = p.id AND e.tms >= p.t + 1)
         |  GROUP BY id)""".stripMargin
    }
    val fin = s"SELECT id, t AS infected, t + 1 AS active FROM i$rounds"
    (head +: steps).mkString(",\n") + "\n" + fin
  }

  /** FastRP oracle: replays `FastRP.run(embeddingDim=dim, ns=0.5,
    * iterWeights=(1,1,0.5), portable=true)` — the portable polynomial
    * projection draw, then two neighbour-average propagation iterations
    * (w=1 each, divisor deg·(numIters+1)=3·deg) — entirely in DuckDB list
    * arithmetic. Output = per-dimension doubles rounded to 6dp. */
  private def fastRpOracleSql(dim: Int, seed: Long): String = {
    val P = FastRP.PolyP
    val head =
      s"""WITH $graphBaseSql,
         |deg AS (SELECT a AS id, count(*) AS deg FROM u GROUP BY a),
         |p AS (SELECT count(*) AS m, sqrt(count(*)) AS s,
         |             greatest(1, CAST(round(2 * sqrt(count(*))) AS BIGINT)) AS buck FROM deg),
         |it0 AS MATERIALIZED (
         |  SELECT d.id, d.deg,
         |    list_transform(range(0, $dim), dd ->
         |      CASE (((d.id % $P) * 1000003 + dd * 999983 + $seed * 31 + 12345) % $P) % p.buck
         |        WHEN 0 THEN  sqrt(2.0 * p.m / d.deg) * sqrt(p.s) * 1.0
         |        WHEN 1 THEN -(sqrt(2.0 * p.m / d.deg) * sqrt(p.s)) * 1.0
         |        ELSE 0.0 END) AS emb
         |  FROM deg d, p)""".stripMargin
    val steps = (1 to 2).map { k =>
      s"""nb$k AS MATERIALIZED (
         |  SELECT u.a AS id, t.i AS dim_i, sum(s$k.emb[t.i]) AS sv
         |  FROM u JOIN it${k - 1} s$k ON s$k.id = u.b
         |  CROSS JOIN range(1, ${dim + 1}) t(i)
         |  GROUP BY 1, 2),
         |it$k AS MATERIALIZED (
         |  SELECT n.id, n.deg,
         |    CASE WHEN ns.nsum IS NULL THEN n.emb
         |    ELSE list_transform(range(1, ${dim + 1}),
         |      i -> n.emb[i] + ns.nsum[i] * (1.0 / (n.deg * 3.0))) END AS emb
         |  FROM it${k - 1} n LEFT JOIN (
         |    SELECT id, list(sv ORDER BY dim_i) AS nsum FROM nb$k GROUP BY id) ns
         |    ON ns.id = n.id)""".stripMargin
    }
    val fin =
      s"SELECT id, " +
        (0 until dim).map(i => s"round(emb[${i + 1}], 6) + 0.0 AS d$i").mkString(", ") +
        s" FROM it2"
    (head +: steps).mkString(",\n") + "\n" + fin
  }

  /** Betweenness oracle via the pair-dependency closed form: an iterated
    * level-synchronous BFS builds all-pairs (dist, σ), then
    * BC(v) = Σ_{s≠v≠t} σ_sv·σ_vt/σ_st over triples whose distances add up —
    * algebraically identical to Brandes' accumulation. `levels` must be ≥
    * the graph diameter (extra levels are no-ops). Directed out-edges +
    * 1/((n−1)(n−2)) normalization, matching algos/Betweenness. */
  private def betweennessOracleSql(levels: Int): String = {
    val head =
      s"""WITH $graphBaseSql,
         |bfs0 AS MATERIALIZED (SELECT id AS s, id AS v, 0 AS dist, 1.0 AS sigma FROM nodes)""".stripMargin
    val steps = (1 to levels).map { k =>
      s"""bfs$k AS MATERIALIZED (
         |  SELECT * FROM bfs${k - 1}
         |  UNION ALL
         |  SELECT f.s, e.dst AS v, $k AS dist, sum(f.sigma) AS sigma
         |  FROM bfs${k - 1} f JOIN e ON e.src = f.v
         |  WHERE f.dist = ${k - 1}
         |    AND NOT EXISTS (SELECT 1 FROM bfs${k - 1} p2 WHERE p2.s = f.s AND p2.v = e.dst)
         |  GROUP BY f.s, e.dst)""".stripMargin
    }
    val fin =
      s"""SELECT n.id, round(coalesce(x.bc, 0) / ((nn.n - 1.0) * (nn.n - 2.0)), 6) AS betweenness
         |FROM nodes n
         |CROSS JOIN (SELECT count(*) AS n FROM nodes) nn
         |LEFT JOIN (
         |  SELECT a.v AS id, sum(a.sigma * b.sigma / c.sigma) AS bc
         |  FROM bfs$levels a
         |  JOIN bfs$levels b ON b.s = a.v
         |  JOIN bfs$levels c ON c.s = a.s AND c.v = b.v
         |  WHERE a.dist + b.dist = c.dist AND a.s <> a.v AND b.s <> b.v AND a.s <> b.v
         |  GROUP BY a.v) x ON x.id = n.id""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + fin
  }

  private def kcoreOracleSql(k: Int, rounds: Int): String =
    kcoreOracleSqlOver(graphBaseSql, k, rounds)

  /** Pinned-round h-index coreness ladder ([[graft.algos.KCore.coreness]]
    * replay): c0 = undirected degree; each round caps by the node's own
    * value and takes the h-index of its neighbours' values (row_number
    * descending inside the node's neighbour list). */
  private def corenessOracleSql(rounds: Int): String = {
    val head =
      s"""WITH $graphBaseSql,
         |c0 AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY a)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT id, least(pc, max(least(qc, rn))) AS c FROM (
         |    SELECT u.a AS id, p.c AS pc, q.c AS qc,
         |      CAST(row_number() OVER (PARTITION BY u.a ORDER BY q.c DESC, u.b) AS BIGINT) AS rn
         |    FROM u JOIN c${r - 1} p ON p.id = u.a JOIN c${r - 1} q ON q.id = u.b) x
         |  GROUP BY id, pc)""".stripMargin
    }
    (head +: steps).mkString(",\n") + s"\nSELECT id, c AS coreness FROM c$rounds"
  }

  /** As [[kcoreOracleSql]] over any base CTE block that defines `u`
    * (undirected pairs, both orientations). */
  private def kcoreOracleSqlOver(base: String, k: Int, rounds: Int): String = {
    val head =
      s"""WITH $base,
         |a0 AS MATERIALIZED (SELECT a AS id FROM u GROUP BY a HAVING count(*) >= $k)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT u.a AS id FROM u
         |  JOIN a${r - 1} x ON u.a = x.id
         |  JOIN a${r - 1} y ON u.b = y.id
         |  GROUP BY u.a HAVING count(*) >= $k)""".stripMargin
    }
    (head +: steps).mkString(",\n") + s"\nSELECT id FROM a$rounds"
  }

  /** DuckDB CTE computing the portable random-hyperplane band signatures
    * of the embeddings table — the exact integer formula of
    * [[graft.ml.Similarity.portablePlaneSql]]. Yields `name`(id, band, sig). */
  private def lshSigCteSql(name: String, bands: Int, bits: Int, seed: Long): String =
    s"""$name AS (
       |  SELECT vec_id AS id, t.b AS band,
       |    list_sum(list_transform(range(0, $bits), bit ->
       |      CASE WHEN list_sum(list_transform(list_zip(embedding, range(0, len(embedding))),
       |          z -> CAST(z[1] AS DOUBLE) *
       |            (CAST(((($seed + CAST(t.b AS BIGINT) * 73856093 + CAST(bit AS BIGINT) * 19349663
       |               + CAST(z[2] AS BIGINT) * 83492791)
       |               % 1000000007) * 1103515245 + 12345) % 1000000007 % 2000001 AS DOUBLE)
       |             / 1000000.0 - 1.0))) > 0
       |      THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END)) AS sig
       |  FROM embeddings, range(0, $bands) t(b))""".stripMargin

  /** MinHash+LSH pipeline CTEs under the portable polynomial family
    * (shingling → signatures → banding → sized buckets), shared by
    * `q_dedup_minhash_lsh` and `q_dedup_clusters`. */
  private val minHashCtesSql =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, list_transform(range(1, greatest(len(tk) - 3, 0) + 2),
       |    i -> array_to_string(tk[i:i+2], ' ')) AS shingles FROM tok),
       |hv AS (
       |  SELECT doc_id, list_transform(shingles,
       |    s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(s, ''), c -> CAST(ascii(c) % 65536 AS BIGINT))),
       |         (acc, c) -> (acc * 31 + c) % ${graft.ml.Dedup.PolyP})) AS hv FROM sh),
       |mh AS (
       |  SELECT doc_id, list_transform(range(0, 32),
       |    h -> list_min(list_transform(hv,
       |      x -> ((1 + h * 1000003) * x + h * 999983 + 12345) % ${graft.ml.Dedup.PolyP}))) AS minhash
       |  FROM hv),
       |banded AS (
       |  SELECT doc_id, minhash, t.b AS band,
       |    list_reduce(list_prepend(CAST(42 AS BIGINT), minhash[t.b*4+1 : t.b*4+4]),
       |      (acc, x) -> (acc * 31 + x) % ${graft.ml.Dedup.PolyBandP}) AS bh
       |  FROM mh, range(0, 8) t(b)),
       |sized AS (SELECT *, count(*) OVER (PARTITION BY band, bh) AS bucket_n FROM banded),
       |ok AS (SELECT * FROM sized WHERE bucket_n <= 1000)""".stripMargin

  /** DSIR oracle CTE chain ([[graft.ml.CorpusOps.dsirWeights]] replay):
    * tokenize → unigram+bigram shingles → portable polynomial hash mod
    * 4096 buckets → per-doc counts `dc` → corpus model `src` / target
    * model `tgt` (src0+src1 domains) → micro-nat log-ratio ladder `r` →
    * integer weights `w`(doc_id, dsir_weight_micro). */
  private val dsirCtesSql =
    s"""tk AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk FROM documents),
       |feat AS (
       |  SELECT doc_id, unnest(
       |    list_transform(range(1, greatest(len(tk) - 1, 0) + 2),
       |      i -> array_to_string(tk[i:i], ' ')) ||
       |    list_transform(range(1, greatest(len(tk) - 2, 0) + 2),
       |      i -> array_to_string(tk[i:i+1], ' '))) AS s
       |  FROM tk),
       |cb AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(s, ''), c -> CAST(ascii(c) % 65536 AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % ${graft.ml.Dedup.PolyP}) % 4096 AS b
       |  FROM feat),
       |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n FROM cb GROUP BY doc_id, b),
       |src AS (SELECT b, CAST(sum(n) AS BIGINT) AS sc FROM dc GROUP BY b),
       |tgt AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS tc
       |  FROM cb JOIN documents USING (doc_id)
       |  WHERE source IN ('src0', 'src1') GROUP BY b),
       |tot AS (SELECT (SELECT CAST(sum(sc) AS BIGINT) FROM src) AS sN,
       |               (SELECT CAST(coalesce(sum(tc), 0) AS BIGINT) FROM tgt) AS tN),
       |r AS (
       |  SELECT src.b,
       |    CAST(round(ln((coalesce(tc, 0) + 1.0) / (tN + 4096)) * 1e6, 0) AS BIGINT)
       |    - CAST(round(ln((sc + 1.0) / (sN + 4096)) * 1e6, 0) AS BIGINT) AS ri
       |  FROM src LEFT JOIN tgt ON src.b = tgt.b, tot),
       |w AS (
       |  SELECT doc_id, CAST(sum(n * ri) AS BIGINT) AS dsir_weight_micro
       |  FROM dc JOIN r USING (b) GROUP BY doc_id)""".stripMargin

  /** Char-trigram LM oracle CTE chain ([[graft.ml.TextAnalysis.lmQuality]]
    * replay): normalization `nt` → trigram/bigram censuses → add-k
    * smoothing → per-doc log-prob terms `lp`(doc_id, n, lp). */
  private val lmQualityCtesSql =
    """nt AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
      |      '^ | $', '', 'g') AS t
      |  FROM documents),
      |tri3 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
      |    i -> substr(t, CAST(i AS INT), 3))) AS g
      |  FROM nt WHERE length(t) >= 3),
      |bi2 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, length(t)),
      |    i -> substr(t, CAST(i AS INT), 2))) AS g2
      |  FROM nt WHERE length(t) >= 2),
      |tri AS (SELECT g, count(*) AS c3 FROM tri3 GROUP BY g),
      |bi AS (SELECT g2, count(*) AS c2 FROM bi2 GROUP BY g2),
      |vocab AS (
      |  SELECT count(DISTINCT substr(t, CAST(i.i AS INT), 1)) AS v
      |  FROM (SELECT t, unnest(range(1, length(t) + 1)) AS i FROM nt WHERE length(t) >= 1) i),
      |dg AS (SELECT doc_id, g, count(*) AS n FROM tri3 GROUP BY doc_id, g),
      |lp AS (
      |  SELECT dg.doc_id, dg.n,
      |    dg.n * ln((coalesce(tri.c3, 0) + 0.1)
      |              / (coalesce(bi.c2, 0) + 0.1 * vocab.v)) AS lp
      |  FROM dg LEFT JOIN tri USING (g)
      |    LEFT JOIN bi ON bi.g2 = substr(dg.g, 1, 2)
      |    CROSS JOIN vocab)""".stripMargin

  /** Final pair select over [[minHashCtesSql]] (threshold 0.4). */
  private val minHashPairsSql =
    """SELECT a, b, round(max(est), 6) AS est_jaccard FROM (
      |  SELECT l.doc_id AS a, r.doc_id AS b,
      |    len(list_filter(list_zip(l.minhash, r.minhash), z -> z[1] = z[2])) / 32.0 AS est
      |  FROM ok l JOIN ok r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id)
      |WHERE est >= 0.4 GROUP BY a, b""".stripMargin

  private val cosineSql =
    """list_sum(list_transform(list_zip(qe.embedding, ce.embedding),
      |  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |/ (sqrt(list_sum(list_transform(qe.embedding,
      |     v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      | * sqrt(list_sum(list_transform(ce.embedding,
      |     v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))""".stripMargin

  /** WCC closure prefix: `labels` = (id, min reachable id) via undirected
    * transitive closure. Compose with a final SELECT. */
  private val wccClosureSql =
    s"""WITH RECURSIVE $graphBaseSql,
       |r(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT u.b, r.lab FROM r JOIN u ON u.a = r.id),
       |labels AS (SELECT id, min(lab) AS label FROM r GROUP BY id)""".stripMargin

  // ------------------------------------------------------------------
  // definitions: (name, spark program, optional oracle SQL)
  // ------------------------------------------------------------------

  private type Q = (SparkSession, String) => DataFrame

  private val defs: Seq[(String, Q, Option[String])] = Seq(

    // ---- scans / projections / filters ----
    (
      "q_scan_project",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_quantity") > 30)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
      Some("SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_quantity > 30")),

    (
      "q_filter_predicates",
      (s, d) =>
        t(s, d, "part")
          .filter(
            col("p_type").startsWith("PRO") &&
              col("p_size").isin(1, 5, 9, 13) &&
              !col("p_brand").isin("Brand#11", "Brand#22") &&
              col("p_name").contains("a"))
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size")),
      Some(
        """SELECT p_partkey, p_name, p_brand, p_size FROM part
          |WHERE p_type LIKE 'PRO%' AND p_size IN (1,5,9,13)
          |  AND p_brand NOT IN ('Brand#11','Brand#22') AND p_name LIKE '%a%'""".stripMargin)),

    (
      "q_filter_null_range",
      (s, d) =>
        t(s, d, "events")
          .filter(
            col("props").isNotNull && col("value") >= 10.0 && col("value") < 500.0 &&
              col("event_type").endsWith("e"))
          .select(col("event_id"), col("user_id"), col("event_type")),
      Some(
        """SELECT event_id, user_id, event_type FROM events
          |WHERE props IS NOT NULL AND value >= 10.0 AND value < 500.0
          |  AND event_type LIKE '%e'""".stripMargin)),

    // ---- aggregations ----
    (
      "q_agg_groupby",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"),
            round(avg(col("l_discount")), 6).as("avg_disc"),
            count(lit(1)).as("n_rows")),
      Some(
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          |  round(sum(l_extendedprice), 2) AS sum_price,
          |  round(avg(l_discount), 6) AS avg_disc, count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    (
      "q_agg_global",
      (s, d) =>
        t(s, d, "lineitem")
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"),
            round(avg(col("l_extendedprice")), 4).as("avg_price")),
      Some(
        """SELECT count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders,
          |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
          |  round(avg(l_extendedprice), 4) AS avg_price FROM lineitem""".stripMargin)),

    (
      "q_agg_collect_topk",
      // top-3 quantities per returnflag via sorted collect — the reference's
      // topk accumulator (core/state/accumulator_id.rs, SURVEY §2.4).
      // Emitted as one scalar column per rank: the driver's pandas compare
      // can't hash array cells.
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            slice(sort_array(collect_list(col("l_quantity")), asc = false), 1, 3).as("t"))
          .select(
            col("l_returnflag"),
            col("t").getItem(0).as("top1_qty"),
            col("t").getItem(1).as("top2_qty"),
            col("t").getItem(2).as("top3_qty")),
      Some(
        """SELECT l_returnflag, t[1] AS top1_qty, t[2] AS top2_qty, t[3] AS top3_qty
          |FROM (SELECT l_returnflag, (list_sort(list(l_quantity), 'DESC'))[1:3] AS t
          |      FROM lineitem GROUP BY l_returnflag)""".stripMargin)),

    // ---- joins ----
    (
      "q_join_inner_agg",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      },
      Some(
        """SELECT c_mktsegment, count(*) AS n_orders,
          |  round(sum(o_totalprice), 2) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment""".stripMargin)),

    (
      "q_join_multiway_broadcast",
      // 3-way star join: small dims (nation, region) broadcast.
      (s, d) => {
        val cu = t(s, d, "customer")
        val na = broadcast(t(s, d, "nation"))
        val re = broadcast(t(s, d, "region"))
        cu.join(na, cu("c_nationkey") === na("n_nationkey"))
          .join(re, na("n_regionkey") === re("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("total_bal"))
      },
      Some(
        """SELECT r_name, n_name, count(*) AS n_cust,
          |  round(sum(c_acctbal), 2) AS total_bal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name""".stripMargin)),

    (
      "q_join_semi",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").filter(col("o_totalprice") > 100000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
      },
      Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)""".stripMargin)),

    (
      "q_join_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      },
      Some(
        """SELECT c_custkey, c_name, c_mktsegment FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    (
      "q_join_left_outer",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
      },
      Some(
        """SELECT c_custkey, count(o_orderkey) AS n_orders
          |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          |GROUP BY c_custkey""".stripMargin)),

    // ---- window functions / top-k / pagination ----
    (
      "q_window_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            round(col("o_totalprice"), 2).as("price"),
            col("rn").cast("long").as("rn"))
      },
      Some(
        """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) WHERE rn <= 2""".stripMargin)),

    (
      "q_window_running",
      // expanding/cumulative aggregation (reference expanding(), time.rs:147)
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("cum_value", round(sum(col("value")).over(w), 4))
          .withColumn("k", row_number().over(w))
          .filter(col("k") <= 5)
          .select(col("user_id"), col("event_id"), col("cum_value"), col("k").cast("long").as("k"))
      },
      Some(
        """SELECT user_id, event_id, cum_value, k FROM (
          |  SELECT user_id, event_id,
          |    round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_value,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k
          |  FROM events) WHERE k <= 5""".stripMargin)),

    (
      "q_window_lag_lead",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .withColumn("gap_us", epochMicros(col("ts")) - epochMicros(lag(col("ts"), 1).over(w)))
          .filter(col("prev_type").isNotNull)
          .select(col("event_id"), col("user_id"), col("prev_type"), col("gap_us"))
      },
      Some(
        """SELECT event_id, user_id, prev_type, gap_us FROM (
          |  SELECT event_id, user_id,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
          |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
          |  FROM events) WHERE prev_type IS NOT NULL""".stripMargin)),

    (
      "q_sort_limit",
      (s, d) =>
        t(s, d, "lineitem")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .select(col("l_orderkey"), col("l_linenumber"), round(col("l_extendedprice"), 2).as("price"))
          .limit(100),
      Some(
        """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
          |FROM lineitem
          |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin)),

    // ---- set operations ----
    (
      "q_set_union",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey"))
          .union(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
          .distinct()
      },
      Some(
        """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
          |UNION
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    (
      "q_set_intersect",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey"))
          .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
      },
      Some(
        """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
          |INTERSECT
          |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin)),

    (
      "q_set_except",
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_custkey").as("custkey"))
        val o = t(s, d, "orders").select(col("o_custkey").as("custkey"))
        c.except(o)
      },
      Some(
        """SELECT c_custkey AS custkey FROM customer
          |EXCEPT
          |SELECT o_custkey FROM orders""".stripMargin)),

    // ---- scalar functions (§2.8): strings, time, JSON-ish, lists ----
    (
      "q_scalar_functions",
      (s, d) =>
        t(s, d, "events")
          .select(
            col("event_id"),
            upper(col("event_type")).as("etype_upper"),
            length(col("props")).cast("long").as("props_len"),
            get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"),
            hour(col("ts")).as("hr")),
      Some(
        """SELECT event_id, upper(event_type) AS etype_upper,
          |  length(props) AS props_len,
          |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
          |  strftime(ts, '%Y-%m-%d') AS day, CAST(hour(ts) AS INTEGER) AS hr
          |FROM events""".stripMargin)),

    // ---- temporal algebra over the event graph (§1.4 / §2.5) ----
    (
      "q_temporal_window_agg",
      // tumbling 1-day buckets: count + distinct users (WindowedGraph analog)
      (s, d) =>
        t(s, d, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            round(sum(col("value")), 2).as("total_value")),
      Some(
        """SELECT date_trunc('day', ts) AS day, count(*) AS n_events,
          |  count(DISTINCT user_id) AS n_users,
          |  round(sum(value), 2) AS total_value
          |FROM events GROUP BY date_trunc('day', ts)""".stripMargin)),

    // ---- link-graph operators over the events-derived edge table ----
    (
      "q_graph_edges",
      (s, d) => eventEdges(s, d).select(col("src"), col("dst"), col("event_id"), col("layer")),
      Some(eventEdgesSql)),

    (
      "q_edge_history",
      // per-edge temporal history (reference edge.history()/history_counts/
      // earliest_time/latest_time, db/api/view/edge.rs) — the capped array
      // path with full-multiplicity stats; first 5 event times stringified
      // for the compare
      (s, d) => eventGraph(s, d).edgeHistory(maxEvents = 5)
        .select(
          col("src"), col("dst"),
          array_join(transform(col("history"), _.cast("string")), ",").as("history5"),
          col("earliest"), col("latest"), col("n_events")),
      Some(
        """WITH ee AS (
          |  SELECT user_id AS src, dst, tms AS ts FROM (
          |    SELECT user_id, epoch_us(ts)//1000 AS tms, event_type, event_id,
          |           lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
          |    FROM events)
          |  WHERE dst IS NOT NULL AND dst <> user_id)
          |SELECT src, dst,
          |  array_to_string(list_sort(list(ts))[1:5], ',') AS history5,
          |  min(ts) AS earliest, max(ts) AS latest,
          |  CAST(count(*) AS BIGINT) AS n_events
          |FROM ee GROUP BY src, dst""".stripMargin)),

    (
      "q_graph_degrees",
      // distinct-neighbour degrees, reference semantics (SURVEY §1.1)
      (s, d) => eventGraph(s, d).degrees,
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0),
           |up AS (SELECT DISTINCT node, nbr FROM (
           |  SELECT src AS node, dst AS nbr FROM e
           |  UNION ALL SELECT dst AS node, src AS nbr FROM e)),
           |o AS (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY src),
           |i AS (SELECT dst AS id, count(*) AS in_deg FROM e GROUP BY dst),
           |b AS (SELECT node AS id, count(*) AS deg FROM up GROUP BY node)
           |SELECT b.id, coalesce(o.out_deg, 0) AS out_deg,
           |  coalesce(i.in_deg, 0) AS in_deg, b.deg
           |FROM b LEFT JOIN o ON b.id = o.id LEFT JOIN i ON b.id = i.id""".stripMargin)),

    (
      "q_graph_triangle_count",
      (s, d) => {
        import s.implicits._
        Seq(Triangles.globalCount(s, eventGraph(s, d))).toDF("triangles")
      },
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
           |      FROM e0 WHERE src <> dst)
           |SELECT count(*) AS triangles
           |FROM e e1 JOIN e e2 ON e1.b = e2.a
           |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin)),

    (
      "q_graph_reciprocity_global",
      // |out ∩ in| / |out| summed over nodes, self-loops excluded
      // (reference reciprocity.rs:97-117)
      (s, d) => {
        import s.implicits._
        Seq(Metrics.globalReciprocity(eventGraph(s, d))).toDF("r")
          .select(round(col("r"), 6).as("reciprocity"))
      },
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
           |r AS (SELECT count(*) AS n FROM e
           |      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src))
           |SELECT round(r.n / (SELECT count(*) FROM e), 6) AS reciprocity FROM r""".stripMargin)),

    // ---- iterative graph algorithms, replayed by iterated-CTE oracles ----
    (
      "q_graph_pagerank",
      // pinned 20 supersteps, tol=0: the oracle replays the identical
      // fixed-iteration run (convergence-mode PageRank is exercised by
      // SparkEntry.entry and the reference-golden ScalaTests)
      (s, d) => {
        val ranks = PageRank.run(s, eventGraph(s, d), PageRank.Config(maxIter = 20, tol = 0.0))
        ranks.select(col("id"), round(col("score"), 6).as("score"))
      },
      Some(pageRankOracleSql(iters = 20, damping = 0.85))),

    (
      "q_graph_pagerank_personalized",
      // personalized PageRank (Haveliwala 2002; the PPRGo/recommendation
      // seed-relevance score) from a 10% hash seed sample, pinned 20
      // supersteps, tol=0 — same replay discipline as q_graph_pagerank.
      (s, d) => {
        val g = eventGraph(s, d)
        val seeds = g.nodes.select(col("id"))
          .filter(GraphLearn.hmix(42L, col("id") -> GraphLearn.M1) % 1000000L < 100000L)
        PageRank.personalized(s, g, seeds, PageRank.Config(maxIter = 20, tol = 0.0))
          .select(col("id"), round(col("score"), 6).as("score"))
      },
      Some(pprOracleSql(
        iters = 20, damping = 0.85,
        seedPred = s"${GraphLearn.hmixSql(42L, "id" -> GraphLearn.M1)} % 1000000 < 100000"))),

    (
      "q_graph_wcc",
      (s, d) => ConnectedComponents.run(s, eventGraph(s, d)).select(col("id"), col("label")),
      Some(s"$wccClosureSql\nSELECT id, label FROM labels")),

    (
      "q_graph_label_propagation",
      (s, d) => LabelPropagation.run(s, eventGraph(s, d), LabelPropagation.Config(maxIter = 20))
        .select(col("id"), col("label")),
      Some(lpaOracleSql(iters = 20))),

    // ---- documents: dedup / text analysis ----
    (
      "q_dedup_exact",
      (s, d) =>
        t(s, d, "documents")
          .groupBy(md5(col("text")).as("fp"))
          .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_id")),
      Some(
        """SELECT md5(text) AS fp, count(*) AS n_dups, min(doc_id) AS canonical_id
          |FROM documents GROUP BY md5(text)""".stripMargin)),

    (
      "q_text_fingerprint",
      // normalized-content fingerprint: lowercase, strip non-alphanumerics
      (s, d) =>
        t(s, d, "documents")
          .select(
            col("doc_id"),
            md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fingerprint")),
      Some(
        """SELECT doc_id,
          |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
          |FROM documents""".stripMargin)),

    (
      "q_text_stats",
      // token counts + quality-score ingredients
      (s, d) =>
        t(s, d, "documents")
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars2"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"),
            round(
              length(regexp_replace(col("text"), "[^aeiou]", "")).cast("double") /
                greatest(length(col("text")), lit(1)),
              6).as("vowel_ratio")),
      Some(
        """SELECT doc_id, length(text) AS n_chars2,
          |  length(string_split(text, ' ')) AS n_tokens,
          |  round(length(regexp_replace(text, '[^aeiou]', '', 'g')) * 1.0 /
          |    greatest(length(text), 1), 6) AS vowel_ratio
          |FROM documents""".stripMargin)),

    (
      "q_text_token_freq",
      // explode → token frequency: top tokens by count (UNNEST on oracle side)
      (s, d) =>
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 50),
      Some(
        """SELECT token, count(*) AS n FROM (
          |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          |GROUP BY token HAVING count(*) >= 50""".stripMargin)),

    (
      "q_sample_hash",
      // deterministic Bernoulli sample: membership is a pure function of
      // (seed, id) — stable under repartitioning; DuckDB replays the LCG
      (s, d) => Sampling.hashSample(t(s, d, "documents"), rate = 0.25, portable = true)
        .select(col("doc_id"), col("source")),
      Some(
        """SELECT doc_id, source FROM documents
          |WHERE (42 + ((doc_id % 1000000007 + 1000000007) % 1000000007) * 73856093) % 1000000007 % 1000000 < 250000""".stripMargin)),
    (
      "q_sample_stratified",
      // per-group quota: the n rows with the smallest (hash, id) per source
      (s, d) => Sampling.stratifiedQuota(t(s, d, "documents"), "source", n = 20, portable = true)
        .select(col("doc_id"), col("source"), col("sample_rank")),
      Some(
        """SELECT doc_id, source, sample_rank FROM (
          |  SELECT doc_id, source,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY (42 + ((doc_id % 1000000007 + 1000000007) % 1000000007) * 73856093) % 1000000007 % 1000000, doc_id)
          |      AS BIGINT) AS sample_rank
          |  FROM documents)
          |WHERE sample_rank <= 20""".stripMargin)),
    (
      "q_sample_temperature",
      // Pile/ROOTS-style alpha-mixing: per-group rate from an n_g^alpha
      // share census, membership by the same deterministic hash
      (s, d) => Sampling.temperatureMix(
        t(s, d, "documents"), "source", total = 300, alpha = 0.5, portable = true)
        .select(col("doc_id"), col("source"), col("sample_rate")),
      Some(
        """WITH census AS (SELECT source, count(*) AS n_g FROM documents GROUP BY source),
          |sh AS (SELECT source, n_g, pow(CAST(n_g AS DOUBLE), 0.5) AS w FROM census),
          |thr AS (
          |  SELECT source,
          |    least(1000000, CAST(round(300 * (w / (SELECT sum(w) FROM sh)) / n_g
          |      * 1000000.0, 0) AS BIGINT)) AS thr
          |  FROM sh)
          |SELECT d.doc_id, d.source, CAST(t.thr AS DOUBLE) / 1000000.0 AS sample_rate
          |FROM documents d JOIN thr t USING (source)
          |WHERE (42 + ((d.doc_id % 1000000007 + 1000000007) % 1000000007) * 73856093) % 1000000007 % 1000000 < t.thr""".stripMargin)),
    (
      "q_lang_id",
      // n-gram/stopword heuristic language id, compared against the label
      (s, d) => {
        val txt = concat(lit(" "), lower(col("text")), lit(" "))
        t(s, d, "documents")
          .select(
            col("doc_id"),
            col("lang"),
            when(txt.contains(" the ") || txt.contains(" and "), "en")
              .when(txt.contains(" der ") || txt.contains(" und "), "de")
              .when(txt.contains(" le ") || txt.contains(" et "), "fr")
              .when(txt.contains(" el ") || txt.contains(" y "), "es")
              .otherwise("unknown")
              .as("pred_lang"))
      },
      Some(
        """SELECT doc_id, lang,
          |  CASE
          |    WHEN ' ' || lower(text) || ' ' LIKE '% the %'
          |      OR ' ' || lower(text) || ' ' LIKE '% and %' THEN 'en'
          |    WHEN ' ' || lower(text) || ' ' LIKE '% der %'
          |      OR ' ' || lower(text) || ' ' LIKE '% und %' THEN 'de'
          |    WHEN ' ' || lower(text) || ' ' LIKE '% le %'
          |      OR ' ' || lower(text) || ' ' LIKE '% et %' THEN 'fr'
          |    WHEN ' ' || lower(text) || ' ' LIKE '% el %'
          |      OR ' ' || lower(text) || ' ' LIKE '% y %' THEN 'es'
          |    ELSE 'unknown' END AS pred_lang
          |FROM documents""".stripMargin)),

    // ---- graph metrics (§2.4 / §2.10 direct algorithms) ----
    (
      "q_graph_degree_stats",
      (s, d) => Metrics.degreeStats(eventGraph(s, d)),
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0),
           |up AS (SELECT DISTINCT node, nbr FROM (
           |  SELECT src AS node, dst AS nbr FROM e
           |  UNION ALL SELECT dst AS node, src AS nbr FROM e)),
           |o AS (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY src),
           |i AS (SELECT dst AS id, count(*) AS in_deg FROM e GROUP BY dst),
           |b AS (SELECT node AS id, count(*) AS deg FROM up GROUP BY node),
           |degs AS (SELECT b.id, coalesce(o.out_deg, 0) AS out_deg,
           |  coalesce(i.in_deg, 0) AS in_deg, b.deg
           |  FROM b LEFT JOIN o ON b.id = o.id LEFT JOIN i ON b.id = i.id)
           |SELECT max(out_deg) AS max_out_degree, min(out_deg) AS min_out_degree,
           |  round(avg(out_deg), 6) AS avg_out_degree,
           |  max(in_deg) AS max_in_degree, min(in_deg) AS min_in_degree,
           |  round(avg(in_deg), 6) AS avg_in_degree,
           |  max(deg) AS max_degree, min(deg) AS min_degree,
           |  round(avg(deg), 6) AS avg_degree
           |FROM degs""".stripMargin)),

    (
      "q_graph_degree_centrality",
      (s, d) => Metrics.degreeCentrality(eventGraph(s, d)),
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0),
           |up AS (SELECT DISTINCT node, nbr FROM (
           |  SELECT src AS node, dst AS nbr FROM e
           |  UNION ALL SELECT dst AS node, src AS nbr FROM e)),
           |b AS (SELECT node AS id, count(*) AS deg FROM up GROUP BY node)
           |SELECT id, round(deg * 1.0 / (SELECT max(deg) FROM b), 6) AS centrality
           |FROM b""".stripMargin)),

    (
      "q_graph_reciprocity_local",
      (s, d) => Metrics.localReciprocity(eventGraph(s, d)),
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
           |o AS (SELECT src AS id, count(*) AS n_out FROM e GROUP BY src),
           |i AS (SELECT dst AS id, count(*) AS n_in FROM e GROUP BY dst),
           |r AS (SELECT e.src AS id, count(*) AS n_recip FROM e
           |      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)
           |      GROUP BY e.src)
           |SELECT coalesce(o.id, i.id) AS id,
           |  round(2.0 * coalesce(n_recip, 0) /
           |    (coalesce(n_out, 0) + coalesce(n_in, 0)), 6) AS reciprocity
           |FROM o FULL JOIN i ON o.id = i.id
           |LEFT JOIN r ON coalesce(o.id, i.id) = r.id""".stripMargin)),

    (
      "q_graph_triplets_clustering",
      (s, d) => {
        import s.implicits._
        val g = eventGraph(s, d)
        val triplets = Metrics.tripletCount(g)
        val triangles = Triangles.globalCount(s, g)
        Seq((triplets, triangles)).toDF("triplets", "triangles")
          .select(
            col("triplets"),
            col("triangles"),
            round(lit(3.0) * col("triangles") / col("triplets"), 6).as("gcc"))
      },
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |up AS (SELECT DISTINCT node, nbr FROM (
           |  SELECT src AS node, dst AS nbr FROM (SELECT DISTINCT src, dst FROM e0)
           |  UNION ALL SELECT dst AS node, src AS nbr FROM (SELECT DISTINCT src, dst FROM e0))
           |  WHERE node <> nbr),
           |degs AS (SELECT node, count(*) AS dd FROM up GROUP BY node),
           |trip AS (SELECT CAST(sum(dd * (dd - 1) // 2) AS BIGINT) AS n FROM degs),
           |ce AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
           |       FROM e0 WHERE src <> dst),
           |tri AS (SELECT count(*) AS n FROM ce e1 JOIN ce e2 ON e1.b = e2.a
           |        JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b)
           |SELECT trip.n AS triplets, tri.n AS triangles,
           |  round(3.0 * tri.n / trip.n, 6) AS gcc
           |FROM trip, tri""".stripMargin)),

    (
      "q_graph_triangles_local",
      (s, d) => Triangles.localCounts(s, eventGraph(s, d)),
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |ce AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b
           |       FROM e0 WHERE src <> dst),
           |tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
           |        FROM ce e1 JOIN ce e2 ON e1.b = e2.a
           |        JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b)
           |SELECT id, count(*) AS triangles FROM (
           |  SELECT u AS id FROM tri
           |  UNION ALL SELECT v FROM tri
           |  UNION ALL SELECT w FROM tri)
           |GROUP BY id""".stripMargin)),

    (
      "q_graph_density",
      (s, d) => {
        import s.implicits._
        Seq(Metrics.directedDensity(eventGraph(s, d))).toDF("r")
          .select(round(col("r"), 6).as("density"))
      },
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0),
           |n AS (SELECT count(*) AS n FROM
           |  (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)))
           |SELECT round((SELECT count(*) FROM e) * 1.0 / (n.n * (n.n - 1)), 6) AS density
           |FROM n""".stripMargin)),

    (
      "q_graph_balance",
      // net event-weight per node over the weighted event-edge stream
      // (reference balance semantics: temporal events, not deduped edges)
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        val weighted = t(s, d, "events")
          .withColumn("dst", lead("user_id", 1).over(w))
          .withColumn("wv", lead("value", 1).over(w))
          .filter(col("dst").isNotNull && col("dst") =!= col("user_id"))
          .select(
            col("user_id").as("src"),
            col("dst"),
            epochMillis(col("ts")).as("ts"),
            col("event_id"),
            col("event_type").as("layer"),
            col("wv"))
        Metrics.balance(TemporalGraph(weighted), "wv", "both")
      },
      Some(
        """WITH e0 AS (
          |  SELECT user_id AS src, dst, wv FROM (
          |    SELECT user_id,
          |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst,
          |      lead(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS wv
          |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
          |i AS (SELECT dst AS id, sum(wv) AS in_w FROM e0 GROUP BY dst),
          |o AS (SELECT src AS id, sum(wv) AS out_w FROM e0 GROUP BY src)
          |SELECT coalesce(i.id, o.id) AS id,
          |  round(coalesce(in_w, 0) - coalesce(out_w, 0), 6) AS balance
          |FROM i FULL JOIN o ON i.id = o.id""".stripMargin)),

    (
      "q_graph_sssp",
      (s, d) =>
        Paths.sssp(s, eventGraph(s, d), source = 0L, cutoff = 5).select("id", "dist"),
      Some(
        s"""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($eventEdgesSql)),
           |r(id, dist) AS (
           |  SELECT CAST(0 AS BIGINT), 0
           |  UNION
           |  SELECT e.dst, r.dist + 1 FROM r JOIN e ON e.src = r.id WHERE r.dist < 5)
           |SELECT id, min(dist) AS dist FROM r GROUP BY id""".stripMargin)),

    (
      "q_graph_dijkstra",
      // weighted SSSP distances (reference dijkstra.rs:97 semantics, bulk
      // Bellman-Ford execution) with deterministic positive weights
      // 1 + event_id % 7; the oracle replays the relaxation as iterated
      // min-CTEs (40 rounds ≫ the event graph's weighted hop diameter;
      // extra rounds are no-ops at the fixpoint). Paths are checked by the
      // ScalaTest goldens (tie-breaks aren't a SQL invariant).
      (s, d) => {
        val weighted = eventEdges(s, d)
          .withColumn("w", lit(1.0) + pmod(col("event_id"), lit(7)).cast("double"))
        Paths.dijkstra(s, TemporalGraph(weighted), source = 0L,
          targets = None, weightCol = Some("w"), direction = "out")
          .select(col("id"), round(col("dist"), 6).as("dist"))
      },
      Some {
        val head =
          s"""WITH e0 AS ($eventEdgesSql),
             |we AS (SELECT src, dst, min(1.0 + (event_id % 7)) AS w
             |       FROM e0 GROUP BY src, dst),
             |d0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS id, 0.0 AS dist)""".stripMargin
        val steps = (1 to 40).map { k =>
          s"""d$k AS MATERIALIZED (
             |  SELECT id, min(dist) AS dist FROM (
             |    SELECT id, dist FROM d${k - 1}
             |    UNION ALL
             |    SELECT we.dst AS id, p.dist + we.w AS dist
             |    FROM d${k - 1} p JOIN we ON we.src = p.id) GROUP BY id)""".stripMargin
        }
        (head +: steps).mkString(",\n") +
          "\nSELECT id, round(dist, 6) AS dist FROM d40"
      }),

    (
      "q_graph_bipartite_projection",
      // two-mode projection: parts co-occurring in the same order with ship
      // dates within 7 days (reference temporal_bipartite_projection.rs:31)
      (s, d) => {
        val li = t(s, d, "lineitem")
        val edges = li.select(
          col("l_partkey").as("src"),
          (col("l_orderkey") + lit(1000000000L)).as("dst"),
          epochMillis(col("l_shipdate")).as("ts"),
          col("l_linenumber").cast("long").as("event_id"),
          lit("has_part").as("layer"))
        val primaries = li.select(col("l_partkey").as("id")).distinct()
        BipartiteProjection.run(TemporalGraph(edges), primaries, deltaMs = 7L * 86400000)
      },
      Some(
        """WITH inc AS (
          |  SELECT DISTINCT l_orderkey + 1000000000 AS middle, l_partkey AS p,
          |    epoch_us(l_shipdate) // 1000 AS ts
          |  FROM lineitem)
          |SELECT DISTINCT l.p AS src, r.p AS dst, greatest(l.ts, r.ts) AS ts
          |FROM inc l JOIN inc r ON l.middle = r.middle AND l.p < r.p
          |WHERE abs(l.ts - r.ts) <= 604800000""".stripMargin)),

    (
      "q_graph_fastrp",
      // portable arithmetic projection hash → DuckDB replays the whole
      // embedding (init draw + both propagation iterations) in SQL.
      // Per-dimension double columns (the driver compare can't hash array
      // cells); `+ 0.0` normalizes any -0.0 from rounding on either side.
      (s, d) => {
        val emb = FastRP.run(s, eventGraph(s, d), embeddingDim = 8, portable = true)
        emb.select(
          col("id") +: (0 until 8).map(i =>
            (round(element_at(col("emb"), i + 1), 6) + lit(0.0)).as(s"d$i")): _*)
      },
      Some(fastRpOracleSql(dim = 8, seed = 42L))),

    // ---- iterative graph ops, oracle-replayed where SQL-expressible ----
    (
      "q_graph_betweenness",
      (s, d) => graft.algos.Betweenness.run(s, eventGraph(s, d), normalized = true)
        .select(col("id"), round(col("betweenness"), 6).as("betweenness")),
      Some(betweennessOracleSql(levels = 8))),
    (
      "q_graph_kcore",
      (s, d) => KCore.coreSet(s, eventGraph(s, d), KCore.Config(k = 4)),
      Some(kcoreOracleSql(k = 4, rounds = 48))),
    (
      "q_graph_coreness",
      // FULL core decomposition via the h-index fixpoint (Lü et al.
      // 2016): every node's core number in one run. The oracle replays
      // the same iteration as a pinned 48-round CTE ladder (the Spark
      // side converges well before; extra rounds are fixpoint no-ops).
      (s, d) => graft.algos.KCore.coreness(s, eventGraph(s, d)),
      Some(corenessOracleSql(rounds = 48))),
    (
      "q_graph_hits",
      // pinned 20 supersteps, tol=0 (see q_graph_pagerank)
      (s, d) => Hits.run(s, eventGraph(s, d), Hits.Config(maxIter = 20, tol = 0.0))
        .select(col("id"), round(col("hub_score"), 6).as("hub_score"),
          round(col("auth_score"), 6).as("auth_score")),
      Some(hitsOracleSql(iters = 20))),
    (
      "q_graph_eigenvector",
      // sup-norm power iteration (Bonacich 1987), pinned 20 supersteps —
      // beyond the reference's centrality module; same replay discipline
      // as q_graph_pagerank.
      (s, d) => Centrality.eigenvector(
        s, eventGraph(s, d), Centrality.Config(maxIter = 20, tol = 0.0))
        .select(col("id"), round(col("score"), 6).as("score")),
      Some(eigenvectorOracleSql(iters = 20))),
    (
      "q_graph_katz",
      // Katz centrality (Katz 1953), α=0.01 β=1, pinned 20 supersteps,
      // max-normalized output (see katzOracleSql — raw magnitudes outrun
      // 6-dp rounding when α·λ_max > 1)
      (s, d) => {
        val k = Centrality.katz(
          s, eventGraph(s, d), alpha = 0.01, beta = 1.0,
          Centrality.Config(maxIter = 20, tol = 0.0))
        val mx = broadcast(k.agg(max("score").as("mx")))
        k.crossJoin(mx).select(col("id"), round(col("score") / col("mx"), 6).as("score"))
      },
      Some(katzOracleSql(iters = 20, alpha = 0.01, beta = 1.0))),
    (
      "q_graph_component_sizes",
      (s, d) => Components.componentSizes(s, eventGraph(s, d)),
      Some(s"$wccClosureSql\nSELECT label, count(*) AS size FROM labels GROUP BY label")),

    (
      "q_graph_scc",
      // strongly connected components, labels canonicalized to min node id
      // (reference scc.rs Tarjan ids are discovery-order identities)
      (s, d) => Scc.run(s, eventGraph(s, d)),
      Some(
        s"""WITH RECURSIVE $graphBaseSql,
           |r(a, b) AS (
           |  SELECT src, dst FROM e WHERE src <> dst
           |  UNION
           |  SELECT r.a, e.dst FROM r JOIN e ON e.src = r.b),
           |mut AS (SELECT r1.a AS a, r1.b AS b FROM r r1
           |        JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a)
           |SELECT id, min(lab) AS label FROM (
           |  SELECT id, id AS lab FROM nodes
           |  UNION ALL SELECT a AS id, b AS lab FROM mut) GROUP BY id""".stripMargin)),

    (
      "q_graph_in_components",
      // whole-graph in-components (in_components.rs:68): ancestor-set size
      // + min/max member per node (the member arrays themselves aren't
      // hashable by the driver compare)
      (s, d) => Components.allComponents(s, eventGraph(s, d), "in")
        .select(
          col("id"), col("size"),
          array_min(col("members")).as("min_m"), array_max(col("members")).as("max_m")),
      Some(
        s"""WITH RECURSIVE $graphBaseSql,
           |r(id, m) AS (
           |  SELECT dst, src FROM e WHERE src <> dst
           |  UNION
           |  SELECT r.id, e.src FROM r JOIN e ON e.dst = r.m WHERE e.src <> e.dst)
           |SELECT n.id, count(r.m) AS size, min(r.m) AS min_m, max(r.m) AS max_m
           |FROM nodes n LEFT JOIN r ON r.id = n.id GROUP BY n.id""".stripMargin)),

    (
      "q_graph_out_components",
      (s, d) => Components.allComponents(s, eventGraph(s, d), "out")
        .select(
          col("id"), col("size"),
          array_min(col("members")).as("min_m"), array_max(col("members")).as("max_m")),
      Some(
        s"""WITH RECURSIVE $graphBaseSql,
           |r(id, m) AS (
           |  SELECT src, dst FROM e WHERE src <> dst
           |  UNION
           |  SELECT r.id, e.dst FROM r JOIN e ON e.src = r.m WHERE e.src <> e.dst)
           |SELECT n.id, count(r.m) AS size, min(r.m) AS min_m, max(r.m) AS max_m
           |FROM nodes n LEFT JOIN r ON r.id = n.id GROUP BY n.id""".stripMargin)),

    (
      "q_graph_temporal_motifs",
      // global 40-dim temporal 3-node motif census (Paranjape et al.;
      // reference global_temporal_three_node_motifs.rs:267) at delta = 2h.
      // Golden-tested against the reference fixture in TemporalMotifsSpec;
      // oracle = brute-force triple enumeration (see motifBaseSql — kernel
      // equivalence property-tested in TemporalMotifsBruteForceSpec).
      (s, d) => graft.algos.TemporalMotifs.global(s, eventGraph(s, d), deltaMs = 7200000L),
      Some(motifGlobalCensusSql(7200000L))),

    (
      "q_graph_temporal_motifs_multi",
      // multi-timescale census (temporal_three_node_motif_multi,
      // global_temporal_three_node_motifs.rs:267): one shared graph pass,
      // kernels re-run per delta. Oracle = the single-delta brute force at
      // each delta (DuckDB CTEs nested per UNION ALL branch), so the multi
      // path is checked against the same independent enumeration as
      // q_graph_temporal_motifs rather than against our own global().
      (s, d) => graft.algos.TemporalMotifs
        .globalMulti(s, eventGraph(s, d), Seq(3600000L, 7200000L)),
      Some(Seq(3600000L, 7200000L).map { dlt =>
        s"""SELECT CAST($dlt AS BIGINT) AS delta_ms, motif_id, count
           |FROM (${motifGlobalCensusSql(dlt)})""".stripMargin
      }.mkString("\nUNION ALL\n"))),

    (
      "q_graph_temporal_motifs_local",
      // per-node 40-dim census (local_temporal_three_node_motifs.rs:333):
      // star motifs credit the centre, two-node motifs both endpoints
      // (max endpoint direction-mirrored: slot 7 − m), triangle motifs all
      // three corners. Golden-tested against the reference's
      // test_local_motif fixture; oracle = the same brute-force triples
      // credited per node. Emitted as one row per node with the nonzero
      // slots joined, so the driver compare can hash it (the oracle's
      // string_agg orders by the STRING value — Spark's sort_array over
      // "motif:count" strings is lexicographic).
      (s, d) => graft.algos.TemporalMotifs.local(s, eventGraph(s, d), deltaMs = 7200000L)
        .groupBy(col("id"))
        .agg(
          sum(col("count")).as("total"),
          array_join(
            sort_array(collect_list(
              when(col("count") > 0, concat_ws(":", col("motif_id"), col("count"))))),
            ",").as("nonzero")),
      Some(
        s"""WITH ${motifBaseSql(7200000L)},
           |node_counts AS (
           |  SELECT node AS id, m AS motif_id, count(*) AS c FROM star_triples GROUP BY 1, 2
           |  UNION ALL
           |  SELECT id, 24 + m, count(*) FROM (
           |    SELECT a AS id, m FROM two_triples UNION ALL SELECT b, 7 - m FROM two_triples
           |  ) t GROUP BY 1, 2
           |  UNION ALL
           |  SELECT id, 32 + m, count(*) FROM (
           |    SELECT x1 AS id, m FROM tri_triples
           |    UNION ALL SELECT x2, m FROM tri_triples
           |    UNION ALL SELECT x3, m FROM tri_triples
           |  ) t GROUP BY 1, 2)
           |SELECT n.id,
           |       CAST(coalesce(sum(c.c), 0) AS BIGINT) AS total,
           |       coalesce(string_agg(
           |         CASE WHEN c.c > 0 THEN c.motif_id || ':' || c.c END, ','
           |         ORDER BY (c.motif_id || ':' || c.c)), '') AS nonzero
           |FROM nodes n LEFT JOIN node_counts c ON c.id = n.id
           |GROUP BY n.id""".stripMargin)),

    (
      "q_graph_seir",
      // deterministic temporal SEIR (epidemics.rs:182) pinned to the SI
      // deterministic slice (p=1, no recovery, incubation 1): infection =
      // earliest time-respecting arrival — fully SQL-replayable. The
      // stochastic slice (p<1, Exp rates) is hash-deterministic and pinned
      // by EpidemicsSpec instead.
      (s, d) => {
        import s.implicits._
        val seeds = Seq(0L, 1L).toDF("id")
        graft.algos.Epidemics.run(
          s, eventGraph(s, d), seeds,
          graft.algos.Epidemics.Config(infectionProb = 1.0, initialInfection = 0L))
          .select(col("id"), col("infected"), col("active"))
      },
      Some(seirOracleSql(rounds = 25))),

    (
      "q_node_type_subgraph",
      // subgraph_node_types (db/api/view/graph.rs:114): customers are the
      // node dimension (type = market segment), events the edge stream;
      // the view keeps edges whose BOTH endpoints are BUILDING/AUTOMOBILE
      // customers.
      (s, d) => {
        val nodes = t(s, d, "customer").select(
          col("c_custkey").as("id"),
          lit(0L).as("ts"),
          col("c_mktsegment").as("node_type"))
        val pg = graft.graph.PropertyGraph(eventGraph(s, d), nodes)
          .subgraphNodeTypes("BUILDING", "AUTOMOBILE")
        pg.graph.edges
          .groupBy("layer")
          .agg(
            count(lit(1)).as("n_edges"),
            countDistinct(col("src")).as("n_src"),
            countDistinct(col("dst")).as("n_dst"))
      },
      Some(
        """WITH ev AS (
          |  SELECT user_id AS src, dst, event_type AS layer FROM (
          |    SELECT user_id, event_type,
          |           lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
          |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
          |keep AS (SELECT c_custkey AS id FROM customer
          |         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE'))
          |SELECT layer, count(*) AS n_edges,
          |       count(DISTINCT src) AS n_src, count(DISTINCT dst) AS n_dst
          |FROM ev
          |WHERE src IN (SELECT id FROM keep) AND dst IN (SELECT id FROM keep)
          |GROUP BY layer""".stripMargin)),

    (
      "q_node_property_asof",
      // node temporal property as-of (TemporalProp::at): events are node
      // update rows (id=user_id, ts, value); latest value at-or-before the
      // cutoff per node, ties on ts to the larger value.
      (s, d) => {
        val nodes = t(s, d, "events").select(
          col("user_id").as("id"),
          epochMillis(col("ts")).as("ts"),
          col("value"))
        graft.graph.PropertyGraph(eventGraph(s, d), nodes)
          .propertyAt("value", 1705000000000L)
          .select(col("id"), col("ts"), round(col("value"), 6).as("value"))
      },
      Some(
        """WITH upd AS (
          |  SELECT user_id AS id, epoch_us(ts)//1000 AS tms, value FROM events
          |  WHERE value IS NOT NULL AND epoch_us(ts)//1000 <= 1705000000000),
          |latest AS (SELECT id, max(tms) AS ts FROM upd GROUP BY id)
          |SELECT l.id, l.ts, round(max(u.value), 6) AS value
          |FROM latest l JOIN upd u ON u.id = l.id AND u.tms = l.ts
          |GROUP BY l.id, l.ts""".stripMargin)),

    (
      "q_graph_louvain",
      // deterministic distributed Louvain kernel on the ARBITRARY sf event
      // graph (community_detection/louvain.rs; the reference is
      // rng-shuffled, ours replaces the sequential sweep with
      // direction-gated synchronous moving — see algos/Louvain.scala):
      // PINNED rounds of the level-0 local moving, fully replayed in SQL —
      // every move decision is an argmax over exactly-representable float
      // arithmetic in one fixed operand order (the MIS/coloring
      // pinned-round precedent; a converged state is a fixpoint, so extra
      // oracle rounds no-op). The full multi-level fixpoint pipeline
      // carries the two provably-unique fixture oracles below +
      // LouvainSpec.
      (s, d) => graft.algos.Louvain.localMovingRounds(s, eventGraph(s, d), rounds = 4),
      Some(louvainLocalMovingSql(rounds = 4))),

    (
      "q_graph_louvain_cliques",
      // Louvain on a provably-unique instance, giving the FULL distributed
      // pipeline (weighted-CSR local moving + relabel + aggregation levels)
      // a real DuckDB oracle: disjoint cliques over the event node set.
      // Local moving only considers neighbour communities, so disconnected
      // cliques can never merge; within a clique any split has an improving
      // move (move a node from the smaller part to the larger: edge gain
      // 2(b-a+1)/m2 dominates the O(k²/m2²) degree penalty with many
      // cliques), so the unique fixpoint is one community per clique,
      // labelled min member id — SQL-expressible. The arbitrary-graph entry
      // above stays rows-only (heuristic fixpoint).
      (s, d) => {
        val ids = t(s, d, "events")
          .select(col("user_id").cast("long").as("id")).distinct()
        val nB = math.max(ids.count() / 5L, 2L) // ~5-node cliques
        val bucketed = ids.withColumn("bucket", pmod(col("id"), lit(nB)))
        val sized = bucketed.join(
          bucketed.groupBy("bucket").agg(count(lit(1)).as("cnt"))
            .filter(col("cnt") >= 2).select("bucket"),
          Seq("bucket"))
        val ce = sized.select(col("bucket"), col("id").as("src"))
          .join(sized.select(col("bucket"), col("id").as("dst")), Seq("bucket"))
          .filter(col("src") < col("dst"))
          .select(col("src"), col("dst"))
          .withColumn("ts", lit(0L))
          .withColumn("event_id", lit(0L))
          .withColumn("layer", lit("_default"))
        graft.algos.Louvain.run(s, TemporalGraph(ce))
      },
      Some(
        """WITH ids AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS id FROM events),
          |nb AS (SELECT greatest(count(*) // 5, 2) AS n FROM ids),
          |b AS (SELECT id, id % (SELECT n FROM nb) AS bucket FROM ids),
          |f AS (SELECT id, bucket,
          |             count(*) OVER (PARTITION BY bucket) AS cnt,
          |             min(id) OVER (PARTITION BY bucket) AS community FROM b)
          |SELECT id, community FROM f WHERE cnt >= 2""".stripMargin)),

    (
      "q_graph_louvain_bridged",
      // Second provably-unique Louvain instance at a DIFFERENT topology
      // (complements q_graph_louvain_cliques): TWO clique sizes — even
      // buckets keep all ~12+ members, odd buckets are halved — plus one
      // BRIDGE edge between each even/odd pair (min-id endpoints).
      // Soundness (modularity resolution limit, Fortunato–Barthélémy):
      // merging bridged communities A,B wins iff 2m·l_AB > d_A·d_B; with
      // l_AB = 1, capping the clique count at 40 keeps 2m ≤ ~3.3k while
      // the smallest bridged product (size-6 × size-12 cliques) is ≥ ~4.1k
      // — and above the cap clique sizes grow with n, so the product grows
      // ~s⁴ against m's ~s². Node-level defection across a bridge loses
      // (1 internal vs ≥ 2 internal edges), so the unique fixpoint at
      // every level is one community per clique, labelled min member id.
      (s, d) => {
        import org.apache.spark.sql.expressions.{Window => W}
        val ids = t(s, d, "events")
          .select(col("user_id").cast("long").as("id")).distinct()
        val nB = math.min(math.max(ids.count() / 12L, 2L), 40L)
        val cut = ids.withColumn("bucket", pmod(col("id"), lit(nB)))
          .withColumn("rn", row_number().over(W.partitionBy("bucket").orderBy("id")).cast("long"))
          .withColumn("cnt", count(lit(1)).over(W.partitionBy("bucket")))
          .filter(col("bucket") % 2 === 0 || col("rn") <= expr("cnt div 2"))
        val sized = cut.join(
          cut.groupBy("bucket").agg(count(lit(1)).as("k")).filter(col("k") >= 3).select("bucket"),
          Seq("bucket"))
        val clique = sized.select(col("bucket"), col("id").as("src"))
          .join(sized.select(col("bucket"), col("id").as("dst")), Seq("bucket"))
          .filter(col("src") < col("dst"))
          .select("src", "dst")
        val mins = sized.groupBy("bucket").agg(min("id").as("mid"))
        val bridges = mins.filter(col("bucket") % 2 === 0)
          .select(col("bucket").as("eb"), col("mid").as("src"))
          .join(
            mins.filter(col("bucket") % 2 === 1)
              .select((col("bucket") - 1).as("eb"), col("mid").as("dst")),
            Seq("eb"))
          .select("src", "dst")
        val edges = clique.unionByName(bridges)
          .withColumn("ts", lit(0L))
          .withColumn("event_id", lit(0L))
          .withColumn("layer", lit("_default"))
        graft.algos.Louvain.run(s, TemporalGraph(edges))
      },
      Some(
        """WITH ids AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS id FROM events),
          |nb AS (SELECT least(greatest(count(*) // 12, 2), 40) AS n FROM ids),
          |b AS (SELECT id, id % (SELECT n FROM nb) AS bucket FROM ids),
          |r AS (SELECT id, bucket,
          |        row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn,
          |        count(*) OVER (PARTITION BY bucket) AS cnt FROM b),
          |cut AS (SELECT id, bucket FROM r WHERE bucket % 2 = 0 OR rn <= cnt // 2),
          |k AS (SELECT bucket FROM cut GROUP BY bucket HAVING count(*) >= 3),
          |f AS (SELECT c.id, c.bucket, min(c.id) OVER (PARTITION BY c.bucket) AS community
          |      FROM cut c JOIN k USING (bucket))
          |SELECT id, community FROM f""".stripMargin)),

    (
      "q_graph_louvain_ring",
      // THIRD provably-unique Louvain topology (cycle case): equal-size
      // cliques arranged in a RING — one bridge from each kept clique's
      // min node to the next kept clique's min node, cyclically — so a
      // chain of pairwise merges could in principle cascade around the
      // cycle. It cannot: at every level the pairwise merge test is
      // 2m·l_AB > d_A·d_B (aggregation preserves it — self-loops ride in
      // the degrees); with l_AB ≤ 2 (the nB=2 parallel-bridge edge case)
      // and the clique count capped at 40, 4m ≤ ~21.5k while the smallest
      // adjacent product at size-12 cliques is (132+2)² ≈ 18.0k — and
      // sizes grow with n above the cap, the product growing ~s⁴ against
      // m's ~s². Defection across a bridge loses ≥ s−2 internal edges.
      // Unique fixpoint: one community per clique, labelled min member.
      (s, d) => {
        import org.apache.spark.sql.expressions.{Window => W}
        val ids = t(s, d, "events")
          .select(col("user_id").cast("long").as("id")).distinct()
        val nB = math.min(math.max(ids.count() / 12L, 3L), 40L)
        val b = ids.withColumn("bucket", pmod(col("id"), lit(nB)))
        val sized = b.join(
          b.groupBy("bucket").agg(count(lit(1)).as("k"))
            .filter(col("k") >= 3).select("bucket"),
          Seq("bucket"))
        val clique = sized.select(col("bucket"), col("id").as("src"))
          .join(sized.select(col("bucket"), col("id").as("dst")), Seq("bucket"))
          .filter(col("src") < col("dst"))
          .select("src", "dst")
        val mins = sized.groupBy("bucket").agg(min("id").as("mid"))
          .withColumn("rn", row_number().over(W.orderBy("bucket")).cast("long"))
        val nKept = mins.count()
        val ring = mins.select(col("mid").as("src"), col("rn").as("ra"))
          .join(
            mins.select(col("mid").as("dst"), col("rn").as("rb")),
            col("ra") % nKept + 1L === col("rb"))
          .filter(col("src") =!= col("dst"))
          .select("src", "dst")
        val edges = clique.unionByName(ring)
          .withColumn("ts", lit(0L))
          .withColumn("event_id", lit(0L))
          .withColumn("layer", lit("_default"))
        graft.algos.Louvain.run(s, TemporalGraph(edges))
      },
      Some(
        """WITH ids AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS id FROM events),
          |nb AS (SELECT least(greatest(count(*) // 12, 3), 40) AS n FROM ids),
          |b AS (SELECT id, id % (SELECT n FROM nb) AS bucket FROM ids),
          |k AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) >= 3),
          |f AS (SELECT x.id, min(x.id) OVER (PARTITION BY x.bucket) AS community
          |      FROM b x JOIN k USING (bucket))
          |SELECT id, community FROM f""".stripMargin)),

    (
      "q_graph_rich_club",
      // temporal rich-club coefficient (temporal_rich_club_coefficient.rs:59;
      // Pedreschi et al. 2022): club = degree ≥ 5 in the aggregate graph,
      // tumbling 1-day snapshots consumed in chunks of 2, max over chunks of
      // stable-edge density. Fully SQL-replayable.
      (s, d) => {
        import s.implicits._
        val coef = graft.algos.RichClub.temporalRichClubTumbling(
          s, eventGraph(s, d), stepMs = 86400000L, k = 5L, windowSize = 2)
        Seq((5L, 2L, math.rint(coef * 1e6) / 1e6)).toDF("k", "window_size", "coefficient")
      },
      Some(
        """WITH ev0 AS (
          |  SELECT user_id, epoch_us(ts)//1000 AS tms,
          |         lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
          |  FROM events),
          |ev AS (SELECT user_id AS src, dst, tms AS ts FROM ev0
          |       WHERE dst IS NOT NULL AND dst <> user_id),
          |e AS (SELECT DISTINCT src, dst FROM ev),
          |deg AS (SELECT node, count(*) AS deg FROM (
          |  SELECT DISTINCT node, nbr FROM (
          |    SELECT src AS node, dst AS nbr FROM e UNION ALL SELECT dst, src FROM e))
          |  GROUP BY node),
          |club AS (SELECT node FROM deg WHERE deg >= 5),
          |bounds AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM ev),
          |params AS (SELECT ((t1 - t0) // 86400000 + 1) // 2 AS n_chunks FROM bounds),
          |snaps AS (
          |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b,
          |         (ts - t0) // 86400000 AS snap
          |  FROM ev, bounds WHERE src <> dst),
          |clubbed AS (
          |  SELECT a, b, snap FROM snaps, params
          |  WHERE snap < n_chunks * 2
          |    AND a IN (SELECT node FROM club) AND b IN (SELECT node FROM club)),
          |percnt AS (SELECT snap // 2 AS chunk, a, b, count(*) AS n FROM clubbed GROUP BY 1, 2, 3),
          |stable AS (SELECT chunk, count(*) AS s FROM percnt WHERE n = 2 GROUP BY chunk),
          |nc AS (SELECT count(*) AS n FROM club)
          |SELECT CAST(5 AS BIGINT) AS k, CAST(2 AS BIGINT) AS window_size,
          |  round(coalesce((SELECT max(s) FROM stable), 0)
          |        / ((SELECT n FROM nc) * ((SELECT n FROM nc) - 1) / 2.0), 6) AS coefficient""".stripMargin)),

    (
      "q_text_search",
      // full-text search (the reference's Tantivy layer, search/searcher.rs):
      // DataFrame inverted index + BM25 disjunctive scoring, replayed in
      // DuckDB end to end. k bounds nothing here (≫ corpus) so the row set
      // is the exact disjunctive term match — no top-k boundary to flip on
      // float noise.
      (s, d) => {
        val idx = graft.search.TextSearch.buildIndex(t(s, d, "documents"), "doc_id", "text")
        graft.search.TextSearch.searchRanked(idx, Seq("spark", "join", "window"), k = 1000000)
          .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |                     t -> len(t) > 0) AS tk
          |  FROM documents),
          |postings AS (
          |  SELECT doc_id, u.term AS term, count(*) AS tf, any_value(len(tk)) AS doc_len
          |  FROM toks, unnest(tk) AS u(term) GROUP BY doc_id, u.term),
          |stats AS (SELECT count(DISTINCT doc_id) AS n_docs,
          |                 sum(tf) / count(DISTINCT doc_id) AS avg_len FROM postings),
          |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings
          |          WHERE term IN ('spark', 'join', 'window') GROUP BY term)
          |SELECT p.doc_id,
          |       round(sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * p.tf * 2.2 /
          |                 (p.tf + 1.2 * (0.25 + 0.75 * p.doc_len / s.avg_len))), 6) AS score
          |FROM postings p JOIN dfreq d USING (term) CROSS JOIN stats s
          |WHERE p.term IN ('spark', 'join', 'window')
          |GROUP BY p.doc_id""".stripMargin)),

    (
      "q_graph_modularity",
      // the reference's standalone modularity value() (modularity.rs:391-403)
      // for a deterministic partition (community = id mod 8): every input to
      // the formula is an integer-valued double and the final expression is
      // two IEEE divisions, so DuckDB replays it bit-exactly.
      (s, d) => {
        import s.implicits._
        val g = eventGraph(s, d)
        val assign = g.nodes.select(col("id"), pmod(col("id"), lit(8)).as("community"))
        Seq(Louvain.modularityOf(s, g, assign)).toDF("r")
          .select(round(col("r"), 6).as("modularity"))
      },
      Some(
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0),
           |p AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
           |             CAST(count(*) AS DOUBLE) AS w
           |      FROM e WHERE src <> dst GROUP BY 1, 2),
           |k AS (SELECT id, sum(w) AS k FROM
           |        (SELECT a AS id, w FROM p UNION ALL SELECT b, w FROM p)
           |      GROUP BY id),
           |m2 AS (SELECT sum(k) AS m2 FROM k),
           |intra AS (SELECT coalesce(sum(w * 2), 0) AS iw FROM p WHERE a % 8 = b % 8),
           |kc AS (SELECT sum(kt * kt) AS kk FROM
           |         (SELECT id % 8 AS c, sum(k) AS kt FROM k GROUP BY 1))
           |SELECT round(intra.iw / m2.m2 - kc.kk / (m2.m2 * m2.m2), 6) AS modularity
           |FROM intra, kc, m2""".stripMargin)),

    (
      "q_graph_alternating_mask",
      // the reference's test-only mock algorithm (alternating_mask.rs:22)
      (s, d) => Metrics.alternatingMask(eventGraph(s, d)),
      Some(
        s"""WITH e AS ($eventEdgesSql),
           |n AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst FROM e))
           |SELECT id, row_number() OVER (ORDER BY id) % 2 = 0 AS bool_col FROM n""".stripMargin)),

    (
      "q_graph_matching",
      // max-weight matching (bipartite/max_weight_matching.rs — blossom is
      // inherently sequential; this is the deterministic locally-dominant
      // distributed counterpart) over the event graph weighted by directed
      // event multiplicity. The greedy rounds are pure comparisons (no
      // float arithmetic), so DuckDB replays them exactly as iterated CTEs.
      (s, d) => {
        val weighted = eventEdges(s, d)
          .groupBy("src", "dst")
          .agg(count(lit(1)).cast("double").as("weight"))
        graft.algos.Matching
          .locallyDominant(
            s, TemporalGraph(weighted),
            graft.algos.Matching.Config(weightCol = Some("weight"), maxRounds = 30))
          .select(col("src"), col("dst"), col("weight").cast("long").as("weight"))
      },
      Some {
        val rounds = 30
        val steps = (1 to rounds).map { k =>
          val r = s"r${k - 1}"
          s"""pk$k AS MATERIALIZED (
             |  SELECT id, first(partner ORDER BY w DESC, partner) AS pick FROM (
             |    SELECT a AS id, b AS partner, w FROM $r
             |    UNION ALL SELECT b, a, w FROM $r) GROUP BY id),
             |nm$k AS MATERIALIZED (
             |  SELECT r.a, r.b, r.w FROM $r r
             |  JOIN pk$k pa ON pa.id = r.a JOIN pk$k pb ON pb.id = r.b
             |  WHERE pa.pick = r.b AND pb.pick = r.a),
             |m$k AS MATERIALIZED (SELECT * FROM m${k - 1} UNION ALL SELECT * FROM nm$k),
             |r$k AS MATERIALIZED (
             |  SELECT * FROM $r WHERE a NOT IN (SELECT a FROM nm$k UNION ALL SELECT b FROM nm$k)
             |                     AND b NOT IN (SELECT a FROM nm$k UNION ALL SELECT b FROM nm$k))"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS ($eventEdgesSql),
           |d0 AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM e0 GROUP BY src, dst),
           |r0 AS MATERIALIZED (SELECT least(src, dst) AS a, greatest(src, dst) AS b, max(w) AS w
           |  FROM d0 WHERE src <> dst GROUP BY 1, 2),
           |m0 AS (SELECT a, b, w FROM r0 WHERE false),
           |$steps
           |SELECT a AS src, b AS dst, CAST(w AS BIGINT) AS weight FROM m$rounds""".stripMargin
      }),

    (
      "q_graph_assortativity",
      // directed out–in degree assortativity (Newman 2002) — exact integer
      // moment sums (decimal(38,0) ↔ HUGEINT), one double division at the
      // end, identical IEEE op order both engines.
      (s, d) => Metrics.degreeAssortativity(eventGraph(s, d)),
      Some(
        s"""WITH $graphBaseSql,
           |ee AS (SELECT src, dst FROM e WHERE src <> dst),
           |od AS (SELECT src, count(*) AS xd FROM ee GROUP BY src),
           |idg AS (SELECT dst, count(*) AS yd FROM ee GROUP BY dst),
           |xy AS (SELECT CAST(od.xd AS HUGEINT) AS x, CAST(idg.yd AS HUGEINT) AS y
           |       FROM ee JOIN od USING (src) JOIN idg USING (dst))
           |SELECT CAST(count(*) AS BIGINT) AS n_edges,
           |  round((CAST(count(*) AS DOUBLE) * CAST(sum(x * y) AS DOUBLE)
           |         - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
           |    / sqrt((CAST(count(*) AS DOUBLE) * CAST(sum(x * x) AS DOUBLE)
           |            - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
           |         * (CAST(count(*) AS DOUBLE) * CAST(sum(y * y) AS DOUBLE)
           |            - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE))), 6)
           |    AS assortativity
           |FROM xy""".stripMargin)),

    (
      "q_graph_link_split",
      // deterministic link-prediction edge split (ml.GraphLearn.linkSplit):
      // assignment is a pure function of (seed, src, dst) in the portable
      // hash family — stateless projection, replayed term for term.
      (s, d) => GraphLearn.linkSplit(eventEdges(s, d), 0.6, 0.2, seed = 42L)
        .select(col("src"), col("dst"), col("event_id"), col("split")),
      Some {
        val u = s"(${GraphLearn.hmixSql(42L, "src" -> GraphLearn.M1, "dst" -> GraphLearn.M2)} % 1000000)"
        s"""WITH e0 AS ($eventEdgesSql)
           |SELECT src, dst, event_id,
           |  CASE WHEN $u < 600000 THEN 'train'
           |       WHEN $u < 800000 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM e0""".stripMargin
      }),

    (
      "q_graph_negative_sample",
      // two-level hash negative sampling (ml.GraphLearn.negativeSample):
      // probe → one node bucket → in-bucket argmin, reject self/true edges.
      (s, d) => GraphLearn.negativeSample(
        eventEdges(s, d).select("src", "dst"), k = 2, nBuckets = 16, seed = 42L),
      Some {
        import GraphLearn._
        val bNode = s"(${hmixSql(42L, "id" -> M3)} % 16)"
        val bProbe = s"(${hmixSql(42L, "src" -> M1, "k_idx" -> M2)} % 16)"
        val h = hmixSql(42L, "p.src" -> M1, "p.k_idx" -> M2, "n.id" -> M4)
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0),
           |nodes AS (SELECT DISTINCT id FROM (
           |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
           |nb AS (SELECT id, $bNode AS bucket FROM nodes),
           |probes AS (SELECT src, CAST(k.range AS BIGINT) AS k_idx
           |           FROM (SELECT DISTINCT src FROM e) s, range(2) k),
           |pb AS (SELECT src, k_idx, $bProbe AS bucket FROM probes),
           |cand AS (
           |  SELECT p.src, p.k_idx, n.id AS neg_dst,
           |    row_number() OVER (PARTITION BY p.src, p.k_idx ORDER BY $h, n.id) AS rn
           |  FROM pb p JOIN nb n USING (bucket))
           |SELECT src, k_idx, neg_dst FROM cand c
           |WHERE rn = 1 AND neg_dst <> src
           |  AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = c.src AND e.dst = c.neg_dst)"""
          .stripMargin
      }),

    (
      "q_graph_neighbor_sample",
      // GraphSAGE-style 2-hop fan-out sampling (ml.GraphLearn
      // .neighborSample, fanouts [3,2]) from a 20% hash sample of nodes;
      // per-(hop, node) choices replayed by ranked windows in DuckDB.
      (s, d) => {
        val g = eventGraph(s, d)
        val seeds = g.nodes.select(col("id").as("seed"))
          .filter(GraphLearn.hmix(42L, col("id") -> GraphLearn.M1) % 1000000L < 200000L)
        GraphLearn.neighborSample(s, g, seeds, Seq(3, 2), seed = 42L)
      },
      Some {
        import GraphLearn._
        def hk(hop: Int) =
          hmixSql(42L, hop.toString -> M3, "e.src" -> M1, "e.dst" -> M2)
        s"""WITH $graphBaseSql,
           |seeds AS (SELECT id AS seed FROM nodes
           |          WHERE ${hmixSql(42L, "id" -> M1)} % 1000000 < 200000),
           |p1 AS (SELECT DISTINCT seed AS src FROM seeds),
           |r1 AS (SELECT src, dst FROM (
           |  SELECT e.src, e.dst,
           |    row_number() OVER (PARTITION BY e.src ORDER BY ${hk(1)}, e.dst) AS rn
           |  FROM e JOIN p1 USING (src)) WHERE rn <= 3),
           |b1 AS (SELECT s.seed, CAST(1 AS BIGINT) AS hop, r.src, r.dst
           |       FROM seeds s JOIN r1 r ON r.src = s.seed),
           |f2 AS (SELECT DISTINCT seed, dst AS src FROM b1),
           |p2 AS (SELECT DISTINCT src FROM f2),
           |r2 AS (SELECT src, dst FROM (
           |  SELECT e.src, e.dst,
           |    row_number() OVER (PARTITION BY e.src ORDER BY ${hk(2)}, e.dst) AS rn
           |  FROM e JOIN p2 USING (src)) WHERE rn <= 2)
           |SELECT * FROM b1
           |UNION ALL
           |SELECT f.seed, CAST(2 AS BIGINT) AS hop, r.src, r.dst
           |FROM f2 f JOIN r2 r ON r.src = f.src""".stripMargin
      }),

    (
      "q_graph_random_walks",
      // deterministic DeepWalk corpus (ml.GraphLearn.randomWalks, length 4,
      // 2 walks/node): per-step argmin-hash transition replayed as ranked
      // step CTEs over the same edge set.
      (s, d) => GraphLearn.randomWalks(s, eventGraph(s, d), length = 4, nWalks = 2, seed = 42L),
      Some {
        import GraphLearn._
        def h(k: Int) =
          hmixSql(42L, "f.start" -> M1, "f.walk" -> M2, k.toString -> M3, "e.dst" -> M4)
        def step(k: Int) =
          s"""s$k AS MATERIALIZED (
             |  SELECT start, walk, CAST($k AS BIGINT) AS step, dst AS node FROM (
             |    SELECT f.start, f.walk, e.dst,
             |      row_number() OVER (PARTITION BY f.start, f.walk ORDER BY ${h(k)}, e.dst) AS rn
             |    FROM f${k - 1} f JOIN e ON e.src = f.cur) WHERE rn = 1),
             |f$k AS (SELECT start, walk, node AS cur FROM s$k)""".stripMargin
        s"""WITH $graphBaseSql,
           |s0 AS (SELECT id AS start, CAST(w.range AS BIGINT) AS walk,
           |              CAST(0 AS BIGINT) AS step, id AS node
           |       FROM nodes, range(2) w),
           |f0 AS (SELECT start, walk, node AS cur FROM s0),
           |${(1 to 4).map(step).mkString(",\n")}
           |SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2
           |UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4""".stripMargin
      }),

    (
      "q_graph_pagerank_weighted",
      // recency-weighted PageRank: per-edge weight = Σ over the edge's
      // events of 2^(6 − clamp((T − ts) ÷ halflife, 0, 6)) — half-life
      // decay QUANTIZED to powers of two, so weights are exact integers
      // and the whole run replays (T = 2024-01-31T00:00Z, halflife 5 d);
      // the natural transcript weighting: recent interactions count more,
      // multiplicity counts. All-1 weights degenerate to q_graph_pagerank
      // (PageRankSpec proves exact degeneracy).
      (s, d) => {
        val T = 1706659200000L
        val hl = 432000000L
        val wExpr = expr(
          s"CAST(power(2, 6 - least(6, greatest(0, ($T - ts) DIV $hl))) AS BIGINT)")
        val weights = eventEdges(s, d)
          .select(col("src"), col("dst"), wExpr.as("w"))
          .groupBy("src", "dst")
          .agg(sum("w").as("w"))
        PageRank.weighted(
          s, eventGraph(s, d), weights, PageRank.Config(maxIter = 20, tol = 0.0))
          .select(col("id"), round(col("score"), 6).as("score"))
      },
      Some {
        val T = 1706659200000L
        val hl = 432000000L
        val damping = 0.85
        val iters = 20
        val head =
          s"""WITH e0 AS (SELECT user_id AS src, dst, epoch_us(ts) // 1000 AS tsm FROM (
             |  SELECT user_id, event_type, event_id, ts,
             |    lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
             |  FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
             |wts AS (SELECT src, dst,
             |          CAST(sum(CAST(power(2, 6 - least(6, greatest(0,
             |            ($T - tsm) // $hl))) AS BIGINT)) AS BIGINT) AS w
             |        FROM e0 GROUP BY src, dst),
             |nodes AS (SELECT DISTINCT id FROM (
             |  SELECT src AS id FROM wts UNION ALL SELECT dst FROM wts)),
             |ow AS (SELECT src AS id, sum(w) AS out_w FROM wts GROUP BY src),
             |deg AS (SELECT n.id, CAST(coalesce(ow.out_w, 0) AS BIGINT) AS out_w
             |        FROM nodes n LEFT JOIN ow ON n.id = ow.id),
             |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
             |s0 AS MATERIALIZED (
             |  SELECT id, out_w, 1.0 / (SELECT n FROM nn) AS score FROM deg)""".stripMargin
        val steps = (1 to iters).map { k =>
          s"""s$k AS MATERIALIZED (
             |  SELECT d.id, d.out_w,
             |    (1.0 - $damping) / (SELECT n FROM nn)
             |      + $damping * coalesce(m.msum, 0)
             |      + $damping / (SELECT n FROM nn)
             |        * (SELECT coalesce(sum(score), 0) FROM s${k - 1} WHERE out_w = 0) AS score
             |  FROM deg d LEFT JOIN (
             |    SELECT w.dst AS id, sum(p.score * w.w / p.out_w) AS msum
             |    FROM wts w JOIN s${k - 1} p ON w.src = p.id GROUP BY w.dst) m
             |  ON d.id = m.id)""".stripMargin
        }
        (head +: steps).mkString(",\n") +
          s"\nSELECT id, round(score, 6) AS score FROM s$iters"
      }),

    (
      "q_graph_mis",
      // maximal independent set (Luby 1986, FIXED hash priorities ⇒ the
      // sequential greedy MIS along ascending (h, id) — unique, exactly
      // replayable). Spark early-stops on convergence; the oracle runs
      // pinned rounds (a converged state is a fixpoint — extra rounds
      // no-op, the k-core precedent).
      (s, d) => Independent.maximalIndependentSet(s, eventGraph(s, d), seed = 42L),
      Some {
        val h = GraphLearn.hmixSql(42L, "id" -> GraphLearn.M1)
        val rounds = 24
        val steps = (0 until rounds).map { r =>
          s"""w$r AS MATERIALIZED (
             |  SELECT s.id FROM st$r s WHERE s.status = 0 AND NOT EXISTS (
             |    SELECT 1 FROM u JOIN st$r t ON u.b = t.id
             |    WHERE u.a = s.id AND t.status = 0
             |      AND (t.h < s.h OR (t.h = s.h AND t.id < s.id)))),
             |st${r + 1} AS MATERIALIZED (
             |  SELECT s.id, s.h,
             |    CASE WHEN s.status <> 0 THEN s.status
             |         WHEN EXISTS (SELECT 1 FROM w$r w WHERE w.id = s.id) THEN 1
             |         WHEN EXISTS (SELECT 1 FROM u JOIN w$r w ON u.b = w.id
             |                      WHERE u.a = s.id) THEN 2
             |         ELSE 0 END AS status
             |  FROM st$r s)""".stripMargin
        }.mkString(",\n")
        s"""WITH $graphBaseSql,
           |st0 AS MATERIALIZED (SELECT id, $h AS h, 0 AS status FROM nodes),
           |$steps
           |SELECT id, status = 1 AS in_mis FROM st$rounds""".stripMargin
      }),

    (
      "q_graph_coloring",
      // Jones–Plassmann greedy coloring with the same fixed priorities —
      // equals the sequential greedy mex coloring along ascending (h, id);
      // the mex lambda is evaluated in the IDENTICAL form on both engines
      // (filter(sequence(0, n), x -> x ∉ colors)[first]). Run on a
      // deterministically hash-THINNED edge set (keep 20%): JP's round
      // count is the priority-DAG depth, which approaches n on the dense
      // sfX event graph (avg degree ~66 at sf0.01 → ~150 rounds); density
      // affects only rounds, never colors' correctness — the full-graph
      // path is covered by IndependentSpec — and the thinned depth
      // (measured 38 at sf0.01) stays inside the 48 pinned oracle rounds.
      (s, d) => Independent.jonesPlassmann(
        s,
        graft.graph.TemporalGraph(eventEdges(s, d).filter(
          GraphLearn.hmix(
            7L, col("src") -> GraphLearn.M1, col("dst") -> GraphLearn.M2) % 10L < 2L)),
        maxRounds = 64,
        seed = 42L),
      Some {
        val h = GraphLearn.hmixSql(42L, "id" -> GraphLearn.M1)
        val thin = GraphLearn.hmixSql(7L, "src" -> GraphLearn.M1, "dst" -> GraphLearn.M2)
        val rounds = 48
        val steps = (0 until rounds).map { r =>
          s"""st${r + 1} AS MATERIALIZED (
             |  SELECT s.id, s.h,
             |    CASE WHEN s.color IS NOT NULL THEN s.color
             |         WHEN NOT EXISTS (
             |             SELECT 1 FROM u JOIN st$r t ON u.b = t.id
             |             WHERE u.a = s.id AND t.color IS NULL
             |               AND (t.h < s.h OR (t.h = s.h AND t.id < s.id)))
             |         THEN (SELECT CAST(list_filter(
             |                 range(0, coalesce(len(list(DISTINCT t.color)), 0) + 1),
             |                 x -> NOT list_contains(
             |                        coalesce(list(DISTINCT t.color), []), x))[1]
             |               AS BIGINT)
             |               FROM u JOIN st$r t ON u.b = t.id
             |               WHERE u.a = s.id AND t.color IS NOT NULL)
             |         ELSE NULL END AS color
             |  FROM st$r s)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS ($eventEdgesSql),
           |e AS (SELECT DISTINCT src, dst FROM e0 WHERE $thin % 10 < 2),
           |u AS (SELECT DISTINCT a, b FROM (
           |  SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e)),
           |nodes AS (SELECT DISTINCT id FROM (
           |  SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
           |st0 AS MATERIALIZED (
           |  SELECT id, $h AS h, CAST(NULL AS BIGINT) AS color FROM nodes),
           |$steps
           |SELECT id, color FROM st$rounds""".stripMargin
      }),

    (
      "q_graph_pagerank_windowed",
      // centrality EVOLUTION: PageRank per rolling window — the
      // reference's signature composition (WindowSet → algorithm,
      // raphtory/src/db/api/view/time.rs + centrality/pagerank.rs): three
      // fixed 10-day tumbling windows over the Jan-2024 event span, each
      // replayed by the windowed-base PageRank CTE ladder. Windowing
      // filters EDGE timestamps (edges are built from the full event
      // sequence first, then the view narrows), matching
      // TemporalGraph.window semantics.
      (s, d) => {
        val g = eventGraph(s, d)
        val w0 = 1704067200000L // 2024-01-01T00:00:00Z
        val step = 864000000L   // 10 days
        (0 until 3).map { k =>
          val lo = w0 + k * step
          PageRank.run(s, g.window(lo, lo + step), PageRank.Config(maxIter = 10, tol = 0.0))
            .select(lit(lo).as("w_start"), col("id"), round(col("score"), 6).as("score"))
        }.reduce(_ unionByName _)
      },
      Some {
        def windowedBase(lo: Long, hi: Long) =
          s"""e0 AS (SELECT user_id AS src, dst, epoch_us(ts) // 1000 AS tsm FROM (
             |  SELECT user_id, event_type, event_id, ts,
             |    lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
             |  FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
             |e AS (SELECT DISTINCT src, dst FROM e0 WHERE tsm >= $lo AND tsm < $hi),
             |nodes AS (SELECT DISTINCT id FROM (
             |  SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e))""".stripMargin
        val w0 = 1704067200000L
        val step = 864000000L
        (0 until 3).map { k =>
          val lo = w0 + k * step
          val inner = pageRankOracleSqlOver(windowedBase(lo, lo + step), iters = 10, damping = 0.85)
          s"SELECT CAST($lo AS BIGINT) AS w_start, id, score FROM (\n$inner\n)"
        }.mkString("\nUNION ALL\n")
      }),

    (
      "q_graph_conductance",
      // per-community conductance (Kannan–Vempala–Vetta 2004) of a
      // deterministic 4-way hash partition — the community-quality
      // evaluation metric paired with Louvain/LPA; hash labels make the
      // partition itself replayable (a heuristic partition would not be).
      (s, d) => {
        val g = eventGraph(s, d)
        val labels = g.nodes.select(
          col("id"),
          (GraphLearn.hmix(7L, col("id") -> GraphLearn.M1) % 4L).as("label"))
        Metrics.conductance(g, labels)
      },
      Some {
        val h = GraphLearn.hmixSql(7L, "id" -> GraphLearn.M1)
        s"""WITH $graphBaseSql,
           |lab AS (SELECT id, $h % 4 AS label FROM nodes),
           |ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |       FROM e WHERE src <> dst),
           |el AS (SELECT la.label AS la, lb.label AS lb
           |       FROM ce JOIN lab la ON ce.a = la.id JOIN lab lb ON ce.b = lb.id),
           |cut AS (SELECT label, count(*) AS cut_edges FROM (
           |  SELECT la AS label FROM el WHERE la <> lb
           |  UNION ALL SELECT lb FROM el WHERE la <> lb) GROUP BY label),
           |deg AS (SELECT node, count(*) AS deg FROM (
           |  SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) GROUP BY node),
           |vol AS (SELECT l.label, count(*) AS n_nodes,
           |               CAST(coalesce(sum(d.deg), 0) AS BIGINT) AS volume
           |        FROM lab l LEFT JOIN deg d ON l.id = d.node GROUP BY l.label),
           |m2 AS (SELECT CAST(coalesce(sum(deg), 0) AS BIGINT) AS m2 FROM deg)
           |SELECT v.label, v.n_nodes, v.volume,
           |  CAST(coalesce(c.cut_edges, 0) AS BIGINT) AS cut_edges,
           |  round(CASE WHEN least(v.volume, m2.m2 - v.volume) > 0
           |        THEN CAST(coalesce(c.cut_edges, 0) AS DOUBLE)
           |             / least(v.volume, m2.m2 - v.volume)
           |        ELSE 0.0 END, 6) AS conductance
           |FROM vol v LEFT JOIN cut c ON v.label = c.label, m2""".stripMargin
      }),

    (
      "q_graph_node2vec_walks",
      // node2vec 2nd-order biased corpus (ml.GraphLearn.node2vecWalks,
      // length 3, weights return=2/inner=1/outer=4): the integer-replica
      // weighted argmin replays as ranked CTEs — candidates join a replica
      // range bounded by their CASE weight, prev-adjacency via EXISTS on
      // the undirected pair set (Spark uses a sorted neighbour array; the
      // membership predicate is identical).
      (s, d) => GraphLearn.node2vecWalks(
        s, eventGraph(s, d), length = 3, nWalks = 1,
        wReturn = 2, wInner = 1, wOuter = 4, seed = 42L),
      Some {
        import GraphLearn._
        def h(k: Int) = hmixSql(
          42L, "cand.start" -> M1, "cand.walk" -> M2, k.toString -> M3,
          "cand.c" -> M4, "r.range" -> M5)
        def step(k: Int) =
          s"""c$k AS MATERIALIZED (
             |  SELECT f.start, f.walk, f.cur, e.dst AS c,
             |    CASE WHEN f.prev IS NULL THEN 1
             |         WHEN e.dst = f.prev THEN 2
             |         WHEN EXISTS (SELECT 1 FROM u
             |                      WHERE u.a = f.prev AND u.b = e.dst) THEN 1
             |         ELSE 4 END AS w
             |  FROM f${k - 1} f JOIN e ON e.src = f.cur),
             |s$k AS MATERIALIZED (
             |  SELECT start, walk, CAST($k AS BIGINT) AS step, c AS node,
             |         cur AS prev FROM (
             |    SELECT cand.start, cand.walk, cand.cur, cand.c,
             |      row_number() OVER (PARTITION BY cand.start, cand.walk
             |                         ORDER BY ${h(k)}, cand.c) AS rn
             |    FROM c$k cand JOIN range(16) r ON r.range < cand.w)
             |  WHERE rn = 1),
             |f$k AS (SELECT start, walk, node AS cur, prev FROM s$k)""".stripMargin
        s"""WITH $graphBaseSql,
           |s0 AS (SELECT id AS start, CAST(0 AS BIGINT) AS walk,
           |              CAST(0 AS BIGINT) AS step, id AS node,
           |              CAST(NULL AS BIGINT) AS prev FROM nodes),
           |f0 AS (SELECT start, walk, node AS cur, prev FROM s0),
           |${(1 to 3).map(step).mkString(",\n")}
           |SELECT start, walk, step, node FROM (
           |  SELECT * FROM s0 UNION ALL SELECT * FROM s1
           |  UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)""".stripMargin
      }),

    (
      "q_graph_ktruss",
      // 32-truss decomposition (Cohen 2008): recount-and-peel to fixpoint;
      // the oracle replays PINNED rounds (a converged truss is a fixpoint
      // of recount+filter, so extra SQL rounds are no-ops — the k-core
      // oracle precedent). k = 32 sits inside the event graph's support
      // range at sf0.01 (min 29, median 50) so peeling genuinely removes
      // and recounts; cascade behaviour is covered by TrussSpec fixtures.
      // Output = surviving canonical edges + final within-truss support.
      (s, d) => graft.algos.Truss.run(s, eventGraph(s, d), k = 32),
      Some {
        val rounds = 8
        val steps = (0 until rounds).map { r =>
          s"""u$r AS MATERIALIZED (
             |  SELECT a AS node, b AS nbr FROM t$r UNION ALL SELECT b, a FROM t$r),
             |sup$r AS MATERIALIZED (
             |  SELECT x.node AS a, y.node AS b, count(*) AS sup
             |  FROM u$r x JOIN u$r y ON x.nbr = y.nbr AND x.node < y.node
             |  GROUP BY x.node, y.node),
             |t${r + 1} AS MATERIALIZED (
             |  SELECT t.a, t.b FROM t$r t
             |  JOIN sup$r s ON s.a = t.a AND s.b = t.b WHERE s.sup >= 30)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS ($eventEdgesSql),
           |t0 AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e0 WHERE src <> dst),
           |$steps,
           |uF AS (SELECT a AS node, b AS nbr FROM t$rounds
           |       UNION ALL SELECT b, a FROM t$rounds),
           |supF AS (SELECT x.node AS a, y.node AS b, count(*) AS sup
           |         FROM uF x JOIN uF y ON x.nbr = y.nbr AND x.node < y.node
           |         GROUP BY x.node, y.node)
           |SELECT t.a, t.b, CAST(coalesce(s.sup, 0) AS BIGINT) AS support
           |FROM t$rounds t LEFT JOIN supF s ON s.a = t.a AND s.b = t.b""".stripMargin
      }),

    (
      "q_graph_reach_registers",
      // HyperBall (Boldi–Vigna 2013) sparse HLL registers of every node's
      // 3-hop out-ball — integer-exact state, replayed as iterated
      // union+max CTEs over the same portable hash.
      (s, d) => graft.algos.Reach.registers(s, eventGraph(s, d), iters = 3),
      Some(reachRegistersSql(iters = 3))),

    (
      "q_graph_reach_estimate",
      // per-node ball-size estimate from the registers: HLL raw estimate
      // over an exact-integer denominator + linear-counting small-range
      // correction — a pure per-node function, no cross-node float sums.
      (s, d) => graft.algos.Reach.estimate(
        graft.algos.Reach.registers(s, eventGraph(s, d), iters = 3)),
      Some {
        val c = 0.673 * 256.0 * 134217728.0
        s"""WITH ${reachRegistersCtes(iters = 3)},
           |agg AS (SELECT id, count(*) AS np,
           |               sum(CAST(power(2, 27 - rho) AS BIGINT)) AS ps
           |        FROM r3 GROUP BY id),
           |pre AS (SELECT id, (16 - np) AS v0,
           |               $c / CAST((16 - np) * 134217728 + ps AS DOUBLE) AS raw
           |        FROM agg)
           |SELECT id,
           |  round(CASE WHEN raw <= ${2.5 * 16} AND v0 > 0
           |             THEN 16.0 * ln(16.0 / CAST(v0 AS DOUBLE))
           |             ELSE raw END, 6) AS ball_est
           |FROM pre""".stripMargin
      }),

    (
      "q_graph_harmonic",
      // HyperBall's headline application (Boldi–Vigna 2013 §5): harmonic +
      // closeness centrality from the per-step ball estimates. Per-step
      // estimates stay UNROUNDED on both sides (both engines derive the
      // same doubles from exact-integer register denominators — see
      // Reach.ballSeries: rounding per step would let the two engines'
      // round() pick adjacent doubles at a boundary and amplify the gap
      // through the fold); folds are explicit left-to-right chains and
      // rounding happens once, on the outputs.
      (s, d) => graft.algos.Reach.harmonicCloseness(s, eventGraph(s, d), iters = 3),
      Some(harmonicOracleSql(iters = 3))),

    (
      "q_graph_eff_diameter",
      // integer 90% effective diameter from the neighbourhood function
      // N(t) = Σ_v |B(v,t)| (the interpolated fractional form would divide
      // by near-zero late-step increments — noise past oracle rounding)
      (s, d) => graft.algos.Reach.effectiveDiameter(s, eventGraph(s, d), iters = 3, q = 0.9),
      Some(effDiameterOracleSql(iters = 3, q = 0.9))),

    (
      "q_graph_link_features",
      // the composed link-prediction table: test-split positives ∪ hash
      // negatives, joined with Liben-Nowell/Kleinberg topological features
      // (common neighbours, Jaccard, Adamic–Adar, preferential attachment)
      // in one plan. AA's float fold runs over the SORTED intersection, so
      // DuckDB replays the sum bit-for-bit (fixed order + 6dp round).
      (s, d) => {
        val g = eventGraph(s, d)
        val e = g.simpleEdges
        val posTest = GraphLearn.linkSplit(e, 0.6, 0.2, seed = 42L)
          .filter(col("split") === "test")
          .select(col("src"), col("dst"))
          .withColumn("label", lit(1L))
        val negs = GraphLearn.negativeSample(e, k = 1, nBuckets = 16, seed = 42L)
          .select(col("src"), col("neg_dst").as("dst"))
          .withColumn("label", lit(0L))
        GraphLearn.linkFeatures(s, g, posTest.unionByName(negs))
          .select("src", "dst", "label", "cn", "jaccard", "aa", "pa")
      },
      Some {
        import GraphLearn._
        val u = s"(${hmixSql(42L, "src" -> M1, "dst" -> M2)} % 1000000)"
        val bNode = s"(${hmixSql(42L, "id" -> M3)} % 16)"
        val bProbe = s"(${hmixSql(42L, "src" -> M1, "0" -> M2)} % 16)"
        val hNeg = hmixSql(42L, "p.src" -> M1, "0" -> M2, "n.id" -> M4)
        s"""WITH $graphBaseSql,
           |split_test AS (SELECT src, dst, CAST(1 AS BIGINT) AS label FROM e
           |               WHERE $u >= 800000),
           |nb2 AS (SELECT id, $bNode AS bucket FROM nodes),
           |pb AS (SELECT src, $bProbe AS bucket FROM (SELECT DISTINCT src FROM e)),
           |negc AS (
           |  SELECT p.src, n.id AS dst,
           |    row_number() OVER (PARTITION BY p.src ORDER BY $hNeg, n.id) AS rn
           |  FROM pb p JOIN nb2 n USING (bucket)),
           |negs AS (SELECT src, dst, CAST(0 AS BIGINT) AS label FROM negc c
           |         WHERE rn = 1 AND dst <> src
           |           AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = c.src AND e.dst = c.dst)),
           |cand AS (SELECT * FROM split_test UNION ALL SELECT * FROM negs),
           |und AS (SELECT a AS node, b AS nbr FROM u WHERE a <> b),
           |degt AS (SELECT node, count(*) AS deg FROM und GROUP BY node),
           |narr AS (SELECT node, list(nbr ORDER BY nbr) AS nl,
           |                list(nbr_deg ORDER BY nbr) AS dl FROM (
           |  SELECT und.node, und.nbr, d.deg AS nbr_deg
           |  FROM und JOIN degt d ON d.node = und.nbr) GROUP BY node),
           |f AS (
           |  SELECT c.src, c.dst, c.label,
           |    coalesce(na.nl, CAST([] AS BIGINT[])) AS anl,
           |    coalesce(na.dl, CAST([] AS BIGINT[])) AS adl,
           |    coalesce(nb.nl, CAST([] AS BIGINT[])) AS bnl
           |  FROM cand c
           |  LEFT JOIN narr na ON na.node = c.src
           |  LEFT JOIN narr nb ON nb.node = c.dst),
           |g2 AS (
           |  SELECT src, dst, label, len(anl) AS da, len(bnl) AS db,
           |    list_filter(list_zip(anl, adl), x -> list_contains(bnl, x[1])) AS cnz
           |  FROM f)
           |SELECT src, dst, label,
           |  CAST(len(cnz) AS BIGINT) AS cn,
           |  CASE WHEN da + db - len(cnz) > 0
           |       THEN round(CAST(len(cnz) AS DOUBLE) / CAST(da + db - len(cnz) AS DOUBLE), 6)
           |       ELSE 0.0 END AS jaccard,
           |  CASE WHEN len(cnz) = 0 THEN 0.0
           |       ELSE round(list_reduce(
           |              list_transform(cnz, x -> 1.0 / ln(CAST(x[2] AS DOUBLE))),
           |              (a, b) -> a + b), 6) END AS aa,
           |  CAST(da AS BIGINT) * CAST(db AS BIGINT) AS pa
           |FROM g2""".stripMargin
      }),

    (
      "q_graph_temporal_walks",
      // time-respecting walk corpus (CTDNE): eligible transitions are edge
      // EVENTS strictly later than the walker's clock; replayed per step
      // with the eligibility predicate in the join condition.
      (s, d) => GraphLearn.temporalWalks(
        s, eventGraph(s, d), length = 3, nWalks = 1, seed = 42L, startTs = 0L),
      Some {
        import GraphLearn._
        def h(k: Int) = hmixSql(
          42L, "f.start" -> M1, "f.walk" -> M2, k.toString -> M3,
          "e.dst" -> M4, "e.tms" -> M5)
        def step(k: Int) =
          s"""s$k AS MATERIALIZED (
             |  SELECT start, walk, CAST($k AS BIGINT) AS step, dst AS node, tms AS ts FROM (
             |    SELECT f.start, f.walk, e.dst, e.tms,
             |      row_number() OVER (PARTITION BY f.start, f.walk
             |                         ORDER BY ${h(k)}, e.dst, e.tms) AS rn
             |    FROM f${k - 1} f JOIN ev e ON e.src = f.cur AND e.tms > f.t)
             |  WHERE rn = 1),
             |f$k AS (SELECT start, walk, node AS cur, ts AS t FROM s$k)""".stripMargin
        s"""WITH e0t AS (
           |  SELECT user_id AS src, dst, tms FROM (
           |    SELECT user_id, epoch_us(ts)//1000 AS tms,
           |           lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |ev AS (SELECT DISTINCT src, dst, tms FROM e0t),
           |nodes AS (SELECT DISTINCT id FROM (
           |  SELECT src AS id FROM ev UNION ALL SELECT dst FROM ev)),
           |s0 AS (SELECT id AS start, CAST(0 AS BIGINT) AS walk,
           |              CAST(0 AS BIGINT) AS step, id AS node, CAST(0 AS BIGINT) AS ts
           |       FROM nodes),
           |f0 AS (SELECT start, walk, node AS cur, ts AS t FROM s0),
           |${(1 to 3).map(step).mkString(",\n")}
           |SELECT * FROM s0 UNION ALL SELECT * FROM s1
           |UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3""".stripMargin
      }),

    (
      "q_graph_skipgram_pairs",
      // skip-gram (center, context) pairs over the deterministic walk
      // corpus — the full DeepWalk input pipeline in one plan; oracle
      // replays the walks then the ±2 lead projections.
      (s, d) => GraphLearn.skipGramPairs(
        GraphLearn.randomWalks(s, eventGraph(s, d), length = 4, nWalks = 2, seed = 42L),
        window = 2),
      Some {
        import GraphLearn._
        def h(k: Int) =
          hmixSql(42L, "f.start" -> M1, "f.walk" -> M2, k.toString -> M3, "e.dst" -> M4)
        def step(k: Int) =
          s"""s$k AS MATERIALIZED (
             |  SELECT start, walk, CAST($k AS BIGINT) AS step, dst AS node FROM (
             |    SELECT f.start, f.walk, e.dst,
             |      row_number() OVER (PARTITION BY f.start, f.walk ORDER BY ${h(k)}, e.dst) AS rn
             |    FROM f${k - 1} f JOIN e ON e.src = f.cur) WHERE rn = 1),
             |f$k AS (SELECT start, walk, node AS cur FROM s$k)""".stripMargin
        s"""WITH $graphBaseSql,
           |s0 AS (SELECT id AS start, CAST(w.range AS BIGINT) AS walk,
           |              CAST(0 AS BIGINT) AS step, id AS node
           |       FROM nodes, range(2) w),
           |f0 AS (SELECT start, walk, node AS cur FROM s0),
           |${(1 to 4).map(step).mkString(",\n")},
           |walks AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2
           |          UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4),
           |led AS (SELECT start, walk, step, node,
           |  lead(node, 1) OVER (PARTITION BY start, walk ORDER BY step) AS l1,
           |  lead(node, 2) OVER (PARTITION BY start, walk ORDER BY step) AS l2
           |  FROM walks)
           |SELECT start, walk, step, CAST(1 AS BIGINT) AS offset,
           |       node AS center, l1 AS context FROM led WHERE l1 IS NOT NULL
           |UNION ALL
           |SELECT start, walk, step + 1, CAST(-1 AS BIGINT), l1, node
           |FROM led WHERE l1 IS NOT NULL
           |UNION ALL
           |SELECT start, walk, step, CAST(2 AS BIGINT), node, l2
           |FROM led WHERE l2 IS NOT NULL
           |UNION ALL
           |SELECT start, walk, step + 2, CAST(-2 AS BIGINT), l2, node
           |FROM led WHERE l2 IS NOT NULL""".stripMargin
      }),

    (
      "q_graph_layout",
      // Fruchterman–Reingold layout (layout/fruchterman_reingold.rs),
      // FULL-REPLAY oracle (upgraded from rows-only in r4): the exact
      // all-pairs mode on a ≤20-node events subgraph, 2 iterations,
      // portable LCG init — deterministic hash-seeded arithmetic whose
      // every float op (sqrt/±/×/÷) is IEEE-exact in both engines; 6dp
      // rounding absorbs sum-order noise (the FastRP recipe). The grid
      // (Barnes–Hut) scale path is covered by LayoutSpec's exact-vs-grid
      // model-parity tests.
      (s, d) => {
        val sub = eventEdges(s, d).filter(col("src") < 20 && col("dst") < 20)
        graft.algos.Layout
          .fruchtermanReingold(
            s, TemporalGraph(sub),
            graft.algos.Layout.Config(iterations = 2, exact = true, portable = true))
          .select(
            col("id"),
            (round(col("x"), 6) + lit(0.0)).as("x"),
            (round(col("y"), 6) + lit(0.0)).as("y"))
      },
      Some(layoutOracleSql(iters = 2))),

    (
      "q_vector_search",
      // end-to-end graph semantic search (vectors/vectorised_graph.rs):
      // vectorise event-graph nodes (template → portable hash embedding)
      // and rank by cosine to a text query. Every float op is IEEE-exact
      // and evaluated in the same left-fold order on both sides, so the
      // scores — and therefore the top-k membership — are bit-identical.
      (s, d) => {
        import graft.vectors.{HashEmbedder, Vectorise}
        val vg = Vectorise(eventGraph(s, d), HashEmbedder(dim = 8, seed = 42L, portable = true))
        vg.nodesBySimilarity("node 7 events 5", limit = 20).nodes
          .select(col("id"), round(col("score"), 6).as("score"))
      },
      Some {
        val emb = graft.vectors.HashEmbedder(dim = 8, seed = 42L, portable = true)
        def fold0(body: String) =
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $body), (a, x) -> a + x)"
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, epoch_us(ts) // 1000 AS tsm FROM (
           |    SELECT user_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |nr AS (SELECT id, count(*) AS n, min(tsm) AS e, max(tsm) AS l FROM
           |  (SELECT src AS id, tsm FROM e0 UNION ALL SELECT dst, tsm FROM e0) GROUP BY id),
           |docs AS (SELECT id, 'node ' || CAST(id AS VARCHAR) || ' events ' || CAST(n AS VARCHAR)
           |  || ' span ' || CAST(e AS VARCHAR) || ' ' || CAST(l AS VARCHAR) AS doc FROM nr),
           |de AS (SELECT id, ${emb.duckDbSql("doc")} AS emb FROM docs),
           |qv AS (SELECT ${emb.duckDbSql("'node 7 events 5'")} AS qe),
           |sc AS (SELECT id,
           |  ${fold0("list_transform(range(0, 8), di -> emb[di + 1] * qe[di + 1])")}
           |  / (sqrt(${fold0("list_transform(emb, v -> v * v)")})
           |     * sqrt(${fold0("list_transform(qe, v -> v * v)")})) AS score
           |  FROM de CROSS JOIN qv)
           |SELECT id, round(score, 6) AS score FROM sc ORDER BY score DESC, id LIMIT 20""".stripMargin
      }),

    // ---- dedup / similarity over documents + embeddings ----
    (
      "q_dedup_minhash_lsh",
      // full MinHash+LSH pipeline under the portable polynomial hash
      // family, so DuckDB replays shingling → signatures → banding →
      // bucket join → jaccard-estimate verify END TO END (xxhash64 stays
      // the default family for production use; MlSpec covers its recall)
      (s, d) => Dedup.minHashLsh(t(s, d, "documents"), threshold = 0.4, portable = true),
      Some(s"WITH $minHashCtesSql\n$minHashPairsSql")),
    (
      "q_dedup_clusters",
      // corpus dedup clustering — the "keep one copy" pipeline stage: LSH
      // candidate pairs → connected components over the pair graph →
      // deterministic representative (longest text, then smallest id).
      // DuckDB replays the whole thing: pair pipeline (portable hash
      // family) + recursive min-label closure + the same window rule.
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.dupClusters(
          docs,
          Dedup.minHashLsh(docs, threshold = 0.4, portable = true).select("a", "b"))
      },
      Some(
        s"""WITH RECURSIVE $minHashCtesSql,
           |pr AS MATERIALIZED (SELECT a, b FROM ($minHashPairsSql)),
           |ud AS MATERIALIZED (SELECT a, b FROM (
           |  SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr)),
           |r(id, m) AS (
           |  SELECT a, b FROM ud
           |  UNION
           |  SELECT r.id, ud.b FROM r JOIN ud ON ud.a = r.m),
           |comp AS (SELECT id, least(id, min(m)) AS cluster FROM r GROUP BY id),
           |lab AS (
           |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster,
           |         length(d.text) AS len
           |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
           |SELECT doc_id, cluster,
           |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_n,
           |  (row_number() OVER (PARTITION BY cluster ORDER BY len DESC, doc_id) = 1) AS keep
           |FROM lab""".stripMargin)),
    (
      "q_dedup_simhash",
      // portable 63-bit SimHash + pigeonhole segment buckets, replayed by
      // DuckDB bit for bit
      (s, d) => Dedup.simHashPairs(t(s, d, "documents"), maxHamming = 8, portable = true),
      Some {
        val segCase = Dedup.simHashSegments(8)
          .map { case (i, start, mask) => s"WHEN $i THEN (simhash >> $start) & $mask" }
          .mkString(" ")
        s"""WITH th AS (
           |  SELECT doc_id, list_transform(regexp_split_to_array(text, '\\s+'),
           |    tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           |             list_transform(string_split(tok, ''), c -> CAST(ascii(c) % 65536 AS BIGINT))),
           |           (acc, c) -> (acc * 31 + c) % ${Dedup.PolyP})) AS th
           |  FROM documents),
           |sv AS (
           |  SELECT doc_id, list_sum(list_transform(range(0, 63), bit ->
           |    CASE WHEN list_sum(list_transform(th, h ->
           |        CASE WHEN ((h * (2 * bit + 17) + 7919) % ${Dedup.PolyP}) % 2 = 1
           |          THEN 1 ELSE -1 END)) > 0
           |      THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END)) AS simhash
           |  FROM th),
           |seg AS (
           |  SELECT doc_id, simhash, t.q AS q,
           |    CASE t.q $segCase END AS qh
           |  FROM sv, range(0, 9) t(q))
           |SELECT l.doc_id AS a, r.doc_id AS b,
           |  min(bit_count(xor(l.simhash, r.simhash))) AS hamming
           |FROM seg l JOIN seg r ON l.q = r.q AND l.qh = r.qh AND l.doc_id < r.doc_id
           |WHERE bit_count(xor(l.simhash, r.simhash)) <= 8
           |GROUP BY l.doc_id, r.doc_id""".stripMargin
      }),
    (
      "q_dedup_substring",
      // exact duplicated-substring spans (Lee et al. 2021 analog): 8-token
      // window census → ≥2-distinct-doc window hashes → per-doc maximal
      // consecutive-window spans; DuckDB replays the portable rolling hash
      // and the gaps-and-islands merge end to end
      (s, d) => Dedup.duplicateSpans(
        t(s, d, "documents"), minTokens = 8, minDocs = 2, portable = true),
      Some(
        s"""WITH th AS (
           |  SELECT doc_id, list_transform(regexp_split_to_array(text, '\\s+'),
           |    tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           |             list_transform(string_split(tok, ''), c -> CAST(ascii(c) % 65536 AS BIGINT))),
           |           (acc, c) -> (acc * 31 + c) % ${Dedup.PolyP})) AS th
           |  FROM documents),
           |pos AS (
           |  SELECT doc_id, th, unnest(range(0, greatest(len(th) - 7, 0))) AS i FROM th),
           |w AS (
           |  SELECT doc_id, i AS pos,
           |    list_reduce(list_prepend(CAST(7 AS BIGINT), th[CAST(i AS INT) + 1 : CAST(i AS INT) + 8]),
           |      (acc, x) -> (acc * 31 + x) % ${Dedup.PolyP}) * ${Dedup.PolyBandP}
           |    + list_reduce(list_prepend(CAST(11 AS BIGINT), th[CAST(i AS INT) + 1 : CAST(i AS INT) + 8]),
           |      (acc, x) -> (acc * 37 + x) % ${Dedup.PolyBandP}) AS wh
           |  FROM pos),
           |dup AS (SELECT wh FROM w GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
           |hits AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (wh)),
           |isl AS (
           |  SELECT doc_id, pos,
           |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
           |      THEN 0 ELSE 1 END AS ns
           |  FROM hits),
           |isl2 AS (
           |  SELECT doc_id, pos,
           |    sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl)
           |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           |  CAST(count(*) + 7 AS BIGINT) AS span_len,
           |  CAST(count(*) AS BIGINT) AS n_windows
           |FROM isl2 GROUP BY doc_id, island""".stripMargin)),
    (
      "q_dedup_substring_clean",
      // the action stage: group equal-content spans, keep the first
      // occurrence, cut the rest from the token stream — DuckDB replays
      // census → spans → content grouping → canonical → token filter
      (s, d) => Dedup.removeDuplicateSpans(
        t(s, d, "documents"), minTokens = 8, minDocs = 2, portable = true),
      Some(
        s"""WITH th AS (
           |  SELECT doc_id, list_transform(regexp_split_to_array(text, '\\s+'),
           |    tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           |             list_transform(string_split(tok, ''), c -> CAST(ascii(c) % 65536 AS BIGINT))),
           |           (acc, c) -> (acc * 31 + c) % ${Dedup.PolyP})) AS th
           |  FROM documents),
           |pos AS (
           |  SELECT doc_id, th, unnest(range(0, greatest(len(th) - 7, 0))) AS i FROM th),
           |w AS (
           |  SELECT doc_id, i AS pos,
           |    list_reduce(list_prepend(CAST(7 AS BIGINT), th[CAST(i AS INT) + 1 : CAST(i AS INT) + 8]),
           |      (acc, x) -> (acc * 31 + x) % ${Dedup.PolyP}) * ${Dedup.PolyBandP}
           |    + list_reduce(list_prepend(CAST(11 AS BIGINT), th[CAST(i AS INT) + 1 : CAST(i AS INT) + 8]),
           |      (acc, x) -> (acc * 37 + x) % ${Dedup.PolyBandP}) AS wh
           |  FROM pos),
           |dup AS (SELECT wh FROM w GROUP BY wh HAVING count(*) >= 2 AND count(DISTINCT doc_id) >= 2),
           |hits AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (wh)),
           |isl AS (
           |  SELECT doc_id, pos,
           |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
           |      THEN 0 ELSE 1 END AS ns
           |  FROM hits),
           |isl2 AS (
           |  SELECT doc_id, pos,
           |    sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
           |spans AS (
           |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           |    CAST(count(*) + 7 AS BIGINT) AS span_len
           |  FROM isl2 GROUP BY doc_id, island),
           |content AS (
           |  SELECT s.doc_id, s.span_start, s.span_len,
           |    list_reduce(list_prepend(CAST(7 AS BIGINT),
           |        t.th[CAST(s.span_start AS INT) + 1 : CAST(s.span_start + s.span_len AS INT)]),
           |      (acc, x) -> (acc * 31 + x) % ${Dedup.PolyP}) * ${Dedup.PolyBandP}
           |    + list_reduce(list_prepend(CAST(11 AS BIGINT),
           |        t.th[CAST(s.span_start AS INT) + 1 : CAST(s.span_start + s.span_len AS INT)]),
           |      (acc, x) -> (acc * 37 + x) % ${Dedup.PolyBandP}) AS ch
           |  FROM spans s JOIN th t USING (doc_id)),
           |rm AS (
           |  SELECT doc_id, span_start, span_len FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY ch, span_len ORDER BY doc_id, span_start) AS rn
           |    FROM content) WHERE rn > 1),
           |cov AS (SELECT doc_id, unnest(range(span_start, span_start + span_len)) AS p FROM rm),
           |covl AS (SELECT doc_id, list(p) AS cov FROM cov GROUP BY doc_id),
           |rsum AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS removed_tokens
           |         FROM rm GROUP BY doc_id),
           |tok AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk FROM documents)
           |SELECT d.doc_id,
           |  CASE WHEN c.cov IS NULL THEN array_to_string(d.tk, ' ')
           |       -- array_to_string([]) is NULL in DuckDB but '' in Spark
           |       ELSE coalesce(array_to_string(list_transform(
           |         list_filter(range(0, len(d.tk)), i -> NOT list_contains(c.cov, i)),
           |         i -> d.tk[CAST(i AS INT) + 1]), ' '), '') END AS clean_text,
           |  coalesce(r.removed_tokens, 0) AS removed_tokens
           |FROM tok d LEFT JOIN covl c USING (doc_id) LEFT JOIN rsum r USING (doc_id)""".stripMargin)),
    (
      "q_dedup_substring_stats",
      // census-size accounting for the substring-dedup exchange (the
      // library's largest shuffle at scale): windows in, distinct/dup
      // hashes, shuffle-row/byte estimates — DuckDB replays the census
      (s, d) => Dedup.duplicateSpansStats(
        t(s, d, "documents"), minTokens = 8, minDocs = 2, portable = true),
      Some(
        s"""WITH th AS (
           |  SELECT doc_id, list_transform(regexp_split_to_array(text, '\\s+'),
           |    tok -> list_reduce(list_prepend(CAST(0 AS BIGINT),
           |             list_transform(string_split(tok, ''), c -> CAST(ascii(c) % 65536 AS BIGINT))),
           |           (acc, c) -> (acc * 31 + c) % ${Dedup.PolyP})) AS th
           |  FROM documents),
           |pos AS (
           |  SELECT doc_id, th, unnest(range(0, greatest(len(th) - 7, 0))) AS i FROM th),
           |w AS (
           |  SELECT doc_id, i AS pos,
           |    list_reduce(list_prepend(CAST(7 AS BIGINT), th[CAST(i AS INT) + 1 : CAST(i AS INT) + 8]),
           |      (acc, x) -> (acc * 31 + x) % ${Dedup.PolyP}) * ${Dedup.PolyBandP}
           |    + list_reduce(list_prepend(CAST(11 AS BIGINT), th[CAST(i AS INT) + 1 : CAST(i AS INT) + 8]),
           |      (acc, x) -> (acc * 37 + x) % ${Dedup.PolyBandP}) AS wh
           |  FROM pos),
           |census AS (
           |  SELECT wh, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
           |  FROM w GROUP BY wh)
           |SELECT CAST(sum(n_occ) AS BIGINT) AS n_windows,
           |  CAST(count(*) AS BIGINT) AS n_distinct_hashes,
           |  CAST(sum(CASE WHEN n_occ >= 2 AND n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_hashes,
           |  CAST(sum(CASE WHEN n_occ >= 2 AND n_docs >= 2 THEN n_occ ELSE 0 END) AS BIGINT) AS n_dup_windows,
           |  CAST(sum(n_occ) AS BIGINT) AS census_shuffle_rows,
           |  CAST(sum(n_occ) * 24 AS BIGINT) AS census_shuffle_bytes_est
           |FROM census""".stripMargin)),
    (
      "q_dedup_ngram_jaccard",
      // jaccard over adjacent-id candidate pairs (deterministic sample)
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = docs.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
          .join(docs.select(col("doc_id").as("b")), Seq("b"), "left_semi")
        Dedup.ngramJaccard(docs, pairs)
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM documents),
          |sh AS (
          |  SELECT doc_id, list_distinct(
          |    list_transform(range(1, greatest(len(tk) - 3, 0) + 2),
          |      i -> array_to_string(tk[i:i+2], ' '))) AS s
          |  FROM tok)
          |SELECT l.doc_id AS a, r.doc_id AS b,
          |  round(len(list_intersect(l.s, r.s)) * 1.0 /
          |        greatest(len(list_distinct(list_concat(l.s, r.s))), 1), 6) AS jaccard
          |FROM sh l JOIN sh r ON r.doc_id = l.doc_id + 1""".stripMargin)),
    (
      "q_sim_cosine_topk",
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 3), k = 5)
      },
      Some(
        """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
          |scored AS (
          |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
          |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(q.embedding,
          |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(c.embedding,
          |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
          |  FROM q, embeddings c WHERE q.vec_id <> c.vec_id),
          |ranked AS (SELECT query_id, neighbor_id, cos,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY cos DESC, neighbor_id) AS rank
          |  FROM scored)
          |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
          |FROM ranked WHERE rank <= 5""".stripMargin)),
    (
      "q_sim_lsh_topk",
      // LSH bucketing + exact re-rank under the portable hyperplane family
      // so DuckDB replays the whole candidate-generation pipeline
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        Similarity.lshTopK(vecs, vecs.filter(col("vec_id") < 3), k = 5,
          bands = 8, bitsPerBand = 4, portable = true)
      },
      Some(
        s"""WITH ${lshSigCteSql("sigc", bands = 8, bits = 4, seed = 42L)},
           |sigq AS (SELECT * FROM sigc WHERE id < 3),
           |cands AS (
           |  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
           |  FROM sigc c JOIN sigq q ON c.band = q.band AND c.sig = q.sig
           |  WHERE q.id <> c.id),
           |scored AS (
           |  SELECT query_id, neighbor_id, $cosineSql AS cos
           |  FROM cands
           |  JOIN embeddings qe ON qe.vec_id = query_id
           |  JOIN embeddings ce ON ce.vec_id = neighbor_id),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
           |FROM ranked WHERE rank <= 5""".stripMargin)),
    (
      "q_sim_ivf_topk",
      // IVF-style ANN: deterministic sampled pivots (portable LCG id-hash)
      // → nearest-pivot cell assignment → nProbe-cell probe → exact
      // re-rank. DuckDB replays pivots, assignment argmax and re-rank with
      // the identical IEEE double folds (same pattern as the FastRP /
      // cosine oracles).
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 3), k = 5,
          nCells = 16, nProbe = 4, portable = true)
      },
      Some(
        s"""WITH piv AS MATERIALIZED (
           |  SELECT pid, pv, row_number() OVER (ORDER BY h, pid) AS prank
           |  FROM (SELECT vec_id AS pid, embedding AS pv,
           |          ((vec_id % 1000000007) * 1103515245 + 12345) % 1000000007 AS h
           |        FROM embeddings ORDER BY h, pid LIMIT 16)),
           |pcos AS MATERIALIZED (
           |  SELECT c.vec_id AS cid, p.prank,
           |    list_sum(list_transform(list_zip(c.embedding, p.pv),
           |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           |    / (sqrt(list_sum(list_transform(c.embedding,
           |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
           |     * sqrt(list_sum(list_transform(p.pv,
           |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
           |  FROM embeddings c, piv p),
           |assigned AS MATERIALIZED (
           |  SELECT cid, cell FROM (
           |    SELECT cid, prank AS cell,
           |      row_number() OVER (PARTITION BY cid ORDER BY cos DESC, prank) AS arn
           |    FROM pcos) WHERE arn = 1),
           |probes AS (
           |  SELECT cid AS query_id, cell FROM (
           |    SELECT cid, prank AS cell,
           |      row_number() OVER (PARTITION BY cid ORDER BY cos DESC, prank) AS qrn
           |    FROM pcos WHERE cid < 3) WHERE qrn <= 4),
           |scored AS (
           |  SELECT pr.query_id, a.cid AS neighbor_id, $cosineSql AS cos
           |  FROM probes pr JOIN assigned a ON a.cell = pr.cell
           |  JOIN embeddings qe ON qe.vec_id = pr.query_id
           |  JOIN embeddings ce ON ce.vec_id = a.cid
           |  WHERE pr.query_id <> a.cid),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
           |FROM ranked WHERE rank <= 5""".stripMargin)),
    (
      "q_sim_pq_trained",
      // CANONICAL product quantization (Jégou 2011 §III): an independent
      // k-means per subspace (m=2 × [k=8, 2 rounds] over the subvector
      // halves) trains the codebooks, then encode/ADC/rerank run against
      // them — vs q_sim_pq_topk's zero-training sampled stand-in. DuckDB
      // replays both trainer ladders and the full search end to end.
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        val cb = Similarity.trainPqCodebooks(
          vecs, m = 2, kCodes = 8, rounds = 2, portable = true)
        Similarity.pqTopKTrained(
          vecs, vecs.filter(col("vec_id") < 3), k = 5,
          codebooks = cb, shortlist = 50)
      },
      Some {
        def d6(v: String, cv: String) =
          s"""round(list_sum(list_transform(list_zip($v, $cv),
             |        p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)""".stripMargin
        def encCte(name: String, emb: String, cen: String, out: String) =
          s"""$name AS MATERIALIZED (
             |  SELECT vec_id AS cid, cluster AS $out FROM (
             |    SELECT e.vec_id, c.crank AS cluster,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${d6("e.v", "c.cv")}, c.crank) AS rn
             |    FROM $emb e, $cen c) WHERE rn = 1)""".stripMargin
        def dtCte(name: String, emb: String, cen: String) =
          s"""$name AS MATERIALIZED (
             |  SELECT e.vec_id AS query_id, c.crank,
             |    ${d6("e.v", "c.cv")} AS d
             |  FROM $emb e, $cen c WHERE e.vec_id < 3)""".stripMargin
        def cosSql(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b),
             |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             |    / (sqrt(list_sum(list_transform($a,
             |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
             |     * sqrt(list_sum(list_transform($b,
             |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))""".stripMargin
        s"""WITH ${kmeansOracleCtes(k = 8, dim = 32, rounds = 2, prefix = "p0",
              vecSql = "list_transform(embedding[1:32], x -> CAST(x AS DOUBLE))",
              finalAssign = false)},
           |${kmeansOracleCtes(k = 8, dim = 32, rounds = 2, prefix = "p1",
              vecSql = "list_transform(embedding[33:64], x -> CAST(x AS DOUBLE))",
              finalAssign = false)},
           |${encCte("enc0", "p0emb", "p0c1", "code_0")},
           |${encCte("enc1", "p1emb", "p1c1", "code_1")},
           |codes AS MATERIALIZED (
           |  SELECT enc0.cid, enc0.code_0, enc1.code_1
           |  FROM enc0 JOIN enc1 ON enc1.cid = enc0.cid),
           |${dtCte("dt0", "p0emb", "p0c1")},
           |${dtCte("dt1", "p1emb", "p1c1")},
           |approx AS MATERIALIZED (
           |  SELECT d0.query_id, c.cid, d0.d + d1.d AS approx_dist
           |  FROM codes c
           |  JOIN dt0 d0 ON d0.crank = c.code_0
           |  JOIN dt1 d1 ON d1.query_id = d0.query_id AND d1.crank = c.code_1),
           |short AS (SELECT query_id, cid FROM (
           |  SELECT query_id, cid, row_number() OVER (PARTITION BY query_id
           |    ORDER BY approx_dist, cid) AS srn
           |  FROM approx WHERE query_id <> cid) WHERE srn <= 50),
           |scored AS (
           |  SELECT s.query_id, s.cid AS neighbor_id,
           |    ${cosSql("qe.embedding", "ce.embedding")} AS cos
           |  FROM short s JOIN embeddings qe ON qe.vec_id = s.query_id
           |  JOIN embeddings ce ON ce.vec_id = s.cid),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
           |FROM ranked WHERE rank <= 5""".stripMargin
      }),
    (
      "q_sim_pq_topk",
      // product-quantization ANN (Jégou et al. 2011): 4 subspaces × 16
      // sampled codewords, ADC shortlist 50, exact rerank top-5. The
      // oracle replays codebook sampling, per-subspace argmin encoding,
      // the additive distance tables and the rerank with IEEE-identical
      // folds (fixed-order d0+d1+d2+d3, never a float groupBy sum).
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        Similarity.pqTopK(vecs, vecs.filter(col("vec_id") < 3), k = 5,
          m = 4, kCodes = 16, shortlist = 50, portable = true)
      },
      Some {
        def ds(a: String, b: String) =
          s"""list_transform(range(0, 4), j -> list_sum(list_transform(
             |      range(0, len($a)//4), i ->
             |        (CAST($a[j*(len($a)//4)+i+1] AS DOUBLE)
             |          - CAST($b[j*(len($a)//4)+i+1] AS DOUBLE))
             |      * (CAST($a[j*(len($a)//4)+i+1] AS DOUBLE)
             |          - CAST($b[j*(len($a)//4)+i+1] AS DOUBLE)))))""".stripMargin
        s"""WITH cb AS MATERIALIZED (
           |  SELECT code_id, codev, row_number() OVER (ORDER BY h, code_id) AS crank
           |  FROM (SELECT vec_id AS code_id, embedding AS codev,
           |          ((vec_id % 1000000007) * 1103515245 + 12345) % 1000000007 AS h
           |        FROM embeddings ORDER BY h, code_id LIMIT 16)),
           |encd AS MATERIALIZED (
           |  SELECT c.vec_id AS cid, b.crank,
           |    ${ds("c.embedding", "b.codev")} AS ds
           |  FROM embeddings c, cb b),
           |ecode AS MATERIALIZED (
           |  SELECT cid, j, crank AS code FROM (
           |    SELECT cid, t.j AS j, crank,
           |      row_number() OVER (PARTITION BY cid, t.j ORDER BY ds[t.j+1], crank) AS rn
           |    FROM encd, range(0, 4) t(j)) WHERE rn = 1),
           |codes AS MATERIALIZED (
           |  SELECT cid,
           |    max(CASE WHEN j = 0 THEN code END) AS code_0,
           |    max(CASE WHEN j = 1 THEN code END) AS code_1,
           |    max(CASE WHEN j = 2 THEN code END) AS code_2,
           |    max(CASE WHEN j = 3 THEN code END) AS code_3
           |  FROM ecode GROUP BY cid),
           |dtab AS MATERIALIZED (
           |  SELECT q.vec_id AS query_id, b.crank,
           |    ${ds("q.embedding", "b.codev")} AS ds
           |  FROM embeddings q, cb b WHERE q.vec_id < 3),
           |approx AS MATERIALIZED (
           |  SELECT d0.query_id, c.cid,
           |    d0.ds[1] + d1.ds[2] + d2.ds[3] + d3.ds[4] AS approx_dist
           |  FROM codes c
           |  JOIN dtab d0 ON d0.crank = c.code_0
           |  JOIN dtab d1 ON d1.query_id = d0.query_id AND d1.crank = c.code_1
           |  JOIN dtab d2 ON d2.query_id = d0.query_id AND d2.crank = c.code_2
           |  JOIN dtab d3 ON d3.query_id = d0.query_id AND d3.crank = c.code_3
           |  WHERE d0.query_id <> c.cid),
           |short AS (
           |  SELECT query_id, cid FROM (
           |    SELECT query_id, cid,
           |      row_number() OVER (PARTITION BY query_id ORDER BY approx_dist, cid) AS srn
           |    FROM approx) WHERE srn <= 50),
           |scored AS (
           |  SELECT s.query_id, s.cid AS neighbor_id, $cosineSql AS cos
           |  FROM short s
           |  JOIN embeddings qe ON qe.vec_id = s.query_id
           |  JOIN embeddings ce ON ce.vec_id = s.cid),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
           |FROM ranked WHERE rank <= 5""".stripMargin
      }),
    (
      "q_sim_cosine_neardup",
      // 8 bands × 4 bits at threshold 0.35: non-trivial candidate recall on
      // the synthetic embeddings (4×8 bands at 0.5 found nothing — a 0-row
      // green proves little)
      (s, d) => graft.ml.Similarity.cosineNearDupPairs(
        t(s, d, "embeddings"), threshold = 0.35, bands = 8, bitsPerBand = 4, portable = true),
      Some(
        s"""WITH ${lshSigCteSql("sig", bands = 8, bits = 4, seed = 42L)},
           |cands AS (
           |  SELECT DISTINCT l.id AS a, r.id AS b
           |  FROM sig l JOIN sig r ON l.band = r.band AND l.sig = r.sig
           |  WHERE l.id < r.id),
           |scored AS (
           |  SELECT a, b, round($cosineSql, 6) AS cos
           |  FROM cands
           |  JOIN embeddings qe ON qe.vec_id = a
           |  JOIN embeddings ce ON ce.vec_id = b)
           |SELECT DISTINCT a, b, cos FROM scored WHERE cos >= 0.35""".stripMargin)),

    (
      "q_text_lm_quality",
      // CCNet-analog perplexity filter: char-trigram LM with add-k
      // smoothing trained in-plan on the corpus itself; DuckDB replays
      // normalization → trigram census → smoothing → per-doc score
      (s, d) => TextAnalysis.lmQuality(t(s, d, "documents")),
      Some(
        s"""WITH $lmQualityCtesSql
           |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_trigrams,
           |  round(sum(lp) / sum(n), 6) AS avg_logp,
           |  round(exp(-(sum(lp) / sum(n))), 6) AS perplexity
           |FROM lp GROUP BY doc_id""".stripMargin)),
    (
      "q_text_perplexity_buckets",
      // the CCNet head/middle/tail partition, exact: global perplexity
      // rank (ties by doc_id) via the two-phase sharded rank — NO global
      // sort — then thirds by (rank-1)*3 div n. DuckDB replays the LM
      // and the rank/bucket arithmetic directly.
      (s, d) => {
        val ppl = TextAnalysis.lmQuality(t(s, d, "documents"))
          .select(col("doc_id"), col("perplexity"))
        graft.ml.CorpusOps
          .quantileBuckets(ppl, "perplexity", nBuckets = 3, shards = 8)
          .select("doc_id", "perplexity", "rank", "bucket")
      },
      Some(
        s"""WITH $lmQualityCtesSql,
           |ppl AS (
           |  SELECT doc_id, round(exp(-(sum(lp) / sum(n))), 6) AS perplexity
           |  FROM lp GROUP BY doc_id),
           |rk AS (
           |  SELECT doc_id, perplexity,
           |    CAST(row_number() OVER (ORDER BY perplexity, doc_id) AS BIGINT) AS rank,
           |    (SELECT count(*) FROM ppl) AS n
           |  FROM ppl)
           |SELECT doc_id, perplexity, rank,
           |  CAST((rank - 1) * 3 // n + 1 AS BIGINT) AS bucket FROM rk""".stripMargin)),
    (
      "q_text_quality",
      (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
      Some(
        """SELECT doc_id, round(
          |  (CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.3 END) * 0.4
          |  + (length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) * 1.0
          |     / greatest(length(text), 1)) * 0.3
          |  + (length(list_distinct(regexp_split_to_array(lower(text), '\s+'))) * 1.0
          |     / greatest(length(regexp_split_to_array(text, '\s+')), 1)) * 0.3, 6)
          |  AS quality
          |FROM documents""".stripMargin)),

    (
      "q_text_repetition",
      // Gopher-style repetition signals (Rae et al. 2021 §A1.1): duplicate
      // lines + top/duplicated word-n-gram character coverage; the n-gram
      // tallies are explode → partial-agg groupBy (map-side combine), not
      // per-row quadratic lambdas
      (s, d) => TextAnalysis.repetitionSignals(t(s, d, "documents")),
      Some(
        """WITH base AS MATERIALIZED (
          |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          |         string_split(text, chr(10)) AS lines,
          |         regexp_split_to_array(text, '\s+') AS tk
          |  FROM documents),
          |linesig AS (
          |  SELECT doc_id, n_chars,
          |    round((len(lines) - len(list_distinct(lines))) * 1.0
          |          / greatest(len(lines), 1), 6) AS dup_line_frac,
          |    round((list_sum(list_transform(lines, l -> length(l)))
          |           - list_sum(list_transform(list_distinct(lines), l -> length(l)))) * 1.0
          |          / greatest(n_chars, 1), 6) AS dup_line_char_frac
          |  FROM base),
          |grams AS MATERIALIZED (
          |  SELECT doc_id, n_chars, ns.n AS n,
          |    unnest(list_transform(range(1, greatest(len(tk) - ns.n, 0) + 2),
          |      i -> array_to_string(tk[i:i+ns.n-1], ' '))) AS g
          |  FROM base, (VALUES (2), (3), (5)) ns(n)),
          |counted AS MATERIALIZED (
          |  SELECT doc_id, n, g, count(*) AS cnt, first(n_chars) AS nc
          |  FROM grams GROUP BY doc_id, n, g),
          |gramsig AS (
          |  SELECT doc_id,
          |    round(coalesce(max(CASE WHEN n = 2 THEN cnt * length(g) END), 0) * 1.0
          |          / greatest(first(nc), 1), 6) AS top_2gram_char_frac,
          |    round(coalesce(max(CASE WHEN n = 3 THEN cnt * length(g) END), 0) * 1.0
          |          / greatest(first(nc), 1), 6) AS top_3gram_char_frac,
          |    round(coalesce(sum(CASE WHEN n = 5 AND cnt >= 2 THEN cnt * length(g) END), 0) * 1.0
          |          / greatest(first(nc), 1), 6) AS dup_5gram_char_frac
          |  FROM counted GROUP BY doc_id)
          |SELECT l.doc_id, l.n_chars, l.dup_line_frac, l.dup_line_char_frac,
          |       g.top_2gram_char_frac, g.top_3gram_char_frac, g.dup_5gram_char_frac
          |FROM linesig l JOIN gramsig g USING (doc_id)""".stripMargin)),

    (
      "q_text_gopher",
      // Gopher word-level quality rules + combined pass flag
      (s, d) => TextAnalysis.gopherSignals(t(s, d, "documents")),
      Some(
        """WITH base AS MATERIALIZED (
          |  SELECT doc_id, text,
          |    regexp_split_to_array(text, '\s+') AS words,
          |    string_split(text, chr(10)) AS lines,
          |    ' ' || lower(text) || ' ' AS padded
          |  FROM documents),
          |sig AS (
          |  SELECT doc_id,
          |    CAST(len(words) AS BIGINT) AS n_words,
          |    round(list_sum(list_transform(words, w -> length(w))) * 1.0
          |          / greatest(len(words), 1), 6) AS mean_word_len,
          |    round((len(regexp_extract_all(text, '#'))
          |           + len(regexp_extract_all(text, '\.\.\.'))
          |           + len(regexp_extract_all(text, '…'))) * 1.0
          |          / greatest(len(words), 1), 6) AS symbol_word_ratio,
          |    round(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) * 1.0
          |          / greatest(len(lines), 1), 6) AS bullet_line_frac,
          |    round(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.$|…$'))) * 1.0
          |          / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
          |    round(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) * 1.0
          |          / greatest(len(words), 1), 6) AS alpha_word_frac,
          |    CAST((CASE WHEN contains(padded, ' the ') THEN 1 ELSE 0 END
          |        + CASE WHEN contains(padded, ' be ') THEN 1 ELSE 0 END
          |        + CASE WHEN contains(padded, ' to ') THEN 1 ELSE 0 END
          |        + CASE WHEN contains(padded, ' of ') THEN 1 ELSE 0 END
          |        + CASE WHEN contains(padded, ' and ') THEN 1 ELSE 0 END
          |        + CASE WHEN contains(padded, ' that ') THEN 1 ELSE 0 END
          |        + CASE WHEN contains(padded, ' have ') THEN 1 ELSE 0 END
          |        + CASE WHEN contains(padded, ' with ') THEN 1 ELSE 0 END) AS BIGINT)
          |      AS stopword_hits
          |  FROM base)
          |SELECT *,
          |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
          |   AND symbol_word_ratio < 0.1 AND bullet_line_frac < 0.9
          |   AND ellipsis_line_frac < 0.3 AND alpha_word_frac > 0.8
          |   AND stopword_hits >= 2) AS gopher_pass
          |FROM sig""".stripMargin)),

    (
      "q_text_bpe_merges",
      // BPE vocabulary induction (Sennrich et al. 2016): 4 learned merges
      // over the distinct-word frequency table. The oracle replays each
      // round as CTEs — pair census + argmax (ties by pair asc), then the
      // greedy-left merge applied relationally (position explode, candidate
      // marking with a run-parity rule for a==b overlaps, consumed-position
      // drop, ordered re-collect) — provably equal to the Spark side's
      // single aggregate() fold because a merge never creates an earlier
      // occurrence of its own pair (see ml.Bpe scaladoc).
      (s, d) => graft.ml.Bpe.learnMerges(t(s, d, "documents"), rounds = 4),
      Some {
        bpeOracleCtes(4) +
          "SELECT * FROM (\n" +
          (1 to 4)
            .map(r =>
              s"  SELECT CAST($r AS BIGINT) AS round, a, b, m AS merged, c AS cnt FROM best$r")
            .mkString("\n  UNION ALL\n") +
          "\n)"
      }),

    (
      "q_text_bpe_segment",
      // BPE inference: re-derive the 4-round merge table, then segment the
      // 200 most frequent distinct words by applying the merges in rank
      // order (nested greedy-left folds, column-only). Equal to the
      // training-time symbol state — training applies the same merges in
      // the same order to the same words — which is exactly what the
      // oracle's sym5 CTE holds. seg is a joined string so the frame
      // hash-compares portably.
      (s, d) => {
        val docs = t(s, d, "documents")
        val merges = graft.ml.Bpe
          .learnMerges(docs, rounds = 4)
          .orderBy("round")
          .collect() // bounded: one row per learned merge
          .map(r => (r.getString(1), r.getString(2)))
          .toSeq
        val words = docs
          .select(explode(filter(split(lower(col("text")), "\\s+"), w => w =!= "")).as("word"))
          .groupBy("word")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word").asc)
          .limit(200)
        graft.ml.Bpe
          .segmentWords(words, merges)
          .select(col("word"), col("cnt"), array_join(col("pieces"), "|").as("seg"))
      },
      Some(
        bpeOracleCtes(4) +
          """SELECT word, cnt, array_to_string(syms, '|') AS seg
            |FROM sym5 ORDER BY cnt DESC, word LIMIT 200""".stripMargin)),

    (
      "q_text_ngram_census",
      // KenLM-style distributed n-gram counting: corpus count + doc
      // frequency per word n-gram (orders 1–3), global top-25 per order,
      // ties broken by gram for a deterministic boundary. Spark side is
      // one explode + one lead-window + one wordcount groupBy + salted
      // two-phase top-k (TextAnalysis.ngramCensus).
      (s, d) => TextAnalysis.ngramCensus(t(s, d, "documents"), topK = 25),
      Some(
        """WITH tk AS MATERIALIZED (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS tk
          |  FROM documents),
          |grams AS MATERIALIZED (
          |  SELECT doc_id, ns.n AS n,
          |    unnest(list_transform(range(1, len(tk) - ns.n + 2),
          |      i -> array_to_string(tk[i:i+ns.n-1], ' '))) AS gram
          |  FROM tk, (VALUES (1), (2), (3)) ns(n)
          |  WHERE len(tk) >= ns.n),
          |counted AS (
          |  SELECT n, gram, count(*) AS cnt, count(DISTINCT doc_id) AS doc_freq
          |  FROM grams GROUP BY n, gram),
          |ranked AS (
          |  SELECT CAST(n AS BIGINT) AS n, gram, cnt, doc_freq,
          |    row_number() OVER (PARTITION BY n ORDER BY cnt DESC, gram) AS rank
          |  FROM counted)
          |SELECT n, gram, cnt, doc_freq, rank FROM ranked WHERE rank <= 25""".stripMargin)),

    (
      "q_text_ngram_stats",
      // per-order LM census summary: total/distinct/hapax gram counts and
      // the modal gram's count (the quantities Kneser-Ney discounting and
      // vocabulary sizing read off the counting pass)
      (s, d) => TextAnalysis.ngramOrderStats(t(s, d, "documents")),
      Some(
        """WITH tk AS MATERIALIZED (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS tk
          |  FROM documents),
          |grams AS MATERIALIZED (
          |  SELECT doc_id, ns.n AS n,
          |    unnest(list_transform(range(1, len(tk) - ns.n + 2),
          |      i -> array_to_string(tk[i:i+ns.n-1], ' '))) AS gram
          |  FROM tk, (VALUES (1), (2), (3)) ns(n)
          |  WHERE len(tk) >= ns.n),
          |counted AS (
          |  SELECT n, gram, count(*) AS cnt FROM grams GROUP BY n, gram)
          |SELECT CAST(n AS BIGINT) AS n,
          |  CAST(sum(cnt) AS BIGINT) AS total_grams,
          |  count(*) AS distinct_grams,
          |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_grams,
          |  max(cnt) AS max_cnt
          |FROM counted GROUP BY n""".stripMargin)),

    (
      "q_text_c4_clean",
      // C4-style line filter; the synthetic documents have no newlines or
      // terminal punctuation, so the oracle instance gates on word count
      // only (minWords=40 over the 1-line docs → informative variance);
      // the full punctuation/junk rules are covered by MlSpec
      (s, d) => TextAnalysis.c4Clean(
        t(s, d, "documents"), minWordsPerLine = 40, requireTerminalPunct = false),
      Some(
        """WITH k AS (
          |  SELECT doc_id, string_split(text, chr(10)) AS lines,
          |    list_filter(string_split(text, chr(10)), l ->
          |      len(regexp_split_to_array(trim(l), '\s+')) >= 40
          |      AND NOT contains(l, '{')
          |      AND NOT contains(lower(l), 'lorem ipsum')
          |      AND NOT contains(lower(l), 'javascript')) AS kept
          |  FROM documents)
          |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
          |       CAST(len(kept) AS BIGINT) AS n_kept,
          |       coalesce(array_to_string(kept, chr(10)), '') AS clean_text
          |FROM k""".stripMargin)),

    (
      "q_pipeline_corpus",
      // a composed training-data pipeline as ONE declarative plan: exact
      // dedup (normalized fingerprint, min doc_id survives) → language
      // gate (n-gram heuristic = 'en') → quality gate (score ≥ 0.5) →
      // per-true-label corpus stats. Floating aggregates restricted to
      // order-independent min/max; token totals are integer sums.
      (s, d) => {
        val txt = concat(lit(" "), lower(col("text")), lit(" "))
        val predLang = when(txt.contains(" the ") || txt.contains(" and "), "en")
          .when(txt.contains(" der ") || txt.contains(" und "), "de")
          .when(txt.contains(" le ") || txt.contains(" et "), "fr")
          .when(txt.contains(" el ") || txt.contains(" y "), "es")
          .otherwise("unknown")
        val enriched = t(s, d, "documents").select(
          col("doc_id"),
          col("lang"),
          md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fp"),
          predLang.as("pred_lang"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val keepIds = enriched.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        enriched
          .join(keepIds, Seq("doc_id"), "left_semi")
          .filter(col("pred_lang") === "en" && col("quality") >= 0.5)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_tokens").as("total_tokens"),
            min("quality").as("min_quality"),
            max("quality").as("max_quality"))
      },
      Some(
        """WITH enriched AS (
          |  SELECT doc_id, lang,
          |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
          |    CASE
          |      WHEN ' ' || lower(text) || ' ' LIKE '% the %'
          |        OR ' ' || lower(text) || ' ' LIKE '% and %' THEN 'en'
          |      WHEN ' ' || lower(text) || ' ' LIKE '% der %'
          |        OR ' ' || lower(text) || ' ' LIKE '% und %' THEN 'de'
          |      WHEN ' ' || lower(text) || ' ' LIKE '% le %'
          |        OR ' ' || lower(text) || ' ' LIKE '% et %' THEN 'fr'
          |      WHEN ' ' || lower(text) || ' ' LIKE '% el %'
          |        OR ' ' || lower(text) || ' ' LIKE '% y %' THEN 'es'
          |      ELSE 'unknown' END AS pred_lang,
          |    round(
          |      (CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.3 END) * 0.4
          |      + (length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) * 1.0
          |         / greatest(length(text), 1)) * 0.3
          |      + (length(list_distinct(regexp_split_to_array(lower(text), '\s+'))) * 1.0
          |         / greatest(length(regexp_split_to_array(text, '\s+')), 1)) * 0.3, 6)
          |      AS quality,
          |    length(string_split(text, ' ')) AS n_tokens
          |  FROM documents),
          |keep AS (SELECT min(doc_id) AS doc_id FROM enriched GROUP BY fp),
          |kept AS (
          |  SELECT e.* FROM enriched e JOIN keep k ON e.doc_id = k.doc_id
          |  WHERE e.pred_lang = 'en' AND e.quality >= 0.5)
          |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
          |  min(quality) AS min_quality, max(quality) AS max_quality
          |FROM kept GROUP BY lang""".stripMargin)),

    (
      "q_pipeline_train",
      // the FULL training-prep recipe as one declarative plan: exact dedup
      // (normalized fp, min doc_id survives) → held-out benchmark split
      // (doc_id % 97 = 0) decontamination (5-gram overlap, GPT-3 appx C)
      // → classifier gate (hashed linear model, keep = margin > 0) →
      // concat-and-chunk packing into 256-token sequences → per-sequence
      // fill stats. Every stage is the already-oracled operator; this row
      // proves they COMPOSE in one Catalyst plan (the only driver-side
      // value is packSequences' 2-value shard-bounds probe, fed here from
      // the RAW table's min/max — a pushdown scan — so the expensive
      // filter chain executes once). DuckDB replays all four stages.
      (s, d) => {
        val docs = t(s, d, "documents")
        val b = docs.agg(min("doc_id"), max("doc_id")).first()
        val fp = md5(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
        val keep1 = docs.select(col("doc_id"), fp.as("fp"))
          .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
        val train = docs
          .join(keep1, Seq("doc_id"), "left_semi")
          .filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
        val bench = docs.filter(pmod(col("doc_id"), lit(97L)) === 0L)
        val clean = CorpusOps.decontaminate(train, bench, n = 5)
        val kept = clean.join(
          TextAnalysis.classifierScore(clean).filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        CorpusOps.packSequences(kept, seqLen = 256, shards = 16,
            idBounds = Some((b.getLong(0), b.getLong(1))))
          .groupBy("seq_id")
          .agg(
            count(lit(1)).as("n_chunks"),
            countDistinct("id").as("n_docs"),
            sum("len").as("filled"))
      },
      Some(
        """WITH fp AS (
          |  SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS f
          |  FROM documents),
          |keep1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
          |train AS (
          |  SELECT d.doc_id, d.text FROM documents d JOIN keep1 USING (doc_id)
          |  WHERE d.doc_id % 97 <> 0),
          |tok AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM train),
          |g AS (SELECT DISTINCT doc_id, gram FROM (
          |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk) - 5, 0) + 2),
          |    i -> array_to_string(tk[i:i+4], ' '))) AS gram FROM tok)),
          |btok AS (SELECT regexp_split_to_array(text, '\s+') AS tk
          |         FROM documents WHERE doc_id % 97 = 0),
          |bg AS (SELECT DISTINCT gram FROM (
          |  SELECT unnest(list_transform(range(1, greatest(len(tk) - 5, 0) + 2),
          |    i -> array_to_string(tk[i:i+4], ' '))) AS gram FROM btok)),
          |dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)),
          |decon AS (
          |  SELECT t.doc_id, t.text FROM train t
          |  LEFT JOIN dirty c ON c.doc_id = t.doc_id WHERE c.doc_id IS NULL),
          |ctok AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tk
          |  FROM decon),
          |cw AS (
          |  SELECT doc_id,
          |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
          |       list_transform(string_split(tk, ''), c -> CAST(ascii(c) % 65536 AS BIGINT))),
          |       (acc, c) -> (acc * 31 + c) % 1000000007) % 4096 + 42)
          |      * 2654435761 % 1000003 - 500001 AS w
          |  FROM ctok WHERE tk <> ''),
          |clf AS (SELECT doc_id FROM cw GROUP BY doc_id HAVING sum(w) > 0),
          |kept AS (SELECT d.doc_id, d.text FROM decon d JOIN clf USING (doc_id)),
          |t2 AS (SELECT doc_id,
          |         CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n
          |       FROM kept),
          |c2 AS (SELECT doc_id, n,
          |         CAST(sum(n) OVER (ORDER BY doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS s
          |       FROM t2),
          |x AS (SELECT doc_id, s, s + n AS e FROM c2),
          |ch AS (SELECT doc_id, s, e, seq_id FROM (
          |  SELECT doc_id, s, e, unnest(range(s // 256, (e - 1) // 256 + 1)) AS seq_id
          |  FROM x)),
          |chunk AS (SELECT doc_id, seq_id,
          |  least(e, (seq_id + 1) * 256) - greatest(s, seq_id * 256) AS len FROM ch)
          |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_chunks,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |  CAST(sum(len) AS BIGINT) AS filled
          |FROM chunk GROUP BY seq_id""".stripMargin)),

    (
      "q_text_decontaminate",
      // benchmark decontamination (GPT-3 appx C / PaLM overlap rule): per-doc
      // count of distinct word n-grams shared with an eval set — here a
      // deterministic slice of the corpus (doc_id % 97 = 0) so overlap is
      // guaranteed at every SF. Benchmark grams broadcast; the corpus is
      // never shuffled on gram (CorpusOps.contamination).
      (s, d) => {
        val docs = t(s, d, "documents")
        CorpusOps
          .contamination(docs, docs.filter(col("doc_id") % 97 === 0), n = 5)
          .filter(col("n_contaminated") > 0)
          .select(
            col("id").as("doc_id"),
            col("n_grams"),
            col("n_contaminated"),
            round(col("frac"), 6).as("frac"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM documents),
          |g AS (
          |  SELECT DISTINCT doc_id, gram FROM (
          |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk) - 5, 0) + 2),
          |      i -> array_to_string(tk[i:i+4], ' '))) AS gram FROM tok)),
          |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
          |c AS (
          |  SELECT d.doc_id, count(*) AS n_grams, count(b.gram) AS n_contaminated
          |  FROM g d LEFT JOIN bench b USING (gram) GROUP BY 1)
          |SELECT doc_id, n_grams, n_contaminated,
          |  round(n_contaminated * 1.0 / n_grams, 6) AS frac
          |FROM c WHERE n_contaminated > 0""".stripMargin)),
    (
      "q_text_decontaminate_fuzzy",
      // FUZZY decontamination: MinHash-LSH overlap between the corpus and
      // the same deterministic benchmark slice — catches paraphrased
      // leakage the exact 13-gram rule misses. Benchmark signatures
      // broadcast; the oracle reuses the shared banded-signature CTEs and
      // replays the candidate join + full-signature estimate + best-match
      (s, d) => {
        val docs = t(s, d, "documents")
        CorpusOps.contaminationFuzzy(
          docs, docs.filter(col("doc_id") % 97 === 0),
          threshold = 0.5, portable = true)
      },
      Some(
        s"""WITH $minHashCtesSql,
           |bb AS (
           |  SELECT doc_id AS bench_id, minhash AS bmh, band, bh
           |  FROM banded WHERE doc_id % 97 = 0),
           |cand AS (
           |  SELECT c.doc_id, b.bench_id,
           |    len(list_filter(range(1, 33), i -> c.minhash[i] = b.bmh[i])) / 32.0 AS est
           |  FROM banded c JOIN bb b USING (band, bh)),
           |hit AS (
           |  SELECT doc_id, bench_id, round(max(est), 6) AS est
           |  FROM cand WHERE est >= 0.5 GROUP BY doc_id, bench_id),
           |rk AS (
           |  SELECT doc_id, bench_id, est,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY est DESC, bench_id) AS rk
           |  FROM hit)
           |SELECT doc_id, bench_id, est AS est_jaccard FROM rk WHERE rk = 1""".stripMargin)),
    (
      "q_text_dsir",
      // DSIR importance-weighted selection (Xie et al. 2023): hashed
      // unigram+bigram bucket models, target = the src0/src1 domains,
      // micro-nat integer log-ratios so the weight sum is exact; top-100
      // by (weight desc, id). The oracle replays tokenization, shingling,
      // the polynomial hash, both Laplace models and the pinned-ln ladder.
      (s, d) => {
        val docs = t(s, d, "documents")
        CorpusOps.dsirSelect(
          docs, docs.filter(col("source").isin("src0", "src1")),
          k = 100, portable = true)
      },
      Some(
        s"""WITH $dsirCtesSql
           |SELECT doc_id, dsir_weight_micro,
           |  CAST(row_number() OVER (ORDER BY dsir_weight_micro DESC, doc_id) AS BIGINT) AS rank
           |FROM w ORDER BY rank LIMIT 100""".stripMargin)),
    (
      "q_text_dsir_resample",
      // the paper's §3.2 resample step, deterministic: Gumbel top-k over
      // the weights with the Gumbel drawn from the portable (seed, id)
      // hash and pinned to micro-nats — the selected SET is an integer
      // function of (corpus, target, seed) and DuckDB replays it
      (s, d) => {
        val docs = t(s, d, "documents")
        CorpusOps.dsirResample(
          docs, docs.filter(col("source").isin("src0", "src1")),
          k = 100, seed = 7L, portable = true)
      },
      Some(
        s"""WITH $dsirCtesSql,
           |sc AS (
           |  SELECT doc_id, dsir_weight_micro,
           |    dsir_weight_micro + CAST(round(-ln(-ln(
           |      ((7 + ((doc_id % 1000000007 + 1000000007) % 1000000007) * 73856093)
           |        % 1000000007 % 1000000 + 0.5) / 1e6)) * 1e6, 0) AS BIGINT) AS score_micro
           |  FROM w)
           |SELECT doc_id, dsir_weight_micro, score_micro,
           |  CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
           |FROM sc ORDER BY rank LIMIT 100""".stripMargin)),

    (
      "q_pack_sequences",
      // concat-and-chunk sequence packing into 256-token training sequences
      // (each row = one doc × sequence chunk with both-side offsets). The
      // Spark plan uses the two-phase sharded prefix sum (NO global-order
      // window); DuckDB replays it with a plain global window — identical
      // results because shard buckets are contiguous in the order key.
      (s, d) => CorpusOps
        .packSequences(t(s, d, "documents"), seqLen = 256, shards = 16)
        .select(
          col("id").as("doc_id"),
          col("seq_id"), col("seq_off"), col("doc_off"), col("len")),
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, n,
          |    CAST(sum(n) OVER (ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS s
          |  FROM t),
          |x AS (SELECT doc_id, s, s + n AS e FROM c),
          |ch AS (
          |  SELECT doc_id, s, e, seq_id FROM (
          |    SELECT doc_id, s, e, unnest(range(s // 256, (e - 1) // 256 + 1)) AS seq_id
          |    FROM x))
          |SELECT doc_id, seq_id,
          |  greatest(s, seq_id * 256) - seq_id * 256 AS seq_off,
          |  greatest(s, seq_id * 256) - s AS doc_off,
          |  least(e, (seq_id + 1) * 256) - greatest(s, seq_id * 256) AS len
          |FROM ch""".stripMargin)),

    (
      "q_chunk_documents",
      // per-document sliding-window chunking (RAG / context-window prep):
      // 64-token chunks every 48 tokens, never crossing doc boundaries —
      // a pure map (explode), no shuffle. DuckDB replays starts, ragged
      // tail and the joined chunk text exactly.
      (s, d) => CorpusOps.chunkDocuments(
        t(s, d, "documents"), chunkTokens = 64, stride = 48),
      Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM documents),
          |st AS (
          |  SELECT doc_id, tk,
          |    unnest(range(0, greatest(CAST(ceil((len(tk) - 64) / 48.0) AS BIGINT), 0) + 1))
          |      AS chunk_idx
          |  FROM t)
          |SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_tok,
          |  least(64, len(tk) - chunk_idx * 48) AS n_toks,
          |  array_to_string(tk[CAST(chunk_idx * 48 + 1 AS INT)
          |                    : CAST(chunk_idx * 48 + 64 AS INT)], ' ') AS chunk_text
          |FROM st""".stripMargin)),
    (
      "q_text_redact",
      // PII redaction over text augmented with a deterministic synthetic
      // email + IPv4 + phone per doc (so the operator provably fires at
      // every SF): per-kind match counts + md5 of the redacted text —
      // byte-exact replay of three chained regex rewrites in both engines.
      (s, d) => {
        val aug = t(s, d, "documents").select(
          col("doc_id"),
          concat(
            col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
            lit(".7 call +1 555-01"),
            lpad(pmod(col("doc_id"), lit(100L)).cast("string"), 2, "0"),
            lit(" now")).as("text"))
        CorpusOps.redactionReport(aug)
          .select(
            col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
            md5(col("redacted")).as("redacted_md5"))
      },
      Some {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
        val phone = "[+(]?[0-9][0-9()\\- ]{6,}[0-9]"
        s"""WITH aug AS (
           |  SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR)
           |      || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
           |      || '.7 call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
           |      || ' now' AS text
           |  FROM documents),
           |steps AS (
           |  SELECT doc_id, text,
           |    regexp_replace(text, '$email', '<EMAIL>', 'g') AS t1
           |  FROM aug),
           |steps2 AS (
           |  SELECT doc_id, text, t1, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2
           |  FROM steps)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ips,
           |  CAST(len(regexp_extract_all(t2, '$phone')) AS BIGINT) AS n_phones,
           |  md5(regexp_replace(t2, '$phone', '<PHONE>', 'g')) AS redacted_md5
           |FROM steps2""".stripMargin
      }),

    (
      "q_dedup_semantic",
      // SemDeDup (Abbas et al. 2023): coarse-quantize embeddings into 16
      // cells (deterministic sampled pivots, as IVF), pair within cells at
      // cosine ≥ 0.35 (the synthetic embeddings cap at ~0.51 pairwise, so
      // paper-scale 0.95 would be a 0-row green that proves little),
      // components over the pair graph, keep the member FARTHEST from its
      // centroid per cluster. DuckDB replays pivots, argmax assignment,
      // pairing, recursive closure and the keep rule end to end.
      (s, d) => SemDedup.semDedup(
        t(s, d, "embeddings"), threshold = 0.35, nCells = 16, portable = true),
      Some {
        def cosSql(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b),
             |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             |    / (sqrt(list_sum(list_transform($a,
             |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
             |     * sqrt(list_sum(list_transform($b,
             |         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))""".stripMargin
        s"""WITH RECURSIVE piv AS MATERIALIZED (
           |  SELECT pid, pv, row_number() OVER (ORDER BY h, pid) AS prank
           |  FROM (SELECT vec_id AS pid, embedding AS pv,
           |          ((vec_id % 1000000007) * 1103515245 + 12345) % 1000000007 AS h
           |        FROM embeddings ORDER BY h, pid LIMIT 16)),
           |pcos AS MATERIALIZED (
           |  SELECT c.vec_id AS cid, p.prank,
           |    ${cosSql("c.embedding", "p.pv")} AS cos
           |  FROM embeddings c, piv p),
           |assigned AS MATERIALIZED (
           |  SELECT cid, cell, ccos FROM (
           |    SELECT cid, prank AS cell, cos AS ccos,
           |      row_number() OVER (PARTITION BY cid ORDER BY cos DESC, prank) AS arn
           |    FROM pcos) WHERE arn = 1),
           |pr AS MATERIALIZED (
           |  SELECT a.cid AS a, b.cid AS b
           |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.cid < b.cid
           |  JOIN embeddings ea ON ea.vec_id = a.cid
           |  JOIN embeddings eb ON eb.vec_id = b.cid
           |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.35),
           |ud AS MATERIALIZED (SELECT a, b FROM (
           |  SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr)),
           |r(id, m) AS (
           |  SELECT a, b FROM ud
           |  UNION
           |  SELECT r.id, ud.b FROM r JOIN ud ON ud.a = r.m),
           |comp AS (SELECT id, least(id, min(m)) AS cluster FROM r GROUP BY id),
           |lab AS (
           |  SELECT s.cid AS vec_id, s.cell, s.ccos,
           |         coalesce(c.cluster, s.cid) AS cluster
           |  FROM assigned s LEFT JOIN comp c ON c.id = s.cid)
           |SELECT vec_id, CAST(cell AS BIGINT) AS cell, round(ccos, 6) AS ccos,
           |  cluster,
           |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_n,
           |  (row_number() OVER (PARTITION BY cluster ORDER BY ccos, vec_id) = 1)
           |    AS keep
           |FROM lab""".stripMargin
      }),
    (
      "q_embed_kmeans",
      // Distributed Lloyd's k-means over the embedding corpus (the trained
      // quantizer SemDeDup/IVF assume upstream): k=8 portable-LCG-sampled
      // init centroids, 3 assignment rounds with an M-step between each.
      // Scale shape: assignment is a map-side argmin against a LITERAL
      // broadcast centroid array (zero corpus shuffle); the M-step's
      // exchange is (cluster, dim) partial sums only. Determinism: squared
      // L2 rounded 6dp before the argmin (rank tie-break); centroid means
      // rounded 6dp per round on both engines; empty clusters retain their
      // previous centroid. DuckDB replays init, all three assignments and
      // both M-steps end to end.
      (s, d) => Clustering.kmeans(
        t(s, d, "embeddings"), k = 8, assignRounds = 3, portable = true).assignment,
      Some(
        s"""WITH ${kmeansOracleCtes(k = 8, dim = 64, rounds = 3)}
           |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, d AS dist,
           |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_n
           |FROM a3""".stripMargin)),
    (
      "q_sample_cluster_balanced",
      // cluster-balanced selection (the diversity-preserving curation
      // step; cf. SemDeDup §5 cluster ablations / DataComp cluster
      // pruning): label against the trained k-means centroids (map-side
      // argmin) and keep a 20-row quota per cluster by the deterministic
      // portable id hash — uniform sampling over-represents dense
      // regions, the quota keeps the tail. DuckDB replays trainer,
      // assignment and the per-cluster ranked quota.
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        val km = Clustering.kmeans(vecs, k = 8, assignRounds = 3, portable = true)
        Sampling.clusterBalanced(
          vecs, km.centroids, perCluster = 20, seed = 42L, portable = true)
      },
      Some(
        s"""WITH ${kmeansOracleCtes(k = 8, dim = 64, rounds = 3)}
           |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, rk FROM (
           |  SELECT vec_id, cluster,
           |    CAST(row_number() OVER (PARTITION BY cluster
           |      ORDER BY (42 + (vec_id % 1000000007) * 73856093)
           |                 % 1000000007 % 1000000, vec_id) AS BIGINT) AS rk
           |  FROM a3) WHERE rk <= 20""".stripMargin)),
    (
      "q_sim_ivf_trained",
      // IVF ANN over TRAINED centroids: Clustering.kmeans (k=8, 3 rounds)
      // trains the coarse quantizer, then the identical ivfTopK joins run
      // with the trained centroid table as the broadcast pivot frame —
      // the production-recall path the sampled-pivot docs promise. DuckDB
      // replays the trainer ladder (c2 = trained centroids) and then the
      // cosine argmax assignment, 3-cell probe and exact re-rank.
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        val km = Clustering.kmeans(vecs, k = 8, assignRounds = 3, portable = true)
        Similarity.ivfTopKTrained(
          vecs, vecs.filter(col("vec_id") < 3), k = 5,
          centroids = km.centroids, nProbe = 3)
      },
      Some(
        s"""WITH ${kmeansOracleCtes(k = 8, dim = 64, rounds = 3)},
           |pcos AS MATERIALIZED (
           |  SELECT e.vec_id AS cid, p.crank AS prank,
           |    list_sum(list_transform(list_zip(e.v, p.cv), x -> x[1] * x[2]))
           |    / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
           |     * sqrt(list_sum(list_transform(p.cv, x -> x * x)))) AS cos
           |  FROM emb e, c2 p),
           |assigned AS MATERIALIZED (
           |  SELECT cid, cell FROM (
           |    SELECT cid, prank AS cell,
           |      row_number() OVER (PARTITION BY cid ORDER BY cos DESC, prank) AS arn
           |    FROM pcos) WHERE arn = 1),
           |probes AS (
           |  SELECT cid AS query_id, cell FROM (
           |    SELECT cid, prank AS cell,
           |      row_number() OVER (PARTITION BY cid ORDER BY cos DESC, prank) AS qrn
           |    FROM pcos WHERE cid < 3) WHERE qrn <= 3),
           |scored AS (
           |  SELECT pr.query_id, a.cid AS neighbor_id,
           |    list_sum(list_transform(list_zip(qe.v, ce.v), x -> x[1] * x[2]))
           |    / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
           |     * sqrt(list_sum(list_transform(ce.v, x -> x * x)))) AS cos
           |  FROM probes pr JOIN assigned a ON a.cell = pr.cell
           |  JOIN emb qe ON qe.vec_id = pr.query_id
           |  JOIN emb ce ON ce.vec_id = a.cid
           |  WHERE pr.query_id <> a.cid),
           |ranked AS (SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank
           |FROM ranked WHERE rank <= 5""".stripMargin)),
    (
      "q_dedup_semantic_trained",
      // SemDeDup with the quantizer the paper actually uses: k-means
      // centroids (Clustering.kmeans, k=8, 3 rounds) instead of the
      // sampled-pivot stand-in. Same joins as q_dedup_semantic; cells are
      // cosine-argmax against the TRAINED table. DuckDB replays trainer +
      // assignment + pairing + recursive closure + keep rule end to end.
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        val km = Clustering.kmeans(vecs, k = 8, assignRounds = 3, portable = true)
        SemDedup.semDedupTrained(vecs, threshold = 0.35, centroids = km.centroids)
      },
      Some(
        s"""WITH RECURSIVE ${kmeansOracleCtes(k = 8, dim = 64, rounds = 3)},
           |${semDedupTrainedOracleCtes("c2", 0.35)}
           |SELECT vec_id, CAST(cell AS BIGINT) AS cell, round(ccos, 6) AS ccos,
           |  cluster,
           |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_n,
           |  (row_number() OVER (PARTITION BY cluster ORDER BY ccos, vec_id) = 1)
           |    AS keep
           |FROM lab""".stripMargin)),
    (
      "q_pipeline_curation",
      // the embedding-side curation recipe as ONE composed program:
      // k-means training → SemDeDup over the trained centroids (keep one
      // representative per semantic-duplicate group) → cluster-balanced
      // quota over the survivors. Every stage is the already-oracled
      // operator; this row proves they COMPOSE (the trainer's bounded
      // driver collects feed both downstream stages from one run). DuckDB
      // replays trainer, dedup chain, keep rule and ranked quota.
      (s, d) => {
        val vecs = t(s, d, "embeddings")
        val km = Clustering.kmeans(vecs, k = 8, assignRounds = 3, portable = true)
        val kept = SemDedup.semDedupTrained(vecs, threshold = 0.35, centroids = km.centroids)
          .filter(col("keep")).select("vec_id")
        Sampling.clusterBalanced(
          vecs.join(kept, Seq("vec_id"), "left_semi"), km.centroids,
          perCluster = 10, seed = 42L, portable = true)
      },
      Some(
        s"""WITH RECURSIVE ${kmeansOracleCtes(k = 8, dim = 64, rounds = 3)},
           |${semDedupTrainedOracleCtes("c2", 0.35)},
           |keepers AS (
           |  SELECT vec_id FROM (
           |    SELECT vec_id,
           |      row_number() OVER (PARTITION BY cluster ORDER BY ccos, vec_id) AS kr
           |    FROM lab) WHERE kr = 1)
           |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, rk FROM (
           |  SELECT a.vec_id, a.cluster,
           |    CAST(row_number() OVER (PARTITION BY a.cluster
           |      ORDER BY (42 + (a.vec_id % 1000000007) * 73856093)
           |                 % 1000000007 % 1000000, a.vec_id) AS BIGINT) AS rk
           |  FROM a3 a JOIN keepers k ON k.vec_id = a.vec_id) WHERE rk <= 10""".stripMargin)),
    (
      "q_dedup_lines",
      // corpus-level line dedup (CCNet/RefinedWeb analog of C4's repeated-
      // span rule): the testdata has no newlines, so both engines first
      // rebuild each doc as 8-word lines (aligned chunks — 150+ repeat
      // across docs at sf0.01), then every repeated line survives only at
      // its globally-first (doc_id, idx) occurrence.
      (s, d) => {
        val tk = "split(text, '\\\\s+')"
        val chunked = t(s, d, "documents").select(
          col("doc_id"),
          expr(
            "array_join(transform(sequence(0, (size(" + tk + ") + 7) div 8 - 1), " +
              "i -> array_join(slice(" + tk + ", i * 8 + 1, 8), ' ')), '\\n')").as("text"))
        Dedup.dedupLines(chunked)
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM documents),
          |ch AS (
          |  SELECT doc_id, list_transform(range(0, (len(tk) + 7) // 8),
          |    i -> array_to_string(tk[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' '))
          |    AS lines FROM t),
          |l AS (SELECT doc_id, lines, unnest(range(1, len(lines) + 1)) AS j FROM ch),
          |l2 AS (SELECT doc_id, j - 1 AS idx, lines[CAST(j AS INT)] AS line FROM l),
          |k AS (SELECT doc_id, idx, line, md5(trim(line)) AS kk,
          |        trim(line) = '' AS emp FROM l2),
          |rn AS (SELECT doc_id, idx, line, emp,
          |         row_number() OVER (PARTITION BY kk ORDER BY doc_id, idx) AS rn
          |       FROM k),
          |kp AS (SELECT doc_id, idx, line, (emp OR rn = 1) AS keep FROM rn)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
          |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE keep), '')
          |    AS clean_text
          |FROM kp GROUP BY doc_id""".stripMargin)),
    (
      "q_text_classifier",
      // hashed-bag-of-words linear classifier (fastText/CCNet-filter
      // shape): portable polynomial token hash → 4096 buckets → integer
      // weight sum (order-independent long fold) → mean-margin score.
      // Weights derive from the bucket index — the trained-model plug-in
      // boundary; DuckDB replays hash, weights, sum and the one double
      // division bit for bit.
      (s, d) => TextAnalysis.classifierScore(
        t(s, d, "documents"), dim = 4096, seed = 7L),
      Some(
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tk
           |  FROM documents),
           |b AS (
           |  SELECT doc_id,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(string_split(tk, ''), c -> CAST(ascii(c) % 65536 AS BIGINT))),
           |      (acc, c) -> (acc * 31 + c) % 1000000007) % 4096 AS bkt
           |  FROM tok WHERE tk <> ''),
           |w AS (SELECT doc_id, (bkt + 7) * 2654435761 % 1000003 - 500001 AS w FROM b),
           |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |        CAST(sum(w) AS BIGINT) AS raw FROM w GROUP BY doc_id)
           |SELECT doc_id, n_tokens,
           |  round(CAST(raw AS DOUBLE) / (n_tokens * 500001.0), 6) AS score,
           |  raw > 0 AS keep
           |FROM a""".stripMargin)),
    (
      "q_sample_epoch",
      // deterministic epoch shuffle: training order as a pure function of
      // (seed, epoch, id) — shard by full-range portable hash, position by
      // (hash, id) within shard; NO global sort. DuckDB replays the hash
      // and both window rules exactly.
      (s, d) => Sampling
        .epochShuffle(t(s, d, "documents"), nShards = 8, seed = 42L, epoch = 1,
          portable = true)
        .select(col("doc_id"), col("shard"), col("pos")),
      Some(
        """WITH h AS (
          |  SELECT doc_id,
          |    (42000127 + (doc_id % 1000000007) * 73856093) % 1000000007 AS h
          |  FROM documents)
          |SELECT doc_id, h % 8 AS shard,
          |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
          |FROM h""".stripMargin)),
    (
      "q_sample_repeat",
      // weighted repetition (the GPT-3/Llama multi-epoch mixture rule):
      // floor(w) copies per row plus a deterministic fractional copy —
      // src0×3.4, src1×1, src2×0.5, src3×2.25, every other source
      // weight-0; the oracle replays the hash and the copy expansion
      (s, d) => Sampling.repeatWeighted(
        t(s, d, "documents"), "source",
        Map("src0" -> 3.4, "src1" -> 1.0, "src2" -> 0.5, "src3" -> 2.25),
        portable = true)
        .select(col("doc_id"), col("source"), col("copy")),
      Some(
        """WITH w(source, base, thr) AS (VALUES
          |  ('src0', 3, 400000), ('src1', 1, 0),
          |  ('src2', 0, 500000), ('src3', 2, 250000)),
          |c AS (
          |  SELECT d.doc_id, d.source,
          |    base + CASE WHEN (42 + ((d.doc_id % 1000000007 + 1000000007) % 1000000007)
          |      * 73856093) % 1000000007 % 1000000 < thr THEN 1 ELSE 0 END AS copies
          |  FROM documents d JOIN w USING (source))
          |SELECT doc_id, source,
          |  CAST(unnest(generate_series(1, copies)) AS BIGINT) AS copy
          |FROM c""".stripMargin)),
    (
      "q_text_analyze",
      (s, d) => TextAnalysis.analyze(t(s, d, "documents"))
        .select("doc_id", "n_tokens", "n_subwords", "fingerprint", "pred_lang", "quality"),
      Some {
        def hits(words: Seq[String]): String = words
          .map(w => s"(CASE WHEN ' ' || lower(text) || ' ' LIKE '% $w %' THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val hEn = hits(Seq("the", "and", "of", "to", "is"))
        val hDe = hits(Seq("der", "und", "die", "das", "ist"))
        val hFr = hits(Seq("le", "et", "la", "les", "est"))
        val hEs = hits(Seq("el", "y", "la", "los", "es"))
        s"""WITH h AS (
           |  SELECT doc_id, text, ($hEn) AS h_en, ($hDe) AS h_de,
           |    ($hFr) AS h_fr, ($hEs) AS h_es
           |  FROM documents)
           |SELECT doc_id,
           |  len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
           |  len(regexp_split_to_array(text, '\\s+'))
           |    + len(regexp_extract_all(text, '[a-z][A-Z]'))
           |    + len(regexp_extract_all(text, '[A-Za-z][0-9]'))
           |    + len(regexp_extract_all(text, '[0-9][A-Za-z]')) AS n_subwords,
           |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
           |  CASE
           |    WHEN h_en > 0 AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
           |    WHEN h_de > 0 AND h_de >= h_fr AND h_de >= h_es THEN 'de'
           |    WHEN h_fr > 0 AND h_fr >= h_es THEN 'fr'
           |    WHEN h_es > 0 THEN 'es'
           |    ELSE 'unknown' END AS pred_lang,
           |  round(
           |    (CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.3 END) * 0.4
           |    + (length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) * 1.0
           |       / greatest(length(text), 1)) * 0.3
           |    + (len(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) * 1.0
           |       / greatest(len(regexp_split_to_array(text, '\\s+')), 1)) * 0.3, 6)
           |    AS quality
           |FROM h""".stripMargin
      }),

    // ---- temporal window sets (rolling windows, §2.5) ----
    (
      "q_temporal_rolling",
      // rolling(window=2 days, step=1 day): epoch-aligned starts; each event
      // belongs to exactly 2 windows (reference rolling(), time.rs:178)
      (s, d) =>
        t(s, d, "events")
          .select(
            explode(array(
              date_trunc("day", col("ts")) - expr("INTERVAL 1 DAY"),
              date_trunc("day", col("ts")))).as("w_start"),
            col("user_id"),
            col("value"))
          .groupBy("w_start")
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            round(sum(col("value")), 2).as("total_value")),
      Some(
        """SELECT w_start, count(*) AS n_events,
          |  count(DISTINCT user_id) AS n_users, round(sum(value), 2) AS total_value
          |FROM (SELECT unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
          |                     date_trunc('day', ts)]) AS w_start, user_id, value
          |      FROM events)
          |GROUP BY w_start""".stripMargin)),
    (
      "q_temporal_snapshot",
      // snapshot_at semantics: everything at or before the cut
      // (reference time.rs:127)
      (s, d) => {
        val g = TemporalGraph(eventEdges(s, d)).snapshotAt(1705000000000L)
        g.edges.groupBy("layer").agg(
          count(lit(1)).as("n_edges"),
          countDistinct(col("src")).as("n_srcs"))
      },
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_id, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tsm FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT layer, count(*) AS n_edges, count(DISTINCT src) AS n_srcs
           |FROM e0 WHERE tsm <= 1705000000000
           |GROUP BY layer""".stripMargin)),

    // ---- view-composition interpreter (GraphQL apply_views analog) ----
    (
      "q_view_chain",
      // ordered chain over the events link graph, then the sorted/paged
      // edges resolver — the reference's apply_views contract
      // (graph.rs:857-920) + edges page (nodes.rs:335-455): a window that
      // is later SHRUNK (clamps, never widens), a layer exclusion, an
      // exclusive `after`, node exclusions and a composite edge predicate.
      (s, d) => {
        import graft.graph.GraphViews
        import graft.graph.GraphViews.ViewOp
        val view = GraphViews.applyViews(
          eventGraph(s, d),
          Seq(
            ViewOp.Window(1704240000000L, 1706227200000L), // [Jan 3, Jan 26)
            ViewOp.ExcludeLayers(Seq("error")),
            ViewOp.After(1704499200000L), // ts > Jan 6
            ViewOp.ShrinkWindow(1704326400000L, 1705881600000L), // clamp end to Jan 22
            ViewOp.ExcludeNodes(Seq(5L, 10L, 15L)),
            ViewOp.EdgeFilter(pmod(col("src"), lit(7)) =!= 0)))
        GraphViews
          .edgesPage(
            view,
            sort = Seq(GraphViews.SortKey("ts", desc = true)),
            offset = 5,
            limit = 40)
          .select(col("src"), col("dst"), col("ts"), col("event_id"), col("layer"))
      },
      Some(
        """WITH e0 AS (
          |  SELECT user_id AS src, dst, event_id, event_type AS layer,
          |    epoch_us(ts) // 1000 AS tms FROM (
          |    SELECT user_id, event_type, event_id, ts,
          |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
          |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
          |f AS (
          |  SELECT src, dst, tms AS ts, event_id, layer FROM e0
          |  WHERE tms >= 1704240000000 AND tms < 1706227200000
          |    AND layer <> 'error'
          |    AND tms > 1704499200000
          |    AND tms < 1705881600000
          |    AND src NOT IN (5, 10, 15) AND dst NOT IN (5, 10, 15)
          |    AND (src % 7) <> 0)
          |SELECT src, dst, ts, event_id, layer FROM f
          |ORDER BY ts DESC, src, dst, event_id
          |LIMIT 40 OFFSET 5""".stripMargin)),

    (
      "q_view_chain_json",
      // the SAME apply_views contract driven end to end through the JSON
      // wire format (graph.GraphQuery — the GraphQL request-document analog,
      // filtering.rs:54-95): parse → typed ViewOp chain + Pred tree →
      // interpret → paged edges resolver
      (s, d) => {
        val json =
          """{"view":[
            |  {"op":"window","start":1704240000000,"end":1706227200000},
            |  {"op":"excludeLayers","names":["error"]},
            |  {"op":"after","time":1704499200000},
            |  {"op":"shrinkWindow","start":1704326400000,"end":1705881600000},
            |  {"op":"excludeNodes","ids":[5,10,15]},
            |  {"op":"edgeFilter","filter":{"and":[
            |     {"field":"layer","ne":"purchase"},
            |     {"not":{"field":"src","in":[21,42]}}]}}],
            | "select":{"target":"edges",
            |           "sort":[{"column":"ts","desc":true}],
            |           "offset":5,"limit":40}}""".stripMargin
        graft.graph.GraphQuery.run(eventGraph(s, d), json)
          .select(col("src"), col("dst"), col("ts"), col("event_id"), col("layer"))
      },
      Some(
        """WITH e0 AS (
          |  SELECT user_id AS src, dst, event_id, event_type AS layer,
          |    epoch_us(ts) // 1000 AS tms FROM (
          |    SELECT user_id, event_type, event_id, ts,
          |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
          |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
          |f AS (
          |  SELECT src, dst, tms AS ts, event_id, layer FROM e0
          |  WHERE tms >= 1704240000000 AND tms < 1706227200000
          |    AND layer <> 'error'
          |    AND tms > 1704499200000
          |    AND tms < 1705881600000
          |    AND src NOT IN (5, 10, 15) AND dst NOT IN (5, 10, 15)
          |    AND layer <> 'purchase'
          |    AND src NOT IN (21, 42))
          |SELECT src, dst, ts, event_id, layer FROM f
          |ORDER BY ts DESC, src, dst, event_id
          |LIMIT 40 OFFSET 5""".stripMargin)),

    (
      "q_view_algorithm",
      // algorithm invocation THROUGH the JSON wire format (the reference's
      // GraphQL algorithm plugins, graph_algorithm_plugin.rs:30-40):
      // window + layer-exclusion view chain composes first, pagerank runs
      // on the composed view; DuckDB replays the identical fixed-iteration
      // run over the identically-filtered edge set
      (s, d) => {
        val json =
          """{"view":[
            |  {"op":"window","start":1704240000000,"end":1706227200000},
            |  {"op":"excludeLayers","names":["error"]}],
            | "algorithm":{"name":"pagerank",
            |              "params":{"iterCount":10,"tol":0.0}}}""".stripMargin
        graft.graph.GraphQuery.run(eventGraph(s, d), json)
          .select(col("id"), round(col("score"), 6).as("score"))
      },
      Some(pageRankOracleSqlOver(viewedGraphBaseSql, iters = 10, damping = 0.85))),
    (
      "q_view_algorithm_kcore",
      // the widened wire-format algorithm surface: an undirected peel
      // (kcore) over the same composed window+layer view — the oracle
      // replays the peel to fixpoint over the identically-filtered
      // undirected pair set
      (s, d) => {
        val json =
          """{"view":[
            |  {"op":"window","start":1704240000000,"end":1706227200000},
            |  {"op":"excludeLayers","names":["error"]}],
            | "algorithm":{"name":"kcore","params":{"k":4}}}""".stripMargin
        graft.graph.GraphQuery.run(eventGraph(s, d), json)
      },
      Some(kcoreOracleSqlOver(viewedGraphBaseSqlWithU, k = 4, rounds = 48) +
        " ORDER BY id")),

    (
      "q_cypher_match",
      // Cypher-lite frontend (raphtory-cypher transpiler shapes): layered
      // single-hop MATCH with a WHERE over edge time, projected bindings
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) WHERE e.time > 1704499200000 AND a <> b RETURN a, b, e.time"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT src AS a, dst AS b, tms AS e_ts FROM e0
           |WHERE layer = 'click' AND tms > 1704499200000 AND src <> dst""".stripMargin)),
    (
      "q_cypher_chain",
      // two-hop MATCH chain across layers with a cross-hop time predicate,
      // aggregated — the hop-join shape raphtory-cypher's HopExec optimizes
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e1:click]->(b)-[e2:view]->(c) WHERE e1.time < e2.time RETURN COUNT(*) AS n"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT dst, tms FROM e0 WHERE layer = 'click') x
           |JOIN (SELECT src, tms FROM e0 WHERE layer = 'view') y
           |  ON x.dst = y.src AND x.tms < y.tms""".stripMargin)),
    (
      "q_cypher_multi",
      // MULTI-pattern MATCH (transpiler parse_tables_2 shape): two
      // comma-separated patterns equi-join on their shared node variable b
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b), (b)-[f:view]->(c) " +
          "WHERE e.time < f.time RETURN a, b, c, f.time AS view_ts"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT x.src AS a, x.dst AS b, y.dst AS c, y.tms AS view_ts
           |FROM (SELECT src, dst, tms FROM e0 WHERE layer = 'click') x
           |JOIN (SELECT src, dst, tms FROM e0 WHERE layer = 'view') y
           |  ON x.dst = y.src AND x.tms < y.tms""".stripMargin)),
    (
      "q_cypher_groupby",
      // Cypher's IMPLICIT grouping (transpiler returns :372-437): mixing a
      // plain binding with aggregates groups by the binding — here both a
      // plain COUNT(e) and a COUNT(DISTINCT b) per source node
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) RETURN a, COUNT(e) AS n_clicks, " +
          "COUNT(DISTINCT b) AS n_dsts ORDER BY a LIMIT 500"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT src AS a, CAST(count(*) AS BIGINT) AS n_clicks,
           |       CAST(count(DISTINCT dst) AS BIGINT) AS n_dsts
           |FROM e0 WHERE layer = 'click'
           |GROUP BY src ORDER BY src LIMIT 500""".stripMargin)),
    (
      "q_cypher_unique",
      // Cypher RELATIONSHIP UNIQUENESS (reference unique_edge_filter,
      // transpiler/mod.rs:697-705, applied MATCH-wide): two same-layer rel
      // vars sharing their head node — the e=f diagonal (same event) is
      // excluded, so the count is Σ_b indeg(b)·(indeg(b)−1), not Σ indeg².
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b), (c)-[f:click]->(b) RETURN COUNT(*) AS n"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer, event_id FROM (
           |    SELECT user_id, event_type, event_id,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT dst, event_id FROM e0 WHERE layer = 'click') x
           |JOIN (SELECT dst, event_id FROM e0 WHERE layer = 'click') y
           |  ON x.dst = y.dst AND x.event_id <> y.event_id""".stripMargin)),
    (
      "q_cypher_props",
      // pattern PROPERTY MAPS (ast.rs NodePattern/RelPattern.props,
      // transpiler mod.rs:875-917): rel-map layer pin + node-map id pin,
      // desugared to equality conjuncts
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e {layer: 'view'}]->(b {id: 7}) RETURN a, e.time AS tms ORDER BY tms, a"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT src AS a, tms FROM e0
           |WHERE layer = 'view' AND dst = 7 ORDER BY tms, a""".stripMargin)),
    (
      "q_cypher_varlen",
      // VARIABLE-LENGTH hops `-[:click*1..2]->` (beyond the reference's
      // frontend; openCypher semantics): union of the 1-hop and 2-hop
      // click chains, per-path edges distinct (relationship uniqueness),
      // then Cypher implicit grouping — paths per source node
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[:click*1..2]->(b) RETURN a, COUNT(*) AS n_paths ORDER BY a LIMIT 500"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer, event_id FROM (
           |    SELECT user_id, event_type, event_id,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |c AS (SELECT src, dst, event_id FROM e0 WHERE layer = 'click'),
           |paths AS (
           |  SELECT src AS a FROM c
           |  UNION ALL
           |  SELECT x.src AS a FROM c x JOIN c y
           |    ON x.dst = y.src AND x.event_id <> y.event_id)
           |SELECT a, CAST(count(*) AS BIGINT) AS n_paths
           |FROM paths GROUP BY a ORDER BY a LIMIT 500""".stripMargin)),
    (
      "q_cypher_optional",
      // OPTIONAL MATCH (beyond the reference's frontend; openCypher
      // semantics): left-join on the shared node b, the optional clause's
      // own WHERE filtering candidate views but never the base click rows;
      // COUNT(f) skips unmatched (null) bindings
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) OPTIONAL MATCH (b)-[f:view]->(c) " +
          "WHERE f.time > 1706606940000 " +
          "RETURN a, b, COUNT(f) AS n_views ORDER BY a, b LIMIT 500"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT x.src AS a, x.dst AS b, CAST(count(y.src) AS BIGINT) AS n_views
           |FROM (SELECT src, dst FROM e0 WHERE layer = 'click') x
           |LEFT JOIN (SELECT src FROM e0
           |           WHERE layer = 'view' AND tms > 1706606940000) y
           |  ON x.dst = y.src
           |GROUP BY x.src, x.dst ORDER BY a, b LIMIT 500""".stripMargin)),
    (
      "q_cypher_node_props",
      // NODE PROPERTIES (beyond the reference's frontend): `a.field` on a
      // node variable resolves against a property table (id, field, …) by
      // left join on the node id — here per-user event counts. The WHERE
      // filters on the source's property; the RETURN projects the
      // destination's (null-safe, openCypher missing-property semantics).
      (s, d) => {
        val props = t(s, d, "events")
          .groupBy(col("user_id").as("id"))
          .agg(count(lit(1)).as("n_events"))
        graft.graph.CypherLite.run(
          eventGraph(s, d),
          "MATCH (a)-[e:click]->(b) WHERE a.n_events > 70 " +
            "RETURN a, b, b.n_events AS bn",
          props)
      },
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |np AS (
           |  SELECT user_id AS id, CAST(count(*) AS BIGINT) AS n_events
           |  FROM events GROUP BY user_id)
           |SELECT e0.src AS a, e0.dst AS b, bb.n_events AS bn
           |FROM e0 JOIN np aa ON aa.id = e0.src
           |LEFT JOIN np bb ON bb.id = e0.dst
           |WHERE e0.layer = 'click' AND aa.n_events > 70""".stripMargin)),
    (
      "q_cypher_labels",
      // node LABELS: (a:power)-[:click]->(b:casual) desugars onto the
      // property frame's node_type column — activity-derived labels, with
      // implicit grouping over the labeled pairs
      (s, d) => {
        val props = t(s, d, "events")
          .groupBy(col("user_id").as("id"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn(
            "node_type",
            when(col("n_events") > 60, lit("power")).otherwise(lit("casual")))
        graft.graph.CypherLite.run(
          eventGraph(s, d),
          "MATCH (a:power)-[e:click]->(b:casual) RETURN a, b, COUNT(e) AS n ORDER BY a, b",
          props)
      },
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |np AS (
           |  SELECT user_id AS id,
           |    CASE WHEN count(*) > 60 THEN 'power' ELSE 'casual' END AS node_type
           |  FROM events GROUP BY user_id)
           |SELECT e0.src AS a, e0.dst AS b, CAST(count(*) AS BIGINT) AS n
           |FROM e0 JOIN np aa ON aa.id = e0.src
           |JOIN np bb ON bb.id = e0.dst
           |WHERE e0.layer = 'click' AND aa.node_type = 'power'
           |  AND bb.node_type = 'casual'
           |GROUP BY 1, 2 ORDER BY a, b""".stripMargin)),
    (
      "q_cypher_with",
      // WITH pipeline (beyond the reference's frontend; openCypher
      // semantics): implicit grouping midway (b, COUNT(e)), the WITH's
      // WHERE filtering the PROJECTED rows (the HAVING shape), then a
      // chained MATCH equi-joining on the carried node variable b with the
      // carried scalar visible in RETURN
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) WITH b, COUNT(e) AS clicks WHERE clicks > 2 " +
          "MATCH (b)-[f:view]->(c) RETURN b, clicks, COUNT(f) AS views " +
          "ORDER BY b LIMIT 500"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |hot AS (
           |  SELECT dst AS b, CAST(count(*) AS BIGINT) AS clicks
           |  FROM e0 WHERE layer = 'click' GROUP BY dst HAVING count(*) > 2)
           |SELECT h.b AS b, h.clicks AS clicks, CAST(count(*) AS BIGINT) AS views
           |FROM hot h JOIN (SELECT src FROM e0 WHERE layer = 'view') y
           |  ON y.src = h.b
           |GROUP BY h.b, h.clicks ORDER BY b LIMIT 500""".stripMargin)),
    (
      "q_cypher_with_topk",
      // WITH ORDER BY + LIMIT: a mid-pipeline top-k (the ten hottest click
      // sources, ties broken by node id) feeding a second MATCH — the
      // openCypher idiom Spark plans as TakeOrderedAndProject before the
      // downstream join
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) WITH a, COUNT(e) AS n ORDER BY n DESC, a LIMIT 10 " +
          "MATCH (a)-[f:view]->(c) RETURN a, n, COUNT(f) AS views ORDER BY a"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |top AS (
           |  SELECT src AS a, CAST(count(*) AS BIGINT) AS n
           |  FROM e0 WHERE layer = 'click' GROUP BY src
           |  ORDER BY n DESC, a LIMIT 10)
           |SELECT t.a AS a, t.n AS n, CAST(count(*) AS BIGINT) AS views
           |FROM top t JOIN (SELECT src FROM e0 WHERE layer = 'view') y
           |  ON y.src = t.a
           |GROUP BY t.a, t.n ORDER BY a""".stripMargin)),
    (
      "q_cypher_agg",
      // the full aggregate family (SUM/MIN/MAX + COUNT/COUNT DISTINCT)
      // under implicit grouping — openCypher's RETURN-clause aggregation
      // beyond the reference transpiler's COUNT-only shapes
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) RETURN a, COUNT(e) AS n, " +
          "MIN(e.time) AS first_ts, MAX(e.time) AS last_ts, " +
          "SUM(e.time) AS total_ts, COUNT(DISTINCT b) AS nb " +
          "ORDER BY a LIMIT 500"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT src AS a, CAST(count(*) AS BIGINT) AS n,
           |  min(tms) AS first_ts, max(tms) AS last_ts,
           |  CAST(sum(tms) AS BIGINT) AS total_ts,
           |  CAST(count(DISTINCT dst) AS BIGINT) AS nb
           |FROM e0 WHERE layer = 'click'
           |GROUP BY src ORDER BY a LIMIT 500""".stripMargin)),
    (
      "q_cypher_distinct_skip",
      // RETURN DISTINCT + ORDER BY + SKIP/LIMIT — openCypher row dedup
      // and keyset-free pagination; the full ORDER BY over both output
      // columns makes the page deterministic
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) RETURN DISTINCT a, b ORDER BY a, b SKIP 10 LIMIT 50"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT DISTINCT src AS a, dst AS b FROM e0 WHERE layer = 'click'
           |ORDER BY a, b LIMIT 50 OFFSET 10""".stripMargin)),
    (
      "q_cypher_arith",
      // value arithmetic as a grouping key and inside WHERE: user-id
      // cohorts (a % 100) over recent clicks, counted with the window's
      // latest timestamp
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) WHERE e.time - 1704240000000 > 0 " +
          "RETURN a % 100 AS cohort, COUNT(*) AS n, MAX(e.time) AS last_ts ORDER BY cohort"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT src % 100 AS cohort, CAST(count(*) AS BIGINT) AS n,
           |  max(tms) AS last_ts
           |FROM e0 WHERE layer = 'click' AND tms - 1704240000000 > 0
           |GROUP BY src % 100 ORDER BY cohort""".stripMargin)),
    (
      "q_cypher_union",
      // UNION set semantics across whole queries: distinct union of click
      // sources and view targets
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) RETURN a AS id " +
          "UNION MATCH (a2)-[f:view]->(b2) RETURN b2 AS id"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT src AS id FROM e0 WHERE layer = 'click'
           |UNION
           |SELECT dst FROM e0 WHERE layer = 'view'""".stripMargin)),
    (
      "q_cypher_unwind",
      // UNWIND row generation (openCypher): a literal cohort list unwound
      // into scope, the following MATCH's WHERE referencing the unwound
      // value (Catalyst rewrites the cross-join + equality into an
      // equi-join); per-cohort aggregates under implicit grouping
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "UNWIND [0, 1, 2] AS cohort MATCH (a)-[e:click]->(b) " +
          "WHERE a % 3 = cohort " +
          "RETURN cohort, COUNT(e) AS n, COUNT(DISTINCT a) AS na ORDER BY cohort"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |cohorts AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS cohort)
           |SELECT c.cohort, CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(DISTINCT e0.src) AS BIGINT) AS na
           |FROM cohorts c JOIN e0 ON e0.layer = 'click' AND e0.src % 3 = c.cohort
           |GROUP BY c.cohort ORDER BY c.cohort""".stripMargin)),
    (
      "q_graph_null_permuted",
      // permuted-timestamps null model (reference python surface,
      // nullmodels.py:93 permuted_timestamps_model; Holme–Saramäki
      // randomized reference models): the edge list with ts shuffled
      // across rows by the deterministic two-hash-rank permutation —
      // static multigraph and timestamp multiset preserved, temporal
      // ordering destroyed. Full replay: DuckDB ranks rows and values
      // under the same portable two-stage hashes with plain global
      // row_numbers; Spark's two-phase sharded rank must agree exactly.
      (s, d) => graft.graph.NullModels
        .permutedTimestamps(eventEdges(s, d), seed = 42L)
        .select(col("event_id"), col("src"), col("dst"), col("layer"), col("ts")),
      Some {
        import graft.ml.GraphLearn._
        val h1 = hmixSql(0L, hmixSql(42L, "event_id" -> M1) -> M3)
        val h2 = hmixSql(0L, hmixSql(42L, "event_id" -> M2) -> M4)
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_id, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |r1 AS (
           |  SELECT src, dst, event_id, layer,
           |    row_number() OVER (ORDER BY $h1, event_id) AS rk FROM e0),
           |r2 AS (
           |  SELECT tms,
           |    row_number() OVER (ORDER BY $h2, event_id) AS rk FROM e0)
           |SELECT r1.event_id, r1.src, r1.dst, r1.layer, r2.tms AS ts
           |FROM r1 JOIN r2 USING (rk)""".stripMargin
      }),
    (
      "q_graph_null_config",
      // directed configuration model (degree-preserving rewiring): the
      // dst column permuted whole — per-node out- AND in-degree sequences
      // exactly preserved, all src↔dst correlation destroyed. Same
      // two-hash-rank permutation, replayed with plain global
      // row_numbers in DuckDB
      (s, d) => graft.graph.NullModels
        .configurationModel(eventEdges(s, d), seed = 21L)
        .select(col("event_id"), col("src"), col("dst"), col("layer"), col("ts")),
      Some {
        import graft.ml.GraphLearn._
        val h1 = hmixSql(0L, hmixSql(21L, "event_id" -> M1) -> M3)
        val h2 = hmixSql(0L, hmixSql(21L, "event_id" -> M2) -> M4)
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_id, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |r1 AS (
           |  SELECT src, event_id, layer, tms,
           |    row_number() OVER (ORDER BY $h1, event_id) AS rk FROM e0),
           |r2 AS (
           |  SELECT dst,
           |    row_number() OVER (ORDER BY $h2, event_id) AS rk FROM e0)
           |SELECT r1.event_id, r1.src, r2.dst, r1.layer, r1.tms AS ts
           |FROM r1 JOIN r2 USING (rk)""".stripMargin
      }),
    (
      "q_graph_null_motif_delta",
      // temporal-motif SIGNIFICANCE against the permuted-timestamps null
      // (the headline use of time shuffling — Paranjape et al. compare
      // motif counts to randomized-reference counts): the full 40-dim
      // census on the observed event graph AND on the same edges with
      // timestamps permuted, per-motif delta = the temporal signal the
      // shuffle destroys. The null leg's oracle feeds the permuted edge
      // list through the IDENTICAL brute-force census CTEs.
      (s, d) => {
        val g = eventGraph(s, d)
        val obs = graft.algos.TemporalMotifs.global(s, g, deltaMs = 7200000L)
          .select(col("motif_id"), col("count").as("observed"))
        val nulG = TemporalGraph(
          graft.graph.NullModels.permutedTimestamps(g.edges, seed = 5L))
        val nul = graft.algos.TemporalMotifs.global(s, nulG, deltaMs = 7200000L)
          .select(col("motif_id"), col("count").as("null_model"))
        obs.join(nul, Seq("motif_id")).select(
          col("motif_id"),
          col("observed"),
          col("null_model"),
          (col("observed") - col("null_model")).as("delta"))
      },
      Some {
        import graft.ml.GraphLearn._
        val h1 = hmixSql(0L, hmixSql(5L, "event_id" -> M1) -> M3)
        val h2 = hmixSql(0L, hmixSql(5L, "event_id" -> M2) -> M4)
        val permEv =
          s"""SELECT r1.src, r1.dst, r2.tms, r1.event_id
             |FROM (SELECT src, dst, event_id,
             |        row_number() OVER (ORDER BY $h1, event_id) AS rk
             |      FROM ($motifEvSelect)) r1
             |JOIN (SELECT tms,
             |        row_number() OVER (ORDER BY $h2, event_id) AS rk
             |      FROM ($motifEvSelect)) r2 USING (rk)""".stripMargin
        s"""SELECT o.motif_id, o.count AS observed, n.count AS null_model,
           |  o.count - n.count AS delta
           |FROM (${motifGlobalCensusSql(7200000L)}) o
           |JOIN (${motifGlobalCensusSql(7200000L, Some(permEv))}) n
           |  USING (motif_id)""".stripMargin
      }),
    (
      "q_graph_null_delta",
      // the null-model WORKFLOW end to end: a temporal statistic
      // (global reciprocity) measured on the observed graph AND on its
      // degree-preserving configuration model, with the delta — the
      // signal a null model exists to isolate (observed reciprocity in
      // the event graph is structural; the rewired graph shows the level
      // explained by degree sequence alone). Both legs + the rewiring
      // replay exactly in DuckDB.
      (s, d) => {
        val g = eventGraph(s, d)
        val obs = Metrics.globalReciprocity(g)
        val nul = Metrics.globalReciprocity(
          TemporalGraph(graft.graph.NullModels.configurationModel(g.edges, seed = 21L)))
        import s.implicits._
        Seq((obs, nul)).toDF("o", "n").select(
          round(col("o"), 6).as("observed"),
          round(col("n"), 6).as("null_model"),
          round(round(col("o"), 6) - round(col("n"), 6), 6).as("delta"))
      },
      Some {
        import graft.ml.GraphLearn._
        val h1 = hmixSql(0L, hmixSql(21L, "event_id" -> M1) -> M3)
        val h2 = hmixSql(0L, hmixSql(21L, "event_id" -> M2) -> M4)
        s"""WITH e0 AS ($eventEdgesSql),
           |r1 AS (SELECT src, row_number() OVER (ORDER BY $h1, event_id) AS rk FROM e0),
           |r2 AS (SELECT dst, row_number() OVER (ORDER BY $h2, event_id) AS rk FROM e0),
           |ne AS (SELECT r1.src, r2.dst FROM r1 JOIN r2 USING (rk)),
           |eo AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
           |en AS (SELECT DISTINCT src, dst FROM ne WHERE src <> dst),
           |ro AS (SELECT count(*) AS n FROM eo
           |       WHERE EXISTS (SELECT 1 FROM eo x WHERE x.src = eo.dst AND x.dst = eo.src)),
           |rn AS (SELECT count(*) AS n FROM en
           |       WHERE EXISTS (SELECT 1 FROM en x WHERE x.src = en.dst AND x.dst = en.src)),
           |o AS (SELECT round(ro.n / (SELECT count(*) FROM eo), 6) AS observed FROM ro),
           |n AS (SELECT round(rn.n / (SELECT count(*) FROM en), 6) AS null_model FROM rn)
           |SELECT o.observed, n.null_model,
           |  round(o.observed - n.null_model, 6) AS delta
           |FROM o, n""".stripMargin
      }),
    (
      "q_graph_null_within",
      // grouped null model (the Holme–Saramäki link-sequence-shuffled
      // family, beyond the reference's global shuffles): timestamps
      // permuted WITHIN each layer — per-layer time multisets preserved,
      // cross-layer structure untouched. Per-group rank windows partition
      // on the group key, so DuckDB replays them as plain windowed
      // row_numbers
      (s, d) => graft.graph.NullModels
        .shuffleColumnWithin(eventEdges(s, d), "ts", Seq("layer"), "event_id", seed = 7L)
        .select(col("event_id"), col("src"), col("dst"), col("layer"), col("ts")),
      Some {
        import graft.ml.GraphLearn._
        val h1 = hmixSql(0L, hmixSql(7L, "event_id" -> M1) -> M3)
        val h2 = hmixSql(0L, hmixSql(7L, "event_id" -> M2) -> M4)
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_id, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id),
           |r1 AS (
           |  SELECT src, dst, event_id, layer,
           |    row_number() OVER (PARTITION BY layer ORDER BY $h1, event_id) AS rk
           |  FROM e0),
           |r2 AS (
           |  SELECT layer, tms,
           |    row_number() OVER (PARTITION BY layer ORDER BY $h2, event_id) AS rk
           |  FROM e0)
           |SELECT r1.event_id, r1.src, r1.dst, r1.layer, r2.tms AS ts
           |FROM r1 JOIN r2 USING (layer, rk)""".stripMargin
      }),
    (
      "q_cypher_exists",
      // [NOT] EXISTS pattern predicate → left semi/anti join: click edges
      // whose target also emits a view edge, counted per target (the
      // two-hop reachability shape without row duplication)
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) WHERE EXISTS { MATCH (b)-[f:view]->(c) } " +
          "RETURN b, COUNT(e) AS n ORDER BY b LIMIT 100"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT c.dst AS b, CAST(count(*) AS BIGINT) AS n
           |FROM e0 c
           |WHERE c.layer = 'click' AND EXISTS (
           |  SELECT 1 FROM e0 v WHERE v.layer = 'view' AND v.src = c.dst)
           |GROUP BY c.dst ORDER BY b LIMIT 100""".stripMargin)),
    (
      "q_cypher_scalarfns",
      // scalar functions as implicit grouping keys: upper-cased layer and
      // the absolute id distance of each click edge, counted per pair
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) " +
          "RETURN toUpper(e.layer) AS l, abs(a - b) AS dist, COUNT(*) AS n " +
          "ORDER BY l, dist LIMIT 200"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT upper(layer) AS l, abs(src - dst) AS dist,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM e0 WHERE layer = 'click'
           |GROUP BY 1, 2 ORDER BY l, dist LIMIT 200""".stripMargin)),
    (
      "q_cypher_case",
      // generic-form CASE as an implicit grouping key: time-of-window
      // buckets over click edges, counted per bucket
      (s, d) => graft.graph.CypherLite.run(
        eventGraph(s, d),
        "MATCH (a)-[e:click]->(b) " +
          "RETURN CASE WHEN e.time < 1704326400000 THEN 'd1' " +
          "WHEN e.time < 1704499200000 THEN 'd2' ELSE 'later' END AS bucket, " +
          "COUNT(*) AS n, COUNT(DISTINCT a) AS na ORDER BY bucket"),
      Some(
        s"""WITH e0 AS (
           |  SELECT user_id AS src, dst, event_type AS layer,
           |    epoch_us(ts) // 1000 AS tms FROM (
           |    SELECT user_id, event_type, event_id, ts,
           |      lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
           |    FROM events) WHERE dst IS NOT NULL AND dst <> user_id)
           |SELECT CASE WHEN tms < 1704326400000 THEN 'd1'
           |    WHEN tms < 1704499200000 THEN 'd2' ELSE 'later' END AS bucket,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(DISTINCT src) AS BIGINT) AS na
           |FROM e0 WHERE layer = 'click'
           |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- composite property-filter + prefix/fuzzy search (parity with
    //      searcher.rs:30-62 search_nodes(filter, limit, offset)) ----
    (
      "q_text_search_filtered",
      (s, d) => {
        import graft.search.TextSearch
        import graft.search.TextSearch.TermQuery
        val docs = t(s, d, "documents")
        val idx = TextSearch.buildIndex(docs, "doc_id", "text")
        TextSearch
          .searchFiltered(
            docs,
            "doc_id",
            idx,
            Seq(
              TermQuery.Exact("spark"),
              TermQuery.Prefix("win"),
              TermQuery.Fuzzy("spork", 1)),
            propertyFilter = Some(col("lang") === "en" && col("n_chars") >= 100),
            limit = 25,
            offset = 3)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      },
      Some(
        """WITH toks AS (
          |  SELECT doc_id,
          |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
          |                     t -> len(t) > 0) AS tk
          |  FROM documents),
          |postings AS (SELECT DISTINCT doc_id, u.term AS term
          |             FROM toks, unnest(tk) AS u(term)),
          |c1 AS (SELECT DISTINCT doc_id FROM postings WHERE term = 'spark'),
          |c2 AS (SELECT DISTINCT doc_id FROM postings WHERE term LIKE 'win%'),
          |c3 AS (SELECT DISTINCT doc_id FROM postings
          |       WHERE levenshtein(term, 'spork') <= 1)
          |SELECT d.doc_id, d.lang, d.source, d.n_chars
          |FROM documents d
          |JOIN c1 USING (doc_id) JOIN c2 USING (doc_id) JOIN c3 USING (doc_id)
          |WHERE d.lang = 'en' AND d.n_chars >= 100
          |ORDER BY doc_id
          |LIMIT 25 OFFSET 3""".stripMargin)),

    // ---- non-scalar property types end to end (SURVEY §1.2 mapping of
    //      the reference Prop enum, prop_enum.rs:141-157: List → array<T>,
    //      Map → map<string,T>, Decimal → decimal(p,s), NDTime →
    //      timestamp_ntz), driven through the §2.2 predicate algebra's
    //      list quantifiers (filtering.rs:385-404) ----
    (
      "q_prop_types",
      (s, d) => {
        import graft.rel.Predicates._
        val li = t(s, d, "lineitem")
        // Prop::Map needs unique keys: per (order, linenumber) max tax
        // (linenumbers repeat in the synthetic data)
        val taxmaps = li
          .groupBy(col("l_orderkey").as("order_id"), col("l_linenumber"))
          .agg(max(col("l_tax")).as("tax"))
          .groupBy("order_id")
          .agg(map_from_entries(
            sort_array(collect_list(struct(col("l_linenumber"), col("tax"))))).as("taxmap"))
        val props = li
          .groupBy(col("l_orderkey").as("order_id"))
          .agg(
            sort_array(collect_list(col("l_quantity"))).as("quantities"), // Prop::List
            sum(col("l_extendedprice").cast("decimal(18,2)")).as("total_price"), // Prop::Decimal
            max(col("l_shipdate")).as("last_ship")) // Prop::NDTime
          .join(taxmaps, Seq("order_id")) // Prop::Map
        val pred =
          F("quantities").any(_ > 45.0) &&
            F("quantities").all(_ > 0.0) &&
            Raw(col("total_price") > lit(new java.math.BigDecimal("50000.00")))
        props
          .filter(pred.compile)
          .select(
            col("order_id"),
            F("quantities").len.as("n_items"),
            element_at(col("quantities"), 1).as("q_first"),
            element_at(col("quantities"), -1).as("q_last"),
            array_max(col("quantities")).as("q_max"),
            col("taxmap")(lit(3)).as("tax3"),
            // decimal arithmetic throughout; final cast to double so both
            // engines stringify identically at the driver gate (DuckDB's
            // client converts DECIMAL to float64 on fetch)
            col("total_price").cast("double").as("total_price"),
            col("last_ship"))
      },
      Some(
        """WITH props AS (
          |  SELECT l_orderkey AS order_id,
          |    list_sort(list(l_quantity)) AS quantities,
          |    max(CASE WHEN l_linenumber = 3 THEN l_tax END) AS tax3,
          |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS total_price,
          |    max(l_shipdate) AS last_ship
          |  FROM lineitem GROUP BY l_orderkey)
          |SELECT order_id,
          |  CAST(len(quantities) AS BIGINT) AS n_items,
          |  quantities[1] AS q_first,
          |  quantities[-1] AS q_last,
          |  list_max(quantities) AS q_max,
          |  tax3, CAST(total_price AS DOUBLE) AS total_price, last_ship
          |FROM props
          |WHERE len(list_filter(quantities, q -> q > 45.0)) > 0
          |  AND len(list_filter(quantities, q -> q <= 0.0)) = 0
          |  AND total_price > 50000.00""".stripMargin))
  )

  val all: Map[String, Q] = defs.map { case (n, q, _) => n -> q }.toMap

  val oracles: Map[String, String] =
    defs.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
