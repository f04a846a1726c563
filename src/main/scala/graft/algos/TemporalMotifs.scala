package graft.algos

import graft.bsp.Pin
import graft.graph.TemporalGraph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Temporal three-node motif census (Paranjape, Benson & Leskovec, "Motifs in
 * Temporal Networks", WSDM 2017) with the reference's exact 40-dim layout
 * (raphtory/src/algorithms/motifs/global_temporal_three_node_motifs.rs:267,
 * kernels in three_node_motifs.rs):
 *
 *  - slots 0..23: star motifs (pre/mid/post × 8 direction triples), per
 *    center node, with the two-node-only sequences subtracted;
 *  - slots 24..31: two-node motifs (each unordered pair counted from both
 *    endpoints' perspectives — the reference's symmetry);
 *  - slots 32..39: triangle motifs, once per triangle.
 *
 * Spark decomposition (all counting kernels are O(events) sliding-window
 * passes over per-entity sorted event lists — the same kernels the
 * reference runs per node/pair/triangle, here applied inside `Dataset.map`
 * over grouped sorted arrays):
 *
 *  - per-pair events → TwoNodeCounter; global two-node vector = Σ (c +
 *    mirror(c)) — mirroring a count flips every direction bit, i.e. index
 *    i ↦ 7−i, so one kernel run serves both perspectives;
 *  - per-node events → StarCounter (24) summed globally; the global star
 *    block is starΣ − cycled twoΣ (the reference subtracts per node; the
 *    adjustment is linear, so global sums suffice);
 *  - triangles enumerated by ordered intersection (x1<x2<x3), each joined
 *    with the events of its three pairs → TriangleCounter with the
 *    reference's role mapping (v=x1, u=x2, w=x3).
 *
 * Scale notes (power-law safe):
 *  - triangles are enumerated DEGREE-ORIENTED (each undirected edge
 *    directed from its (degree, id)-lower endpoint, then intersected over
 *    [[Triangles]]' forward lists): a list holds the oriented out-degree
 *    (O(√m) on any graph) instead of a hub's full degree — an id-ordered
 *    enumeration puts O(deg²) wedge rows under one hub join key;
 *  - per-entity event lists (star centres, pairs — and hence triangles,
 *    whose events are the union of three pairs) are capped at
 *    `maxEventsPerEntity`: entities above the cap are EXCLUDED and
 *    reported first-class by [[droppedEntities]] (the `Dedup.maxBucket` +
 *    `*Dropped` guardrail pattern) — a 10⁸-event hub would otherwise
 *    become one multi-GB `collect_list` row in a single task. Event order
 *    is (ts, event_id) with (dir, nbr) tie-breakers for determinism on
 *    colliding ids.
 */
object TemporalMotifs {

  /** Default per-entity event cap: 2^20 events ≈ tens of MB per collected
    * row — big enough that real entities never hit it at test scales,
    * small enough that one task cannot be handed a multi-GB row. */
  val DefaultMaxEventsPerEntity: Int = 1 << 20

  // ---- counting kernels (three_node_motifs.rs:23-67, 76-190, 195-345) ----
  // dir encoding: 0 = incoming, 1 = outgoing.

  @inline private def map2d(d1: Int, d2: Int): Int = 2 * d1 + d2
  @inline private def map3d(d1: Int, d2: Int, d3: Int): Int = 4 * d1 + 2 * d2 + d3

  /** Two-node motifs over one pair's sorted events: 8 counts indexed by the
    * direction triple (three_node_motifs.rs:23-67). */
  def twoNodeCounts(times: Array[Long], dirs: Array[Int], delta: Long): Array[Long] = {
    val c1 = new Array[Long](2)
    val c2 = new Array[Long](4)
    val c3 = new Array[Long](8)
    var start = 0
    var j = 0
    while (j < times.length) {
      while (times(start) + delta < times(j)) {
        val d = dirs(start)
        c1(d) -= 1
        c2(map2d(d, 0)) -= c1(0)
        c2(map2d(d, 1)) -= c1(1)
        start += 1
      }
      val d = dirs(j)
      var d1 = 0
      while (d1 < 2) {
        var d2 = 0
        while (d2 < 2) { c3(map3d(d1, d2, d)) += c2(map2d(d1, d2)); d2 += 1 }
        d1 += 1
      }
      c2(map2d(0, d)) += c1(0)
      c2(map2d(1, d)) += c1(1)
      c1(d) += 1
      j += 1
    }
    c3
  }

  /** Mirror a two-node count vector to the other endpoint's perspective:
    * flipping every direction bit maps index i to 7 − i. */
  def mirror8(c: Array[Long]): Array[Long] = Array.tabulate(8)(i => c(7 - i))

  /** Star motifs over one center's sorted events: 24 counts =
    * pre(8) ++ mid(8) ++ post(8) (three_node_motifs.rs:76-190).
    * `nbrs` are neighbour keys (any stable labels — counts only depend on
    * neighbour identity, not on the labeling). */
  def starCounts(
      times: Array[Long],
      dirs: Array[Int],
      nbrs: Array[Long],
      delta: Long): Array[Long] = {
    val l = times.length
    val out = new Array[Long](24)
    if (l < 3) return out
    // dense-rank the neighbour keys
    val idx = new java.util.HashMap[Long, Int]()
    var i = 0
    while (i < l) { if (!idx.containsKey(nbrs(i))) idx.put(nbrs(i), idx.size()); i += 1 }
    val n = idx.size()
    val nb = new Array[Int](l)
    i = 0
    while (i < l) { nb(i) = idx.get(nbrs(i)); i += 1 }

    val preNodes = new Array[Long](2 * n)
    val postNodes = new Array[Long](2 * n)
    val preSum = new Array[Long](4)
    val midSum = new Array[Long](4)
    val postSum = new Array[Long](4)
    val countPre = new Array[Long](8)
    val countMid = new Array[Long](8)
    val countPost = new Array[Long](8)

    def pushPre(j: Int): Unit = {
      preSum(map2d(0, dirs(j))) += preNodes(0 * n + nb(j))
      preSum(map2d(1, dirs(j))) += preNodes(1 * n + nb(j))
      preNodes(dirs(j) * n + nb(j)) += 1
    }
    def pushPost(j: Int): Unit = {
      postSum(map2d(0, dirs(j))) += postNodes(0 * n + nb(j))
      postSum(map2d(1, dirs(j))) += postNodes(1 * n + nb(j))
      postNodes(dirs(j) * n + nb(j)) += 1
    }
    def popPre(j: Int): Unit = {
      preNodes(dirs(j) * n + nb(j)) -= 1
      preSum(map2d(dirs(j), 0)) -= preNodes(0 * n + nb(j))
      preSum(map2d(dirs(j), 1)) -= preNodes(1 * n + nb(j))
    }
    def popPost(j: Int): Unit = {
      postNodes(dirs(j) * n + nb(j)) -= 1
      postSum(map2d(dirs(j), 0)) -= postNodes(0 * n + nb(j))
      postSum(map2d(dirs(j), 1)) -= postNodes(1 * n + nb(j))
    }
    def processCurrent(j: Int): Unit = {
      midSum(map2d(0, dirs(j))) -= preNodes(0 * n + nb(j))
      midSum(map2d(1, dirs(j))) -= preNodes(1 * n + nb(j))
      var d1 = 0
      while (d1 < 2) {
        var d2 = 0
        while (d2 < 2) {
          countPre(map3d(d1, d2, dirs(j))) += preSum(map2d(d1, d2))
          countPost(map3d(dirs(j), d1, d2)) += postSum(map2d(d1, d2))
          countMid(map3d(d1, dirs(j), d2)) += midSum(map2d(d1, d2))
          d2 += 1
        }
        d1 += 1
      }
      midSum(map2d(dirs(j), 0)) += postNodes(0 * n + nb(j))
      midSum(map2d(dirs(j), 1)) += postNodes(1 * n + nb(j))
    }

    var start = 0
    var end = 0
    var j = 0
    while (j < l) {
      while (start < l && times(start) + delta < times(j)) { popPre(start); start += 1 }
      while (end < l && times(end) <= times(j) + delta) { pushPost(end); end += 1 }
      popPost(j)
      processCurrent(j)
      pushPre(j)
      j += 1
    }
    System.arraycopy(countPre, 0, out, 0, 8)
    System.arraycopy(countMid, 0, out, 8, 8)
    System.arraycopy(countPost, 0, out, 16, 8)
    out
  }

  /** Triangle motifs over one triangle's sorted events: 8 counts
    * (three_node_motifs.rs:195-345 with n=2, nb=0). Event fields:
    * uvEdge = the event is on the u–v pair; uorv = which of u(0)/v(1) the
    * w-edge touches (or which endpoint is src for uv edges); dir as usual. */
  def triangleCounts(
      times: Array[Long],
      uvEdge: Array[Boolean],
      uorv: Array[Int],
      dirs: Array[Int],
      delta: Long): Array[Long] = {
    val l = times.length
    val finalCounts = new Array[Long](8)
    if (l < 3) return finalCounts
    val preNodes = new Array[Long](8) // n=2: [2 * map2d(dir, uorv) + nb], nb = 0
    val postNodes = new Array[Long](8)
    val preSum = new Array[Long](8)
    val midSum = new Array[Long](8)
    val postSum = new Array[Long](8)
    val n = 2

    def pushPre(j: Int): Unit = if (!uvEdge(j)) {
      val (v, d) = (uorv(j), dirs(j))
      preSum(map3d(1 - v, 0, d)) += preNodes(n * map2d(0, 1 - v))
      preSum(map3d(1 - v, 1, d)) += preNodes(n * map2d(1, 1 - v))
      preNodes(n * map2d(d, v)) += 1
    }
    def pushPost(j: Int): Unit = if (!uvEdge(j)) {
      val (v, d) = (uorv(j), dirs(j))
      postSum(map3d(1 - v, 0, d)) += postNodes(n * map2d(0, 1 - v))
      postSum(map3d(1 - v, 1, d)) += postNodes(n * map2d(1, 1 - v))
      postNodes(n * map2d(d, v)) += 1
    }
    def popPre(j: Int): Unit = if (!uvEdge(j)) {
      val (v, d) = (uorv(j), dirs(j))
      preNodes(n * map2d(d, v)) -= 1
      preSum(map3d(v, d, 0)) -= preNodes(n * map2d(0, 1 - v))
      preSum(map3d(v, d, 1)) -= preNodes(n * map2d(1, 1 - v))
    }
    def popPost(j: Int): Unit = if (!uvEdge(j)) {
      val (v, d) = (uorv(j), dirs(j))
      postNodes(n * map2d(d, v)) -= 1
      postSum(map3d(v, d, 0)) -= postNodes(n * map2d(0, 1 - v))
      postSum(map3d(v, d, 1)) -= postNodes(n * map2d(1, 1 - v))
    }
    def processCurrent(j: Int): Unit = {
      val (v, d) = (uorv(j), dirs(j))
      if (!uvEdge(j)) {
        midSum(map3d(1 - v, 0, d)) -= preNodes(n * map2d(0, 1 - v))
        midSum(map3d(1 - v, 1, d)) -= preNodes(n * map2d(1, 1 - v))
        midSum(map3d(v, d, 0)) += postNodes(n * map2d(0, 1 - v))
        midSum(map3d(v, d, 1)) += postNodes(n * map2d(1, 1 - v))
      } else {
        finalCounts(0) += midSum(map3d(d, 0, 0)) + postSum(map3d(d, 0, 1)) + preSum(map3d(1 - d, 1, 1))
        finalCounts(4) += midSum(map3d(d, 1, 0)) + postSum(map3d(1 - d, 0, 1)) + preSum(map3d(1 - d, 0, 1))
        finalCounts(2) += midSum(map3d(1 - d, 0, 0)) + postSum(map3d(d, 1, 1)) + preSum(map3d(1 - d, 1, 0))
        finalCounts(6) += midSum(map3d(1 - d, 1, 0)) + postSum(map3d(1 - d, 1, 1)) + preSum(map3d(1 - d, 0, 0))
        finalCounts(1) += midSum(map3d(d, 0, 1)) + postSum(map3d(d, 0, 0)) + preSum(map3d(d, 1, 1))
        finalCounts(5) += midSum(map3d(d, 1, 1)) + postSum(map3d(1 - d, 0, 0)) + preSum(map3d(d, 0, 1))
        finalCounts(3) += midSum(map3d(1 - d, 0, 1)) + postSum(map3d(d, 1, 0)) + preSum(map3d(d, 1, 0))
        finalCounts(7) += midSum(map3d(1 - d, 1, 1)) + postSum(map3d(1 - d, 1, 0)) + preSum(map3d(d, 0, 0))
      }
    }

    var start = 0
    var end = 0
    var j = 0
    while (j < l) {
      while (start < l && times(start) + delta < times(j)) { popPre(start); start += 1 }
      while (end < l && times(end) <= times(j) + delta) { pushPost(end); end += 1 }
      popPost(j)
      processCurrent(j)
      pushPre(j)
      j += 1
    }
    finalCounts
  }

  // ---- Spark orchestration ----

  /** Event counts per entity above the cap — the entities [[global]] /
    * [[local]] EXCLUDE at that cap, as first-class output:
    * (kind 'node'|'pair', a, b, n_events); b is null for nodes. Pair drops
    * also remove the pair's triangles (a triangle's event list is the
    * union of its three pairs' lists, so an uncapped pair would reappear
    * there). */
  def droppedEntities(
      spark: SparkSession,
      g: TemporalGraph,
      maxEventsPerEntity: Int = DefaultMaxEventsPerEntity): DataFrame = {
    val ev = g.edges.filter(col("src") =!= col("dst"))
    heavyNodes(ev, maxEventsPerEntity)
      .select(lit("node").as("kind"), col("node").as("a"), lit(null).cast("long").as("b"), col("n_events"))
      .unionByName(
        heavyPairs(ev, maxEventsPerEntity)
          .select(lit("pair").as("kind"), col("a"), col("b"), col("n_events")))
  }

  /** Nodes with more than `cap` incident events: (node, n_events). */
  private def heavyNodes(ev: DataFrame, cap: Int): DataFrame =
    ev.select(col("src").as("node"))
      .unionByName(ev.select(col("dst").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") > cap)

  /** Unordered pairs with more than `cap` events: (a, b, n_events). */
  private def heavyPairs(ev: DataFrame, cap: Int): DataFrame =
    ev.select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") > cap)

  /**
   * Degree-oriented triangle enumeration over a canonical undirected edge
   * set `(a, b)` (a < b, no self-loops), on [[Triangles]]' pinned forward
   * lists: each edge is directed from its (degree, id)-lower endpoint and
   * closes a triangle with every common forward neighbour of its ends, so
   * every triangle is produced exactly once and a hub's list holds only
   * its oriented out-degree (O(√m)), not its raw degree. The phases are
   * held by `pins`. Returns id-sorted corners (x1 < x2 < x3), the role
   * layout the counting kernels expect.
   */
  private[algos] def orientedTriangles(und: DataFrame, pins: Pin.Scope): DataFrame =
    // Recover the middle corner by sorting, NOT by (u+v+w)-x1-x3: node
    // ids are full-range xxhash64 longs, so the 3-way sum overflows (and
    // raises under Spark 4's default ANSI mode).
    Triangles.triangles(Triangles.forwardGraph(und, pins))
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("s"))
      .select(
        element_at(col("s"), 1).as("x1"),
        element_at(col("s"), 2).as("x2"),
        element_at(col("s"), 3).as("x3"))

  /** Each triangle's three corner pairs `(tri, p, q)`, the keys its events
    * are looked up by in `pairEvents`. */
  private def trianglePairs(tris: DataFrame): DataFrame =
    tris
      .withColumn("tri", struct(col("x1"), col("x2"), col("x3")))
      .select(
        col("tri"),
        explode(array(
          struct(col("x1").as("p"), col("x2").as("q")),
          struct(col("x2").as("p"), col("x3").as("q")),
          struct(col("x1").as("p"), col("x3").as("q")))).as("pq"))
      .select(col("tri"), col("pq.p").as("p"), col("pq.q").as("q"))

  /** Global 40-dim census at one delta. @return (motif_id 0..39, count). */
  def global(
      spark: SparkSession,
      g: TemporalGraph,
      deltaMs: Long,
      maxEventsPerEntity: Int = DefaultMaxEventsPerEntity): DataFrame =
    globalMulti(spark, g, Seq(deltaMs), maxEventsPerEntity)
      .select(col("motif_id"), col("count"))

  /**
   * Global census for a RANGE of timescales in one graph pass — the
   * reference's `temporal_three_node_motif_multi`
   * (global_temporal_three_node_motifs.rs:267): every delta shares the
   * event exchange, the per-entity sorted event lists and the triangle
   * enumeration (the expensive parts); only the O(events) counting kernels
   * re-run per delta, inside the same task over the same cached arrays.
   * Cost is build-once + nDeltas × kernel, vs nDeltas × everything for
   * repeated [[global]] calls.
   *
   * @return (delta_ms, motif_id 0..39, count) — 40 rows per delta.
   */
  def globalMulti(
      spark: SparkSession,
      g: TemporalGraph,
      deltas: Seq[Long],
      maxEventsPerEntity: Int = DefaultMaxEventsPerEntity): DataFrame = Pin.scope { pins =>
    import spark.implicits._
    require(deltas.nonEmpty, "globalMulti: need at least one delta")
    val deltaArr: Array[Long] = deltas.toArray // serializable, loop-friendly
    val nD = deltaArr.length
    val ev = pins.persist(g.edges
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("ts"), col("event_id")))
    ev.count()
    // hub guard: entities above the event cap are excluded BEFORE any
    // collect_list builds their (multi-GB) row; the exclusions are
    // observable via [[droppedEntities]]. The heavy sets are tiny by
    // construction (> 2^20 events each), so the guards are broadcast
    // anti-joins — no extra shuffle on the event table.
    val hn = broadcast(heavyNodes(ev, maxEventsPerEntity).select("node"))
    val hp = broadcast(heavyPairs(ev, maxEventsPerEntity).select("a", "b"))

    // -- two-node block: one kernel run per unordered pair, mirrored.
    // Event fields are unzipped to PRIMITIVE arrays after the sort: the
    // Array[Long]/Array[Int] encoders are a bulk copy out of UnsafeArrayData,
    // where the old Seq[(Long, Long, Int)] encoder boxed a tuple per event.
    // `pairEvents` is persisted because the pair census, the undirected edge
    // set AND the triangle event lists all derive from this one exchange. --
    val pairEvents = pins.persist(ev
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        struct(
          col("ts"),
          col("event_id"),
          when(col("src") < col("dst"), 1).otherwise(0).as("dir")).as("e"))
      .join(hp, Seq("a", "b"), "left_anti")
      .groupBy("a", "b")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
      .select(
        col("a"), col("b"),
        col("evs.ts").as("ts"), col("evs.event_id").as("eid"), col("evs.dir").as("dir")))
    pairEvents.count() // materialize the shared exchange before forking jobs

    // The three census blocks are INDEPENDENT jobs over cached inputs;
    // submit them from separate threads (Spark schedules concurrent jobs
    // fine-grained across the same executors) so the cluster isn't idle
    // during each job's straggler tail.
    import scala.concurrent.{Await, Future}
    // renamed: the enclosing method is itself named `global`
    import scala.concurrent.ExecutionContext.Implicits.{global => globalEc}
    import scala.concurrent.duration.Duration

    val fTwo8 = Future(sumVectors(
      pairEvents
        .select(col("ts").as[Array[Long]], col("dir").as[Array[Int]])
        .map { case (ts, dirs) =>
          val out = new Array[Long](8 * nD)
          var di = 0
          while (di < nD) {
            val c = twoNodeCounts(ts, dirs, deltaArr(di))
            var i = 0
            while (i < 8) { out(8 * di + i) = c(i) + c(7 - i); i += 1 } // both perspectives
            di += 1
          }
          out
        },
      8 * nD))

    // -- star block: one kernel run per center node --
    val starEvents = ev
      .select(col("src").as("node"), struct(col("ts"), col("event_id"), lit(1).as("dir"), col("dst").as("nbr")).as("e"))
      .unionByName(ev.select(
        col("dst").as("node"),
        struct(col("ts"), col("event_id"), lit(0).as("dir"), col("src").as("nbr")).as("e")))
      .join(hn, Seq("node"), "left_anti")
      .groupBy("node")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
      .select(
        col("evs.ts").as("ts"), col("evs.dir").as("dir"), col("evs.nbr").as("nbr"))
    val fStar24 = Future(sumVectors(
      starEvents
        .select(col("ts").as[Array[Long]], col("dir").as[Array[Int]], col("nbr").as[Array[Long]])
        .map { case (ts, dirs, nbrs) =>
          val out = new Array[Long](24 * nD)
          var di = 0
          while (di < nD) {
            val c = starCounts(ts, dirs, nbrs, deltaArr(di))
            System.arraycopy(c, 0, out, 24 * di, 24)
            di += 1
          }
          out
        },
      24 * nD))

    // -- triangle block: degree-oriented enumeration over the pair keys
    // (the groupBy(a, b) output IS the distinct undirected edge set, so the
    // cached exchange is reused instead of a second distinct over ev). Its
    // phases are pinned through `pins` from this thread alone; the caller
    // thread only awaits --
    val fTri8 = Future {
      val tris = orientedTriangles(pairEvents.select(col("a"), col("b")), pins)
      val triEvents = triEventLists(trianglePairs(tris), pairEvents)
      sumVectors(
        triEvents
          .select(
            col("tri").as[(Long, Long, Long)],
            col("ts").as[Array[Long]], col("src").as[Array[Long]], col("dst").as[Array[Long]])
          .map { case ((x1, x2, x3), ts, srcs, dsts) =>
            // reference role mapping (global_temporal_three_node_motifs.rs:188-226):
            // sorted ids = [v, u, w] with v = x1 (smaller of the u,v pair),
            // u = x2, w = x3 (the intersection neighbour, largest)
            val _ = x1
            val out = new Array[Long](8 * nD)
            var di = 0
            while (di < nD) {
              val c = triangleKernelForSorted(x2, x3, ts, srcs, dsts, deltaArr(di))
              System.arraycopy(c, 0, out, 8 * di, 8)
              di += 1
            }
            out
          },
        8 * nD)
    }

    val two8 = Await.result(fTwo8, Duration.Inf)
    val star24 = Await.result(fStar24, Duration.Inf)
    val tri8 = Await.result(fTri8, Duration.Inf)

    // assemble per delta: star24 − cycled two8 ++ two8 ++ tri8
    // (reference :63-74, :293; the adjustment is linear per delta slice)
    val rows = for {
      di <- 0 until nD
      i <- 0 until 40
    } yield {
      val c =
        if (i < 24) star24(24 * di + i) - two8(8 * di + i % 8)
        else if (i < 32) two8(8 * di + (i - 24))
        else tri8(8 * di + (i - 32))
      (deltaArr(di), i, c)
    }
    rows.toDF("delta_ms", "motif_id", "count")
  }

  /**
   * Per-node 40-dim census (local_temporal_three_node_motifs.rs:333) with
   * the reference's attribution rule (`:330` doc note): star motifs count
   * only for the centre node; two-node motifs count for both endpoints,
   * each from its own perspective (the min endpoint keeps the kernel
   * counts, the max endpoint the direction-mirror); triangle motifs count
   * for all three corners. The per-triangle 8-vector is role-invariant —
   * verified against the reference's local fixture — so one kernel run per
   * triangle credits all three corners without re-running per role.
   *
   * @return (id, motif_id 0..39, count) — 40 rows per node, same slot
   *         layout as [[global]], pinned once; the caller frees it with
   *         [[Pin.release]].
   */
  def local(
      spark: SparkSession,
      g: TemporalGraph,
      deltaMs: Long,
      maxEventsPerEntity: Int = DefaultMaxEventsPerEntity): DataFrame = Pin.scope { pins =>
    import spark.implicits._
    val ev = pins.persist(g.edges
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("ts"), col("event_id")))
    ev.count()
    // hub guard — see [[global]]; exclusions observable via [[droppedEntities]]
    val hn = broadcast(heavyNodes(ev, maxEventsPerEntity).select("node"))
    val hp = broadcast(heavyPairs(ev, maxEventsPerEntity).select("a", "b"))

    // -- two-node block: one kernel per pair, credited to both endpoints
    // (same primitive-array extraction + shared exchange as [[global]]) --
    val pairEvents = pins.persist(ev
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        struct(
          col("ts"),
          col("event_id"),
          when(col("src") < col("dst"), 1).otherwise(0).as("dir")).as("e"))
      .join(hp, Seq("a", "b"), "left_anti")
      .groupBy("a", "b")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
      .select(
        col("a"), col("b"),
        col("evs.ts").as("ts"), col("evs.event_id").as("eid"), col("evs.dir").as("dir")))
    val twoByNode = sumByNode(
      pairEvents
        .select(col("a").as[Long], col("b").as[Long], col("ts").as[Array[Long]], col("dir").as[Array[Int]])
        .flatMap { case (a, b, ts, dirs) =>
          val c = twoNodeCounts(ts, dirs, deltaMs)
          Seq((a, c), (b, mirror8(c)))
        }).toDF("id", "two")

    // -- star block: one kernel per centre node --
    val starByNode = ev
      .select(col("src").as("node"), struct(col("ts"), col("event_id"), lit(1).as("dir"), col("dst").as("nbr")).as("e"))
      .unionByName(ev.select(
        col("dst").as("node"),
        struct(col("ts"), col("event_id"), lit(0).as("dir"), col("src").as("nbr")).as("e")))
      .join(hn, Seq("node"), "left_anti")
      .groupBy("node")
      .agg(sort_array(collect_list(col("e"))).as("evs"))
      .select(
        col("node"),
        col("evs.ts").as("ts"), col("evs.dir").as("dir"), col("evs.nbr").as("nbr"))
      .select(col("node").as[Long], col("ts").as[Array[Long]], col("dir").as[Array[Int]], col("nbr").as[Array[Long]])
      .map { case (node, ts, dirs, nbrs) => (node, starCounts(ts, dirs, nbrs, deltaMs)) }
      .toDF("id", "star")

    // -- triangle block: kernel once per triangle, credited to all corners --
    val tris = orientedTriangles(pairEvents.select(col("a"), col("b")), pins)
    val triByNode = sumByNode(
      triEventLists(trianglePairs(tris), pairEvents)
        .select(
          col("tri").as[(Long, Long, Long)],
          col("ts").as[Array[Long]], col("src").as[Array[Long]], col("dst").as[Array[Long]])
        .flatMap { case ((x1, x2, x3), ts, srcs, dsts) =>
          val c = triangleKernelForSorted(x2, x3, ts, srcs, dsts, deltaMs)
          Seq((x1, c), (x2, c), (x3, c))
        }).toDF("id", "tri")

    // -- assemble per node: (star − cycled two) ++ two ++ tri --
    def zeros(n: Int) = array((0 until n).map(_ => lit(0L)): _*)
    val out = g.nodes
      .join(starByNode, Seq("id"), "left")
      .join(twoByNode, Seq("id"), "left")
      .join(triByNode, Seq("id"), "left")
      .withColumn("star", coalesce(col("star"), zeros(24)))
      .withColumn("two", coalesce(col("two"), zeros(8)))
      .withColumn("tri", coalesce(col("tri"), zeros(8)))
      .select(
        col("id"),
        explode(expr(
          "transform(sequence(0, 39), i -> struct(cast(i as int) as motif_id, " +
            "case when i < 24 then star[i] - two[i % 8] " +
            "when i < 32 then two[i - 24] " +
            "else tri[i - 32] end as count))")).as("m"))
      .select(col("id"), col("m.motif_id").as("motif_id"), col("m.count").as("count"))
    // materialized before the scope frees the cached inputs it reads
    pins.keep(pins.pin(out))
  }

  /** Per-triangle sorted event lists, rebuilt from the cached per-pair
    * lists: join each triangle's three (p, q) legs against `pairEvents`
    * (columns a, b, ts[], eid[], dir[]), re-derive (src, dst) from the
    * canonical dir bit (dir = 1 ⇔ src < dst ⇔ src = a), and re-sort at the
    * triangle level by (ts, event_id, src, dst) — the event-id carries only
    * the deterministic tie-break. Avoids a second full scan + exchange of
    * the raw event table for the triangle block.
    * @return (tri, ts[], src[], dst[]) */
  private def triEventLists(triPairs: DataFrame, pairEvents: DataFrame): DataFrame =
    triPairs
      .join(
        pairEvents.select(
          col("a").as("p"), col("b").as("q"),
          arrays_zip(col("ts"), col("eid"), col("dir")).as("pevs")),
        Seq("p", "q"))
      .select(col("tri"), col("p"), col("q"), explode(col("pevs")).as("e"))
      .select(
        col("tri"),
        struct(
          col("e.ts").as("ts"),
          col("e.eid").as("eid"),
          when(col("e.dir") === 1, col("p")).otherwise(col("q")).as("src"),
          when(col("e.dir") === 1, col("q")).otherwise(col("p")).as("dst")).as("e2"))
      .groupBy("tri")
      .agg(sort_array(collect_list(col("e2"))).as("evs"))
      .select(
        col("tri"),
        col("evs.ts").as("ts"), col("evs.src").as("src"), col("evs.dst").as("dst"))

  /** Run the triangle kernel on one triangle's sorted events with the
    * canonical role mapping (v = x1, u = x2, w = x3 — the same mapping
    * [[global]] uses, see global_temporal_three_node_motifs.rs:188-226). */
  private[algos] def triangleKernelForSorted(
      x2: Long,
      x3: Long,
      times: Array[Long],
      srcs: Array[Long],
      dsts: Array[Long],
      deltaMs: Long): Array[Long] = {
    val l = times.length
    val uvE = new Array[Boolean](l)
    val uorv = new Array[Int](l)
    val dirs = new Array[Int](l)
    var i = 0
    while (i < l) {
      val s = srcs(i)
      val d = dsts(i)
      if (s == x3) { uvE(i) = false; uorv(i) = if (d == x2) 0 else 1; dirs(i) = 0 }
      else if (d == x3) { uvE(i) = false; uorv(i) = if (s == x2) 0 else 1; dirs(i) = 1 }
      else if (s == x2) { uvE(i) = true; uorv(i) = 1; dirs(i) = 1 }
      else { uvE(i) = true; uorv(i) = 0; dirs(i) = 0 }
      i += 1
    }
    triangleCounts(times, uvE, uorv, dirs, deltaMs)
  }

  /** Per-key elementwise sum of fixed-width count vectors. */
  private def sumByNode(
      ds: org.apache.spark.sql.Dataset[(Long, Array[Long])]): org.apache.spark.sql.Dataset[(Long, Array[Long])] = {
    val session = ds.sparkSession
    import session.implicits._
    ds.groupByKey(_._1)
      .reduceGroups((x, y) => (x._1, x._2.zip(y._2).map(t => t._1 + t._2)))
      .map(_._2)
  }

  /** Distributed elementwise sum of fixed-width count vectors — an RDD
    * fold (per-partition combine, then driver merge of ≤ nPartitions tiny
    * arrays), not a shuffle: the old flatMap→groupBy paid an exchange per
    * census block for a ≤ 40-row result. The zero array is never mutated
    * (the combiner allocates). */
  private def sumVectors(
      ds: org.apache.spark.sql.Dataset[Array[Long]],
      width: Int): Array[Long] =
    ds.rdd.fold(new Array[Long](width)) { (x, y) =>
      val out = new Array[Long](width)
      var i = 0
      while (i < width) { out(i) = x(i) + y(i); i += 1 }
      out
    }
}
