package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size, sum}

import graft.data.TranscriptGen
import graft.graph.{EdgeBuilder, TemporalGraph}
import graft.algos.PageRank

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.immutable.ListMap

/**
 * Two-cluster-size scaling evidence (north rule: throughput scaling
 * efficiency ≥ 0.8 from N to 4N executors). No real cluster exists in this
 * sandbox, so the same job runs at N and 4N local cores — same input, same
 * plan — and a pair reports PageRank superstep throughput at both plus
 * efficiency = (T_N / T_4N) / 4. This is the one scaling harness:
 * `graft.Bench` embeds its N→4N canary through [[gatedPair]], and [[main]]
 * runs the full-size pairs (local[2]→local[8], the cleanest analog of adding
 * executors, and local[8]→local[32], which on one box also exposes the
 * machine's shared memory-bandwidth ceiling — a real cluster adds bandwidth
 * with every executor, a single box does not).
 *
 * Usage: runMain graft.bench.Scaling [numConvs] [supersteps] [pairs]
 *   pairs like "2:8,8:32"
 * Prints one JSON line per pair and appends its row to BENCH.md.
 */
object Scaling {

  /** One leg's timed window (see [[leg]]). */
  final case class Leg(
      secs: Double, // `steps` supersteps plus the final state count
      medianSec: Double, // median superstep wall
      taskSec: Double, // executor task-seconds
      gcShare: Double,
      tasks: Double, // task COUNT (plan identity)
      shuffleGb: Double, // shuffle read + write GB (plan identity)
      edges: Long) // distinct edges of the generated graph

  /**
   * One scaling leg: a fresh local[cores] session rebuilds the transcript
   * graph and its salted CSR, warms 2 supersteps, then times `steps`
   * supersteps. The CSR is prebuilt and persisted (it is built once per
   * deployment or loaded from a GraphStore snapshot), so the leg measures
   * what the north rule names: SUPERSTEP throughput, not ingest. The
   * session stops on every exit.
   *
   * Task-seconds are the per-core-work invariant (≈ equal across the legs
   * of a cleanly measured pair), so a wall efficiency outside [0.8, 1.0]
   * can be attributed: task ratio ≉ 1 means a leg was perturbed; ≈ 1 means
   * scheduler/driver overhead, which at 2 local cores shares the cpus with
   * tasks (biasing efficiency high) and on tiny inputs dominates (biasing
   * it low).
   *
   * PLAN-IDENTICAL BY CONSTRUCTION: every leg pins the same 32 shuffle
   * partitions (one wave at 32 cores; 128 measured worse on 2026-08-20,
   * BENCH.md) and runs with AQE off, so Catalyst plans the identical
   * physical job at every core count — certified per pair by the task-COUNT
   * and shuffle-BYTES ratios (r4's 1.25-1.32 canary task ratios were AQE
   * re-planning the low-core leg into more, smaller tasks). Task-SECONDS
   * may still inflate at the higher thread count on the identical plan:
   * memory-stall time is on-task time, which is the DRAM-ceiling artifact
   * the pair's memory brackets measure. (The main bench keeps AQE on; this
   * pinning is only for the pair, where plan identity is the point.)
   */
  def leg(cores: Int, convs: Long, steps: Int): Leg = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val listener = new Calibration.StageMetricsListener
      spark.sparkContext.addSparkListener(listener)
      // Only the edge table is persisted during prep: caching the
      // transcripts (full text strings) holds gigabytes of heap hostage.
      val edges = EdgeBuilder.edges(TranscriptGen.transcripts(spark, convs)).persist()
      val g = TemporalGraph(edges)
      val adj = g.adjacencyOut(TemporalGraph.DefaultMaxShard).persist()
      val nodes = g.nodes.persist()
      // materializes the CSR; its dst lists hold each distinct edge once
      val nEdges = adj.agg(sum(size(col("dsts")))).first().getLong(0)
      nodes.count()
      edges.unpersist(false)
      PageRank.runOnAdjacency(spark, adj, nodes, PageRank.Config(maxIter = 2, tol = 0.0))._1.count()
      // Settle the heap before timing: all legs share one JVM, and a leg
      // otherwise inherits the prep garbage of whatever ran before it
      // (every multi-level run on 2026-08-18 read 13–17% GC share on its
      // FIRST leg and ≤7% on later ones — an ordering artifact).
      System.gc()
      Thread.sleep(500L)
      val (r, w) = listener.window {
        val r = PageRank.runFull(spark, adj, nodes, PageRank.Config(maxIter = steps, tol = 0.0))
        r.state.count()
        r
      }
      val walls = r.metrics.flatMap(_.get("wallMs")).sorted
      val med = if (walls.isEmpty) w.secs / steps else walls(walls.size / 2) / 1000.0
      Leg(w.secs, med, w.taskSec, w.gcShare, w.tasks, w.shuffleBytes / 1e9, nEdges)
    } finally spark.stop()
  }

  /** One measurement of a pair: its two legs and the window's machine
    * ceilings (the lo→hi calibration ratio over the ideal hi/lo) for the
    * pure-CPU, memory-streaming and random-gather probes. */
  final case class Attempt(lo: Leg, hi: Leg, calEff: Double, memEff: Double, randEff: Double) {
    def taskSecRatio: Double = ratio(hi.taskSec, lo.taskSec)

    /** The task-second inflation a fully memory-bound identical plan could
      * show given the window's DRAM brackets (1 / ceiling, ×1.25 slack):
      * threads grew ideal× while bandwidth grew only ceiling × ideal. The
      * random-gather ceiling usually saturates before the streaming one,
      * so the bound takes whichever the window says is tighter. */
    def stallBound: Double = 1.25 * math.max(1.0, 1.0 / math.max(math.min(memEff, randEff), 0.0625))

    /**
     * The window's own disqualifiers — never the efficiency itself, which
     * would be cherry-picking:
     *  - the pure-CPU ceiling collapsed (< 0.85: a co-tenant ate cores, so
     *    no job could have scaled) or read superlinear (> 1.15: a busy-loop
     *    cannot beat ideal on a fair machine, so the low-thread moment was
     *    contended — observed 1.26 on 2026-08-20); the same superlinear
     *    check on the memory ceilings;
     *  - either leg's GC share above 15% (a JVM artifact);
     *  - task-second inflation beyond [[stallBound]]: the window's own
     *    ceilings cannot explain it (observed 6.76× against a ~1.7× bound
     *    on 2026-08-20, a co-tenant thrash the other checks missed). A
     *    genuinely bandwidth-saturated pair collapses its brackets and
     *    raises the bound, so saturation is not flagged, only contradiction.
     */
    def flags: Seq[String] = Seq(
      (calEff < 0.85) -> "cal_collapsed",
      (calEff > 1.15) -> "cal_superlinear",
      (memEff > 1.15) -> "mem_superlinear",
      (randEff > 1.15) -> "rand_superlinear",
      (lo.gcShare > 0.15) -> "lo_gc",
      (hi.gcShare > 0.15) -> "hi_gc",
      (taskSecRatio > stallBound) -> "stall_contradiction"
    ).collect { case (true, f) => f }

    /** How far past its thresholds the window read: ranks dirty attempts. */
    def dirtScore: Double =
      math.abs(calEff - 1.0) +
        math.max(0.0, memEff - 1.15) +
        math.max(0.0, randEff - 1.15) +
        math.max(0.0, lo.gcShare - 0.15) + math.max(0.0, hi.gcShare - 0.15) +
        math.max(0.0, taskSecRatio / stallBound - 1.0)
  }

  private def ratio(hi: Double, lo: Double): Double = if (lo > 0) hi / lo else 0.0

  /**
   * A bracket-gated pair at lo vs hi cores over the same input: each
   * attempt measures the window's three calibration ratios, then the lo and
   * hi legs; a pair is re-measured (at most 3 attempts) only while its
   * attempt carries [[Attempt.flags]]. See [[report]] for the keys.
   */
  def gatedPair(prefix: String, loCores: Int, hiCores: Int, convs: Long, steps: Int): Map[String, Double] = {
    val ideal = hiCores.toDouble / loCores
    report(prefix, ideal, retried { () =>
      val cal = Calibration.cpuRatio(loCores, hiCores)._3
      val mem = Calibration.memRatio(loCores, hiCores)._3
      val rnd = Calibration.randRatio(loCores, hiCores)._3
      val lo = leg(loCores, convs, steps)
      val hi = leg(hiCores, convs, steps)
      Attempt(lo, hi, cal / ideal, mem / ideal, rnd / ideal)
    })
  }

  /** Attempts until one has no flags, at most 3. */
  private[bench] def retried(attempt: () => Attempt): Seq[Attempt] = {
    val all = scala.collection.mutable.ArrayBuffer(attempt())
    while (all.size < 3 && all.last.flags.nonEmpty) all += attempt()
    all.toSeq
  }

  /**
   * The kept attempt's evidence under `prefix`: the one with the fewest
   * flags, then the lowest [[Attempt.dirtScore]] (never the efficiency);
   * `_window_flags` > 0 marks its residual dirt. Its keys:
   *  - raw wall efficiency, total and median-superstep (`_eff_total`,
   *    `_eff_median`), with both legs' walls;
   *  - the PLAN-IDENTITY certificate: task-count and shuffle-bytes ratios,
   *    properties of the plan alone that must read ~1.0;
   *  - the task-SECONDS ratio: > 1 on identical plans means per-task time
   *    inflated at the higher thread count (memory stalls, not extra work);
   *  - the window's ceilings (`_calib_eff_window`, `_mem_eff_window`,
   *    `_rand_eff_window`) and the efficiency normalized by each
   *    (`_eff_norm`, `_eff_norm_mem`, `_eff_norm_rand`, and their
   *    `_median` twins): a real cluster adds DRAM channels with every
   *    executor, a single box does not, so CPU-bound jobs read the cpu
   *    normalization and bandwidth- or probe-bound jobs the memory ones.
   * Every other attempt's raw efficiency and disqualifying readings follow
   * as `_discarded<k>_*`, so the output shows what was thrown away and why.
   */
  private[bench] def report(prefix: String, ideal: Double, all: Seq[Attempt]): Map[String, Double] = {
    val kept = all.indices.minBy(i => (all(i).flags.size, all(i).dirtScore))
    val a = all(kept)
    val (lo, hi) = (a.lo, a.hi)
    val effTotal = (lo.secs / hi.secs) / ideal
    val effMedian = (lo.medianSec / hi.medianSec) / ideal
    def norm(eff: Double, ceiling: Double) = eff / math.max(ceiling, 0.01)
    val keptKeys = Seq(
      "lo_sec" -> lo.secs, "hi_sec" -> hi.secs,
      "lo_median_superstep_sec" -> lo.medianSec, "hi_median_superstep_sec" -> hi.medianSec,
      "eff_total" -> effTotal, "eff_median" -> effMedian,
      "lo_task_sec" -> lo.taskSec, "hi_task_sec" -> hi.taskSec, "task_sec_ratio" -> a.taskSecRatio,
      "lo_tasks" -> lo.tasks, "hi_tasks" -> hi.tasks, "tasks_ratio" -> ratio(hi.tasks, lo.tasks),
      "lo_shuffle_gb" -> lo.shuffleGb, "hi_shuffle_gb" -> hi.shuffleGb,
      "shuffle_ratio" -> ratio(hi.shuffleGb, lo.shuffleGb),
      "lo_gc_share" -> lo.gcShare, "hi_gc_share" -> hi.gcShare,
      "calib_eff_window" -> a.calEff, "mem_eff_window" -> a.memEff, "rand_eff_window" -> a.randEff,
      "eff_norm" -> norm(effTotal, a.calEff), "eff_norm_median" -> norm(effMedian, a.calEff),
      "eff_norm_mem" -> norm(effTotal, a.memEff), "eff_norm_mem_median" -> norm(effMedian, a.memEff),
      "eff_norm_rand" -> norm(effTotal, a.randEff), "eff_norm_rand_median" -> norm(effMedian, a.randEff),
      "attempts" -> all.size.toDouble, "window_flags" -> a.flags.size.toDouble)
    val discarded = all.zipWithIndex.filter(_._2 != kept).flatMap { case (d, i) =>
      Seq(
        "eff_total" -> (d.lo.secs / d.hi.secs) / ideal,
        "calib_eff" -> d.calEff, "mem_eff" -> d.memEff, "rand_eff" -> d.randEff,
        "lo_gc" -> d.lo.gcShare, "hi_gc" -> d.hi.gcShare,
        "task_sec_ratio" -> d.taskSecRatio).map { case (k, v) => s"discarded${i + 1}_$k" -> v }
    }
    ListMap((keptKeys ++ discarded).map { case (k, v) => s"${prefix}_$k" -> v }: _*)
  }

  def main(args: Array[String]): Unit = {
    val numConvs = args.headOption.map(_.toLong).getOrElse(400000L)
    val steps = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val pairs = args.drop(2).headOption.getOrElse("2:8,8:32")
      .split(",").toSeq.map { p => val Array(a, b) = p.split(":"); (a.toInt, b.toInt) }
    // JVM-warm throwaway leg: the FIRST leg measured in a fresh JVM reads
    // 13-47% GC share on its timed window (G1 still adapting to the prep
    // garbage + cold JIT) while the same core count measured second reads
    // ≤8%. It runs the FULL input (a quarter-size warm-up on 2026-08-19
    // still left 36% GC on the first measured leg) at the highest core
    // count, so it costs one hi-leg, not one lo-leg.
    val edges = leg(pairs.map(_._2).max, numConvs, 2).edges

    val bench = Paths.get("BENCH.md")
    if (!Files.exists(bench)) {
      Files.write(
        bench,
        ("# BENCH — measured results\n\n## PageRank scaling (N vs 4N local cores, same input)\n\n" +
          "| when | input | work | cores N→4N | T(N) | T(4N) | speedup | efficiency | edges/s @N | edges/s @4N |\n" +
          "|---|---|---|---|---|---|---|---|---|---|\n").getBytes(StandardCharsets.UTF_8))
    }
    pairs.foreach { case (n, n4) =>
      val m = gatedPair("scaling", n, n4, numConvs, steps)
      def v(k: String) = m(s"scaling_$k")
      println(
        s"""{"metric":"scaling_efficiency","value":${v("eff_total")},"unit":"ratio",""" +
          s""""cores_n":$n,"cores_4n":$n4,"convs":$numConvs,"edges":$edges,"supersteps":$steps,""" +
          m.map { case (k, x) => s""""$k":$x""" }.mkString(""""queries":{""", ",", "}}"))
      val (tN, t4N) = (v("lo_sec"), v("hi_sec"))
      val row =
        s"| ${java.time.Instant.now()} | $numConvs convs / $edges edges | $steps supersteps | " +
          f"$n→$n4 | $tN%.1f s | $t4N%.1f s | ${tN / t4N}%.2fx | ${v("eff_total")}%.2f " +
          f"(norm-cpu ${v("eff_norm")}%.2f / norm-mem ${v("eff_norm_mem")}%.2f / " +
          f"norm-rand ${v("eff_norm_rand")}%.2f; ceilings cpu ${v("calib_eff_window")}%.2f " +
          f"mem ${v("mem_eff_window")}%.2f rand ${v("rand_eff_window")}%.2f; " +
          f"tasks ratio ${v("tasks_ratio")}%.2f shuffle ratio ${v("shuffle_ratio")}%.2f " +
          f"task-sec ratio ${v("task_sec_ratio")}%.2f; " +
          f"gc ${v("lo_gc_share") * 100}%.0f→${v("hi_gc_share") * 100}%.0f%%; " +
          f"flags ${v("window_flags")}%.0f of ${v("attempts")}%.0f attempts) | " +
          f"${steps * edges / tN / 1e6}%.2fM | ${steps * edges / t4N / 1e6}%.2fM |\n"
      Files.write(bench, row.getBytes(StandardCharsets.UTF_8), StandardOpenOption.APPEND)
    }
  }
}
