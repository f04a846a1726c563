package perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** What one timed job did and cost. */
final case class JobStat(
    job: Int,
    wallS: Double,
    taskS: Double,
    cpuS: Double,
    stepWallsMs: Seq[Double],
    iterativeWallS: Double,
    edgeSteps: Double,
    ops: Seq[Op],
    counters: Map[String, Double],
    pinnedRdds: Int,
    pinnedMb: Double,
    heapMb: Double)

/**
 * Runs one workload as a closed loop with one client and prints its
 * metrics; the last line of standard output is the JSON result.
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--work-dir <dir>]
 * }}}
 *
 * After the session starts, set-up (input generation and persist) is timed
 * [[SetupReps]] times; the reference outputs and one warm-up job run
 * untimed; then the run times `--seconds` / [[Workload.nominalJobS]] jobs
 * (at least one). With `--trace 1` the jobs are traced and the result
 * carries the per-layer metrics instead of the end-to-end ones.
 */
object Main {

  val SetupReps = 5

  val Layers: Seq[String] = Seq(
    "edgebuilder", "csr", "bsp", "algos.pagerank", "algos.lpa", "algos.wcc",
    "algos.triangles", "store", "ckpt")

  val Algos: Seq[String] = Seq("pagerank", "lpa", "wcc", "triangles")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.byName(need("workload")).getOrElse(
      sys.error(s"unknown workload ${need("workload")}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val root = Paths.get(opts.getOrElse("work-dir", ".bench_work")).toAbsolutePath
    val workDir = root.resolve(s"${workload.name}-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(workDir)
    try run(workload, seed, seconds, trace, root, workDir)
    finally Workloads.deleteTree(workDir)
  }

  private def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, root: Path, workDir: Path): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ledger = new Ledger
      sc.addSparkListener(ledger)

      val setupS = (1 to SetupReps).map { r =>
        val s0 = System.nanoTime()
        w.setup(spark, seed)
        val s = (System.nanoTime() - s0) / 1e9
        if (r < SetupReps) w.release()
        s
      }
      val r0 = System.nanoTime()
      val refWalls = w.reference()
      System.err.println(f"setup ${sessionS}%.2f s session + ${setupS.map(x => f"$x%.2f").mkString(" ")}; " +
        f"reference ${(System.nanoTime() - r0) / 1e9}%.2f s: $refWalls")
      val inputs = sc.getPersistentRDDs.keySet
      val tracer = new Tracer(sc)
      def oneJob(j: Int): JobStat = {
        val cpu0 = cpuNs()
        val out = w.job(JobCtx(spark, tracer, j, workDir))
        val cpuS = (cpuNs() - cpu0) / 1e9
        ListenerDrain(sc)
        val leaked = sc.getPersistentRDDs.filter { case (id, _) => !inputs.contains(id) }
        val pinnedMb = sc.getRDDStorageInfo.filter(i => leaked.contains(i.id))
          .map(i => (i.memSize + i.diskSize) / 1e6).sum
        leaked.values.foreach(_.unpersist(blocking = true))
        Files.list(workDir).filter(_.getFileName.toString.matches(s"(store|ckpt)-$j")).forEach(Workloads.deleteTree)
        System.gc()
        System.gc()
        val heapMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1e6
        val calls = tracer.spans.filter(s => s.job == j && s.parent == 0)
        val prefix = s"pb/j$j/"
        val iterative = out.iterative.result()
        System.err.println(f"job $j: " + calls.map(s => f"${s.name} ${s.wallS}%.2fs").mkString(", ") +
          iterative.map { case (s, w) => s" | ${s.name} steps " + w.map(x => f"${x / 1000}%.2f").mkString(" ") }.mkString)
        JobStat(
          job = j,
          wallS = calls.map(_.wallS).sum,
          taskS = ledger.tasks.filter(_.group.startsWith(prefix)).map(_.runMs).sum / 1000.0,
          cpuS = cpuS,
          stepWallsMs = iterative.flatMap(_._2.drop(1)),
          iterativeWallS = iterative.map(_._1).map(s => calls.find(_.id == s.id).fold(0.0)(_.wallS)).sum,
          edgeSteps = iterative.map(_._2.size).sum.toDouble * w.edges,
          ops = out.ops.result(),
          counters = out.counters.toMap,
          pinnedRdds = leaked.size,
          pinnedMb = pinnedMb,
          heapMb = heapMb)
      }

      val warm = oneJob(0)
      tracer.enabled = trace
      // closed loop, one client: the next job starts when the previous one
      // ends. Job walls keep falling for several jobs as the JIT warms up, so
      // a window that fits a load-dependent number of jobs would mix job
      // positions between runs; every run times the same jobs instead.
      val jobs = (1 to math.max(1, (seconds / w.nominalJobS).toInt)).map(oneJob)
      ListenerDrain(sc)

      val ops = (warm +: jobs).flatMap(_.ops)
      val failed = ops.filterNot(_.ok)
      failed.foreach(o => println(s"FAILED ${o.name}: ${o.detail}"))
      val spans = tracer.spans.filter(_.job > 0)
      lazy val self = Attribution.selfCounters(spans, ledger.tasks, ledger.jobs)
      val metrics =
        if (trace) layerMetrics(w, jobs, spans, self, tracer.overheadNs, cores, refWalls)
        else endToEnd(jobs, Stats.median(setupS))
      metrics.foreach { case (k, (v, u, n)) => println(f"$k%-34s $v%14.6f $u%-6s (n=$n)") }
      println(s"verdict: ${if (failed.isEmpty) "correct" else "INCORRECT"} " +
        s"(${ops.size - failed.size}/${ops.size} operations match the reference)")
      if (trace) writeTrace(root.resolve("traces").resolve(s"${w.name}-$seed.jsonl"), spans, self)
      val body = metrics.map { case (k, (v, u, _)) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""{"correct": ${failed.isEmpty}, "attempted": ${ops.size}, "failed": ${failed.size}, "metrics": {$body}}""")
    } finally spark.stop()
  }

  /** CPU time of this JVM: the driver and, in local mode, every executor
    * thread. */
  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  /** Median, or 0 when a failed call left no samples (the run then reports
    * its failures and is not correct). */
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** (value, unit, samples) by metric name. */
  type Metrics = Seq[(String, (Double, String, Int))]

  def endToEnd(jobs: Seq[JobStat], setupS: Double): Metrics = {
    val steps = jobs.flatMap(_.stepWallsMs).map(_ / 1000)
    Seq(
      "setup_s" -> ((setupS, "s", SetupReps)),
      "job_s" -> ((med(jobs.map(_.wallS)), "s", jobs.size)),
      "task_s" -> ((med(jobs.map(_.taskS)), "s", jobs.size)),
      "cpu_s" -> ((med(jobs.map(_.cpuS)), "s", jobs.size)),
      "step_s" -> ((med(steps), "s", steps.size)),
      "edges_per_s" -> ((med(jobs.map(j => j.edgeSteps / j.iterativeWallS)), "1/s", jobs.size)))
  }

  def layerMetrics(
      w: Workload,
      jobs: Seq[JobStat],
      spans: Seq[Span],
      self: Map[Int, LayerCounters],
      tracingNs: Long,
      cores: Int,
      refWalls: Map[String, Double]): Metrics = {
    def perJob(layer: String): Seq[LayerCounters] = jobs.map { j =>
      spans.filter(s => s.job == j.job && s.name == layer).map(s => self(s.id))
        .foldLeft(LayerCounters())(_ + _)
    }
    val n = jobs.size
    val perLayer = Layers.flatMap { l =>
      val cs = perJob(l)
      Seq(
        s"$l.s" -> ((med(cs.map(_.selfS)), "s", n)),
        s"$l.jobs" -> ((med(cs.map(_.jobs.toDouble)), "count", n)),
        s"$l.task_s" -> ((med(cs.map(_.taskS)), "s", n)),
        s"$l.occupancy" -> ((med(cs.map(c => if (c.selfS > 0) c.taskS / (c.selfS * cores) else 0.0)), "ratio", n)),
        s"$l.driver_s" -> ((med(cs.map(_.driverS)), "s", n)),
        s"$l.sched_wait_s" -> ((med(cs.map(_.schedWaitS)), "s", n)),
        s"$l.fetch_wait_s" -> ((med(cs.map(_.fetchWaitS)), "s", n)),
        s"$l.shuffle_mb" -> ((med(cs.map(_.shuffleMb)), "MB", n)),
        s"$l.spill_mb" -> ((med(cs.map(_.spillMb)), "MB", n)),
        s"$l.gc_s" -> ((med(cs.map(_.gcS)), "s", n)),
        s"$l.failed_tasks" -> ((med(cs.map(_.failedTasks.toDouble)), "count", n)))
    }
    val bsp = perJob("bsp")
    val stepCounts = jobs.map(j => spans.count(s => s.job == j.job && s.name == "bsp").toDouble)
    val stepWalls = spans.filter(_.name == "bsp").map(_.wallS)
    val tail = Stats.tail(stepWalls).map(_._2).getOrElse(med(stepWalls))
    def perStep(f: LayerCounters => Double) =
      med(bsp.zip(stepCounts).map { case (c, k) => if (k > 0) f(c) / k else 0.0 })
    def counter(k: String) = med(jobs.map(_.counters.getOrElse(k, 0.0)))
    def callWall(layer: String) = med(jobs.map(j =>
      spans.filter(s => s.job == j.job && s.name == layer && s.parent == 0).map(_.wallS).sum))
    val lpaVotes = counter("algos.lpa.votes")
    val layerSpecific = Seq(
      "bsp.supersteps" -> ((med(stepCounts), "count", n)),
      "bsp.step_p50_s" -> ((med(stepWalls), "s", stepWalls.size)),
      "bsp.step_tail_s" -> ((tail, "s", stepWalls.size)),
      "bsp.jobs_per_step" -> ((perStep(_.jobs.toDouble), "count", n)),
      "bsp.driver_s_per_step" -> ((perStep(_.driverS), "s", n)),
      "bsp.shuffle_mb_per_step" -> ((perStep(_.shuffleMb), "MB", n)),
      "csr.rows" -> ((counter("csr.rows"), "count", n)),
      "csr.hub_shards" -> ((counter("csr.hub_shards"), "count", n)),
      "algos.lpa.changed_frac" -> ((if (lpaVotes > 0) counter("algos.lpa.changes") / lpaVotes else 0.0, "ratio", n)),
      "algos.wcc.rounds" -> ((counter("algos.wcc.rounds"), "count", n)),
      "store.bytes_written" -> ((counter("store.bytes_written"), "bytes", n)),
      "store.files" -> ((counter("store.files"), "count", n)),
      "ckpt.commits" -> ((counter("ckpt.commits"), "count", n)),
      "ckpt.bytes_written" -> ((counter("ckpt.bytes_written"), "bytes", n)),
      "ckpt.steps_saved_frac" -> ((counter("ckpt.steps_saved_frac"), "ratio", n)),
      "ckpt.resume_s" -> ((counter("ckpt.resume_s"), "s", n)),
      "leak.pinned_rdds" -> ((med(jobs.map(_.pinnedRdds.toDouble)), "count", n)),
      "leak.pinned_mb" -> ((med(jobs.map(_.pinnedMb)), "MB", n)),
      "leak.heap_mb" -> ((med(jobs.map(_.heapMb)), "MB", n)),
      // tracing is post hoc except for rebuilding superstep spans, so its
      // overhead is that work over the job wall
      "trace.overhead" -> ((tracingNs / 1e9 / jobs.map(_.wallS).sum, "ratio", n)))
    // the COST floor: engine call wall over the single-threaded reference
    // wall on the same graph, with both bases reported
    val cost = Algos.flatMap { a =>
      val wall = if (a == "pagerank" && w.isInstanceOf[IngestResume]) callWall("ckpt") else callWall(s"algos.$a")
      val base = refWalls.getOrElse(a, 0.0)
      Seq(
        s"cost.${a}_ratio" -> ((if (base > 0) wall / base else 0.0, "ratio", n)),
        s"cost.${a}_ref_s" -> ((base, "s", 1)))
    }
    perLayer ++ layerSpecific ++ cost
  }

  /** Spans of the traced jobs as JSON lines, one per span, with the self
    * counters the per-layer metrics are built from. */
  def writeTrace(out: Path, spans: Seq[Span], self: Map[Int, LayerCounters]): Unit = {
    val lines = spans.map { s =>
      val c = self(s.id)
      f"""{"id": ${s.id}, "name": "${s.name}", "job": ${s.job}, "parent": ${s.parent}, """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "self_s": ${c.selfS}%.6f, """ +
        f""""jobs": ${c.jobs}, "task_s": ${c.taskS}%.6f, "driver_s": ${c.driverS}%.6f, """ +
        f""""sched_wait_s": ${c.schedWaitS}%.6f, "fetch_wait_s": ${c.fetchWaitS}%.6f, """ +
        f""""shuffle_mb": ${c.shuffleMb}%.6f, "spill_mb": ${c.spillMb}%.6f, "gc_s": ${c.gcS}%.6f}"""
    }
    Files.createDirectories(out.getParent)
    Files.write(out, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"trace: ${lines.size} spans written to $out")
  }
}
