package graft.bench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/**
 * Same-moment machine calibration for benchmark runs on a shared-tenant
 * host (BENCH.md methodology): every wall-clock number this repo reports is
 * only interpretable next to a measurement of what the box itself could do
 * at that moment — the host's parallel-scaling ceiling drifts by 2× with
 * neighbour load. Embedding the probe in the bench (instead of running it
 * by hand) is what makes round-over-round BENCH_r{N} deltas attributable
 * to code rather than tenancy.
 *
 * Three thread probes share one harness ([[summed]]) and one lo/hi
 * [[ratio]]; the measured ratio over the ideal hi/lo is the machine's
 * scaling ceiling for that access pattern at this moment:
 *  - [[cpuThroughput]]: a pure-CPU busy-loop (xorshift64*, no memory traffic);
 *  - [[memThroughput]]: sequential streaming over a private 64 MB array;
 *  - [[randThroughput]]: random gathers over a private 64 MB array.
 * [[stealPct]] reads the hypervisor steal share from /proc/stat — direct
 * evidence of neighbour pressure.
 *
 * [[StageMetricsListener]] sums Spark stage task metrics (run/GC/CPU time,
 * shuffle bytes) over a [[Window]] so a measured window can be attributed:
 * a GC share ≫ 5% points at the JVM, a CPU share ≪ run time at memory-path
 * or scheduling stalls.
 */
object Calibration {

  /** Runs `kernel(i)` on `threads` daemon threads (i = 1..threads) and
    * returns the summed counts per second of the `ms` budget. */
  private def summed(threads: Int, ms: Long)(kernel: Int => Long): Double = {
    val total = new AtomicLong(0L)
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => { total.addAndGet(kernel(i)); () })
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    total.get().toDouble / (ms / 1000.0)
  }

  private def deadline(ms: Long): Long = System.nanoTime() + ms * 1000000L

  /** A private 64 MB long array (8M words, a power of two), far beyond LLC. */
  private def filled(i: Int): Array[Long] = {
    val a = new Array[Long]((64 << 20) / 8)
    var j = 0
    while (j < a.length) { a(j) = j + i; j += 1 }
    a
  }

  /** (thrLo, thrHi, hi/lo) of `probe` at lo vs hi threads. A short untimed
    * round first so JIT (and page faults) don't bias the lo level. */
  private def ratio(probe: (Int, Long) => Double, lo: Int, hi: Int, msPerLevel: Long): (Double, Double, Double) = {
    probe(2, 300L)
    val tLo = probe(lo, msPerLevel)
    val tHi = probe(hi, msPerLevel)
    (tLo, tHi, if (tLo > 0) tHi / tLo else 0.0)
  }

  def cpuRatio(lo: Int, hi: Int): (Double, Double, Double) = ratio(cpuThroughput, lo, hi, 3000L)
  def memRatio(lo: Int, hi: Int): (Double, Double, Double) = ratio(memThroughput, lo, hi, 2000L)
  def randRatio(lo: Int, hi: Int): (Double, Double, Double) = ratio(randThroughput, lo, hi, 2000L)

  /** Busy-loop iterations/sec at `threads` threads over ~`ms` wall. */
  def cpuThroughput(threads: Int, ms: Long): Double = {
    val end = deadline(ms)
    summed(threads, ms) { i =>
      var x = 0x9e3779b97f4a7c15L + i
      var n = 0L
      while (System.nanoTime() < end) {
        var k = 0
        while (k < (1 << 20)) { // check the clock every ~1M steps
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          k += 1
        }
        n += 1 << 20
      }
      n + (x & 1L) // fold x in so the loop cannot be eliminated
    }
  }

  /** Memory-streaming throughput (bytes/sec summed over `threads`): each
    * thread sequentially folds its own array, so the loop is bound by the
    * shared memory path, not compute. This is the probe the busy-loop is
    * blind to: a neighbour tenant hammering DRAM bandwidth leaves the
    * register-only loop untouched while halving every shuffle/scan on the
    * box (observed r3: clean 0.98 CPU calibrations bracketing a bench whose
    * middle ran 4× slow). */
  def memThroughput(threads: Int, ms: Long): Double =
    summed(threads, ms) { i =>
      val a = filled(i)
      val words = a.length
      val end = deadline(ms)
      var acc = 0L
      var n = 0L
      while (System.nanoTime() < end) {
        var k = 0
        while (k < words) { acc += a(k); k += 1 }
        n += words.toLong * 8L
      }
      n + (acc & 1L) // fold acc in: loop must not be DCE'd
    }

  /** RANDOM-ACCESS memory throughput (reads/sec summed over `threads`):
    * independent xorshift-indexed gathers over each thread's own array —
    * the access pattern of a hash-join probe or shuffle fetch, which defeats
    * the hardware prefetcher and saturates on outstanding-miss capacity
    * rather than sequential bandwidth. A 2026-08-20 clean window measured
    * streaming scaling 0.83 across 8→32 threads while the shuffle-bound job
    * scaled 0.52: this ceiling, not the streaming one, is what a hash-heavy
    * workload runs under. */
  def randThroughput(threads: Int, ms: Long): Double =
    summed(threads, ms) { i =>
      val a = filled(i)
      val mask = a.length - 1
      val end = deadline(ms)
      var acc = 0L
      var n = 0L
      var x = 0x9E3779B97F4A7C15L ^ i.toLong
      while (System.nanoTime() < end) {
        var k = 0
        while (k < 65536) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          acc += a((x & 0x7FFFFFFFFFFFFFFFL).toInt & mask)
          k += 1
        }
        n += 65536L
      }
      n + (acc & 1L) // fold acc in: loop must not be DCE'd
    }

  /** Steal% of total cpu time over a `ms` sample from /proc/stat (0.0 when
    * unavailable, e.g. non-Linux). */
  def stealPct(ms: Long = 1000L): Double = {
    def read(): Option[Array[Long]] =
      try {
        val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
        Some(line.trim.split("\\s+").drop(1).map(_.toLong))
      } catch { case _: Throwable => None }
    (read(), { Thread.sleep(ms); read() }) match {
      case (Some(a), Some(b)) if a.length >= 8 && b.length >= 8 =>
        val d = b.zip(a).map { case (x, y) => x - y }
        val tot = d.sum.toDouble
        if (tot > 0) 100.0 * d(7) / tot else 0.0
      case _ => 0.0
    }
  }

  /** One measured window: its wall and the task metrics of the stages
    * that completed inside it (times ms, bytes raw). */
  final case class Window(
      secs: Double,
      runMs: Double,
      gcMs: Double,
      cpuMs: Double,
      shuffleBytes: Double, // read + write
      tasks: Double) {
    def taskSec: Double = runMs / 1000.0
    def gcShare: Double = gcMs / math.max(runMs, 1.0)
    def cpuShare: Double = cpuMs / math.max(runMs, 1.0)
  }

  /** Accumulates per-stage task metric sums. Register with
    * `spark.sparkContext.addSparkListener(listener)`, then measure with
    * [[window]]. */
  final class StageMetricsListener extends SparkListener {
    private val runMs, gcMs, cpuMs, shuffleB, tasks = new AtomicLong(0L)

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        shuffleB.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        tasks.addAndGet(sc.stageInfo.numTasks.toLong)
      }
    }

    private def sums: Seq[Long] = Seq(runMs, gcMs, cpuMs, shuffleB, tasks).map(_.get())

    /** Runs `body`; returns its result and the window around it. */
    def window[A](body: => A): (A, Window) = {
      val before = sums
      val t0 = System.nanoTime()
      val a = body
      val secs = (System.nanoTime() - t0) / 1e9
      val d = sums.zip(before).map { case (x, y) => (x - y).toDouble }
      (a, Window(secs, d(0), d(1), d(2), d(3), d(4)))
    }
  }
}
