package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One finished task, attributed to the job group its stage ran under. */
final case class TaskRec(
    group: String,
    launchMs: Double,
    finishMs: Double,
    runMs: Long,
    gcMs: Long,
    fetchWaitMs: Long,
    schedDelayMs: Long,
    shuffleBytes: Long,
    spillBytes: Long,
    failed: Boolean)

final case class JobRec(group: String, submitMs: Double)

/**
 * Listener that attributes every Spark job and task to the job group it ran
 * under. Calls that overlap in time but run under different groups are
 * therefore told apart exactly, which before/after snapshots of one shared
 * counter cannot do.
 */
final class Ledger extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val taskBuf = mutable.ArrayBuffer.empty[TaskRec]
  private val jobBuf = mutable.ArrayBuffer.empty[JobRec]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobBuf += JobRec(groupOf(e.properties), e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    val rec =
      if (m == null)
        TaskRec(stageGroup.getOrElse(e.stageId, ""), info.launchTime.toDouble,
          info.finishTime.toDouble, 0L, 0L, 0L, 0L, 0L, 0L, failed)
      else {
        val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        TaskRec(
          stageGroup.getOrElse(e.stageId, ""),
          info.launchTime.toDouble,
          info.finishTime.toDouble,
          m.executorRunTime,
          m.jvmGCTime,
          m.shuffleReadMetrics.fetchWaitTime,
          math.max(0L, info.duration - overhead),
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled,
          failed)
      }
    taskBuf += rec
  }

  def tasks: Vector[TaskRec] = synchronized(taskBuf.toVector)
  def jobs: Vector[JobRec] = synchronized(jobBuf.toVector)
}

/** A timed interval of one layer. `group` is the Spark job group whose work
  * the span owns; a derived span (a superstep) shares its parent's group and
  * owns the work that started inside its interval. */
final case class Span(
    id: Int,
    name: String,
    job: Int,
    parent: Int,
    group: String,
    startMs: Double,
    endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Records spans in memory, one job group per public call. */
final class Tracer(sc: SparkContext) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  /** When off, only call spans are kept (they give the end-to-end walls);
    * superstep spans are not rebuilt. */
  var enabled = false

  /** Wall-clock milliseconds on the monotonic clock, aligned with the
    * epoch milliseconds Spark stamps on tasks and jobs. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def spans: Vector[Span] = buf.toVector

  /** Runs `body` as one call of `layer` under a job group of its own. The
    * span is recorded even when the call throws. */
  def call[T](job: Int, layer: String)(body: Span => T): T = {
    val id = nextId
    nextId += 1
    val group = s"pb/j$job/c$id/$layer"
    val start = nowMs
    sc.setJobGroup(group, layer, interruptOnCancel = false)
    var span = Span(id, layer, job, 0, group, start, start)
    try body(span)
    finally {
      sc.clearJobGroup()
      span = span.copy(endMs = nowMs)
      buf += span
    }
  }

  /** The call span just recorded by [[call]] (its end time is final). */
  def last: Span = buf.last

  /** Nanoseconds spent rebuilding superstep spans: the tracing work done
    * inside the timed window. */
  var overheadNs = 0L

  /** Child spans for the supersteps of an iterative call, rebuilt from the
    * per-step walls the runner returns. Steps run back to back and the
    * runner returns right after the last one, so they are laid out
    * backwards from `returnMs`. A checkpoint commit runs between two steps,
    * outside both walls, so with checkpointing on the earlier steps are
    * placed later than they ran by the commit time that follows them. */
  def steps(parent: Span, wallsMs: Seq[Double], returnMs: Double): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      var end = returnMs
      val laid = wallsMs.reverse.map { w =>
        val s = Span(0, "bsp", parent.job, parent.id, parent.group, math.max(parent.startMs, end - w), end)
        end -= w
        s
      }
      laid.reverse.foreach { s => buf += s.copy(id = nextId); nextId += 1 }
      overheadNs += System.nanoTime() - t0
    }
}

/** Interval arithmetic over (start, end) pairs in milliseconds. */
object Intervals {
  type Iv = (Double, Double)

  def union(xs: Seq[Iv]): List[Iv] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, x)                              => x :: acc
    }.reverse

  /** `base` minus the union of `cut`. */
  def minus(base: Iv, cut: Seq[Iv]): List[Iv] = {
    val out = mutable.ListBuffer.empty[Iv]
    var cur = base._1
    union(cut).foreach { case (s, e) =>
      if (e > cur && s < base._2) {
        if (s > cur) out += ((cur, math.min(s, base._2)))
        cur = math.max(cur, e)
      }
    }
    if (cur < base._2) out += ((cur, base._2))
    out.toList
  }

  /** Length of the part of `within` that `xs` covers. */
  def covered(xs: Seq[Iv], within: Seq[Iv]): Double = {
    val u = union(xs)
    union(within).map { case (s, e) =>
      u.map { case (a, b) => math.max(0.0, math.min(b, e) - math.max(a, s)) }.sum
    }.sum
  }

  def contains(xs: Seq[Iv], t: Double): Boolean = xs.exists { case (s, e) => t >= s && t < e }
}

/** The work attributed to one layer in one job. */
final case class LayerCounters(
    selfS: Double = 0,
    jobs: Int = 0,
    taskS: Double = 0,
    driverS: Double = 0,
    schedWaitS: Double = 0,
    fetchWaitS: Double = 0,
    shuffleMb: Double = 0,
    spillMb: Double = 0,
    gcS: Double = 0,
    failedTasks: Int = 0) {

  def +(o: LayerCounters): LayerCounters = LayerCounters(
    selfS + o.selfS, jobs + o.jobs, taskS + o.taskS, driverS + o.driverS,
    schedWaitS + o.schedWaitS, fetchWaitS + o.fetchWaitS, shuffleMb + o.shuffleMb,
    spillMb + o.spillMb, gcS + o.gcS, failedTasks + o.failedTasks)
}

object Attribution {

  /** Self counters of every span: the span's own interval minus its
    * children's, and the work of its group that started inside that part. */
  def selfCounters(spans: Seq[Span], tasks: Seq[TaskRec], jobs: Seq[JobRec]): Map[Int, LayerCounters] = {
    val children = spans.groupBy(_.parent)
    val tasksByGroup = tasks.groupBy(_.group)
    val jobsByGroup = jobs.groupBy(_.group)
    spans.map { s =>
      val own = Intervals.minus(
        (s.startMs, s.endMs),
        children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
      val ts = tasksByGroup.getOrElse(s.group, Nil).filter(t => Intervals.contains(own, t.launchMs))
      val js = jobsByGroup.getOrElse(s.group, Nil).filter(j => Intervals.contains(own, j.submitMs))
      val selfMs = own.map(x => x._2 - x._1).sum
      val busyMs = Intervals.covered(ts.map(t => (t.launchMs, t.finishMs)), own)
      s.id -> LayerCounters(
        selfS = selfMs / 1000,
        jobs = js.size,
        taskS = ts.map(_.runMs).sum / 1000.0,
        driverS = (selfMs - busyMs) / 1000,
        schedWaitS = ts.map(_.schedDelayMs).sum / 1000.0,
        fetchWaitS = ts.map(_.fetchWaitMs).sum / 1000.0,
        shuffleMb = ts.map(_.shuffleBytes).sum / 1e6,
        spillMb = ts.map(_.spillBytes).sum / 1e6,
        gcS = ts.map(_.gcMs).sum / 1000.0,
        failedTasks = ts.count(_.failed))
    }.toMap
  }
}
