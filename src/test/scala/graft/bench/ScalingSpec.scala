package graft.bench

import org.scalatest.funsuite.AnyFunSuite

import graft.bench.Scaling.{Attempt, Leg}

/** The scaling pair's evidence and retry gate, on fixed legs (no Spark). */
class ScalingSpec extends AnyFunSuite {

  private val lo = Leg(secs = 40.0, medianSec = 4.8, taskSec = 70.0, gcShare = 0.04,
    tasks = 640.0, shuffleGb = 1.2, edges = 1000L)
  private val hi = Leg(secs = 12.0, medianSec = 1.4, taskSec = 84.0, gcShare = 0.06,
    tasks = 640.0, shuffleGb = 1.2, edges = 1000L)
  private val clean = Attempt(lo, hi, calEff = 0.97, memEff = 0.8, randEff = 0.7)

  private val pairKeys = Seq(
    "lo_sec", "hi_sec", "lo_median_superstep_sec", "hi_median_superstep_sec",
    "eff_total", "eff_median", "lo_task_sec", "hi_task_sec", "task_sec_ratio",
    "lo_tasks", "hi_tasks", "tasks_ratio", "lo_shuffle_gb", "hi_shuffle_gb", "shuffle_ratio",
    "lo_gc_share", "hi_gc_share", "calib_eff_window", "mem_eff_window", "rand_eff_window",
    "eff_norm", "eff_norm_median", "eff_norm_mem", "eff_norm_mem_median",
    "eff_norm_rand", "eff_norm_rand_median")

  test("a clean pair reports the 26 pair keys plus attempts and window flags") {
    val m = Scaling.report("scaling", 4.0, Seq(clean))
    assert(pairKeys.size == 26)
    assert(m.keySet == (pairKeys ++ Seq("attempts", "window_flags")).map("scaling_" + _).toSet)
    val effTotal = (40.0 / 12.0) / 4.0
    val effMedian = (4.8 / 1.4) / 4.0
    val expected = Map(
      "lo_sec" -> 40.0, "hi_sec" -> 12.0,
      "lo_median_superstep_sec" -> 4.8, "hi_median_superstep_sec" -> 1.4,
      "eff_total" -> effTotal, "eff_median" -> effMedian,
      "lo_task_sec" -> 70.0, "hi_task_sec" -> 84.0, "task_sec_ratio" -> 84.0 / 70.0,
      "lo_tasks" -> 640.0, "hi_tasks" -> 640.0, "tasks_ratio" -> 1.0,
      "lo_shuffle_gb" -> 1.2, "hi_shuffle_gb" -> 1.2, "shuffle_ratio" -> 1.0,
      "lo_gc_share" -> 0.04, "hi_gc_share" -> 0.06,
      "calib_eff_window" -> 0.97, "mem_eff_window" -> 0.8, "rand_eff_window" -> 0.7,
      "eff_norm" -> effTotal / 0.97, "eff_norm_median" -> effMedian / 0.97,
      "eff_norm_mem" -> effTotal / 0.8, "eff_norm_mem_median" -> effMedian / 0.8,
      "eff_norm_rand" -> effTotal / 0.7, "eff_norm_rand_median" -> effMedian / 0.7,
      "attempts" -> 1.0, "window_flags" -> 0.0)
    expected.foreach { case (k, v) => assert(m(s"scaling_$k") == v, k) }
  }

  test("zero lo readings give 0 ratios; ceilings below 0.01 normalize by 0.01") {
    val zero = lo.copy(taskSec = 0.0, tasks = 0.0, shuffleGb = 0.0)
    val m = Scaling.report("s", 4.0, Seq(Attempt(zero, hi, 0.0, 0.0, 0.0)))
    assert(m("s_task_sec_ratio") == 0.0 && m("s_tasks_ratio") == 0.0 && m("s_shuffle_ratio") == 0.0)
    assert(m("s_eff_norm") == m("s_eff_total") / 0.01)
  }

  test("each flag fires past its threshold and not at it") {
    def flags(a: Attempt) = a.flags.toSet
    assert(flags(clean).isEmpty)
    assert(flags(clean.copy(calEff = 0.84)) == Set("cal_collapsed"))
    assert(flags(clean.copy(calEff = 0.85)).isEmpty)
    assert(flags(clean.copy(calEff = 1.16)) == Set("cal_superlinear"))
    assert(flags(clean.copy(calEff = 1.15)).isEmpty)
    assert(flags(clean.copy(memEff = 1.16)) == Set("mem_superlinear"))
    assert(flags(clean.copy(randEff = 1.16, memEff = 1.0)) == Set("rand_superlinear"))
    assert(flags(clean.copy(memEff = 1.15, randEff = 1.15)).isEmpty)
    assert(flags(clean.copy(lo = lo.copy(gcShare = 0.16))) == Set("lo_gc"))
    assert(flags(clean.copy(hi = hi.copy(gcShare = 0.16))) == Set("hi_gc"))
    assert(flags(clean.copy(hi = hi.copy(gcShare = 0.15))).isEmpty)
  }

  test("the stall bound is 1.25 / the tighter memory ceiling, floored at 1.25 and capped at 20") {
    assert(clean.stallBound == 1.25 * (1.0 / 0.7))
    assert(clean.copy(memEff = 2.0, randEff = 2.0).stallBound == 1.25)
    assert(clean.copy(memEff = 0.01).stallBound == 1.25 * 16)
    // task seconds inflated to exactly the bound: not flagged; past it: flagged
    val atBound = clean.copy(memEff = 0.5, randEff = 0.5, hi = hi.copy(taskSec = 70.0 * 2.5))
    assert(atBound.flags.isEmpty)
    assert(atBound.copy(hi = hi.copy(taskSec = 70.0 * 2.6)).flags == Seq("stall_contradiction"))
  }

  test("the kept attempt has the fewest flags, then the lowest dirt score") {
    val twoFlags = clean.copy(calEff = 0.5, lo = lo.copy(gcShare = 0.3))
    val oneFlagDirty = clean.copy(calEff = 0.6)
    val oneFlagLessDirty = clean.copy(calEff = 0.8)
    assert(oneFlagLessDirty.dirtScore < oneFlagDirty.dirtScore)
    val m = Scaling.report("p", 4.0, Seq(twoFlags, oneFlagDirty, oneFlagLessDirty))
    assert(m("p_calib_eff_window") == 0.8)
    assert(m("p_attempts") == 3.0 && m("p_window_flags") == 1.0)
    // the discarded attempts carry their own readings under their 1-based index
    assert(m("p_discarded1_calib_eff") == 0.5 && m("p_discarded1_lo_gc") == 0.3)
    assert(m("p_discarded2_calib_eff") == 0.6)
    assert(m("p_discarded1_eff_total") == (40.0 / 12.0) / 4.0)
    assert(m("p_discarded2_task_sec_ratio") == 84.0 / 70.0)
    assert(m.keySet.count(_.contains("_discarded")) == 14)
    assert(!m.contains("p_discarded3_eff_total"))
  }

  test("a pair is measured again only while its attempt is flagged, at most 3 times") {
    def run(seq: Attempt*): Seq[Attempt] = {
      val it = seq.iterator
      Scaling.retried(() => it.next())
    }
    val dirty = clean.copy(calEff = 0.5)
    assert(run(clean, dirty).size == 1)
    assert(run(dirty, clean, dirty).size == 2)
    assert(run(dirty, dirty, dirty, clean).size == 3)
  }
}
