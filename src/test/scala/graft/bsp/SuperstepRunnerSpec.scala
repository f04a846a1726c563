package graft.bsp

import graft.SparkSpec
import graft.graph.TemporalGraph
import graft.algos.PageRank
import graft.bsp.SuperstepRunner.{NoRows, RunConfig, Stable, Step}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/**
 * Checkpoint/resume semantics: manifests commit atomically per superstep,
 * resume restores the latest committed state, and a resumed PageRank run
 * converges to the same scores as an uninterrupted one (north rule:
 * "resumable from checkpoint with per-partition lineage + metrics"), a
 * rerun on a converged checkpoint runs nothing, and the declared stop
 * rules stop where they say.
 */
class SuperstepRunnerSpec extends SparkSpec {

  import spark.implicits._

  test("runner commits manifests with per-partition lineage and resumes") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val init = spark.range(100).select(col("id"), lit(0L).as("v"))
    val r1 = SuperstepRunner.run(
      spark,
      init,
      SuperstepRunner.RunConfig(maxSteps = 3, checkpointDir = Some(dir), checkpointEvery = 1)) {
      (state, _) =>
        SuperstepRunner.Step(
          state.select(col("id"), (col("v") + 1).as("v")),
          SuperstepRunner.Check(m => (false, Map("sum" -> m.agg(sum("v")).first().getLong(0).toDouble))))
    }
    assert(r1.steps == 3 && !r1.converged)
    val manifest = SuperstepRunner.readManifest(dir, 3)
    assert(manifest.isDefined)
    assert(manifest.get.contains("\"rows\":100"))
    assert(manifest.get.contains("\"partitions\":["))
    assert(manifest.get.contains("\"checksum\":"))
    val parts = manifest.get.substring(manifest.get.indexOf("\"partitions\":"))
    assert("\"rows\":(\\d+)".r.findAllMatchIn(parts).map(_.group(1).toLong).sum == 100L,
      "the partitions' rows must sum to the manifest's rows")

    // Resume picks up at superstep 3 and runs only the remaining 2.
    var stepsRun = 0
    val r2 = SuperstepRunner.run(
      spark,
      init,
      SuperstepRunner.RunConfig(maxSteps = 5, checkpointDir = Some(dir), checkpointEvery = 1)) {
      (state, _) =>
        stepsRun += 1
        SuperstepRunner.Step(state.select(col("id"), (col("v") + 1).as("v")))
    }
    assert(stepsRun == 2, s"resume should run 2 steps, ran $stepsRun")
    assert(r2.state.agg(sum("v")).first().getLong(0) == 500L)
  }

  test("PageRank resumed mid-run matches uninterrupted scores") {
    val edges = Seq[(Long, Long)](
      (1, 2), (1, 3), (2, 3), (3, 1), (3, 2), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8),
      (8, 9), (9, 10), (10, 11))
    val g = TemporalGraph.fromTriples(spark, edges.zipWithIndex.map { case ((s, d), i) => (s, d, i.toLong) })

    val straight = PageRank
      .run(spark, g, PageRank.Config(maxIter = 60, tol = 1e-12))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // Interrupted run: stop after 7 supersteps (maxIter=7), committing every
    // step; then resume with the full budget from the same directory.
    val dir = Files.createTempDirectory("graft-pr").toString
    PageRank.run(spark, g, PageRank.Config(maxIter = 7, tol = 1e-12, checkpointDir = Some(dir), checkpointEvery = 1))
    val resumed = PageRank
      .run(spark, g, PageRank.Config(maxIter = 60, tol = 1e-12, checkpointDir = Some(dir), checkpointEvery = 1))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    straight.foreach { case (k, v) =>
      assert(math.abs(resumed(k) - v) < 1e-12, s"node $k: resumed ${resumed(k)} vs straight $v")
    }
  }

  private def stepDirs(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir, "steps"))
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.map(_.getFileName.toString).toSet }
    finally s.close()
  }

  test("a rerun on a converged checkpoint runs no superstep") {
    val dir = Files.createTempDirectory("graft-done").toString
    val init = spark.range(10).select(col("id"), lit(0L).as("v"))
    var stepsRun = 0
    def rerun() = SuperstepRunner.run(
      spark, init, RunConfig(maxSteps = 10, checkpointDir = Some(dir), checkpointEvery = 5)) {
      (state, _) =>
        stepsRun += 1
        Step(state.select(col("id"), (col("v") + 1).as("v")), NoRows(col("v") < 3, "below"))
    }
    val r1 = rerun()
    assert(r1.steps == 3 && r1.converged && stepsRun == 3)
    val committed = stepDirs(dir)
    stepsRun = 0
    val r2 = rerun()
    assert(stepsRun == 0, s"a converged checkpoint ran $stepsRun more supersteps")
    assert(r2.steps == 3 && r2.converged && r2.metrics.isEmpty)
    assert(r2.state.agg(sum("v")).first().getLong(0) == 30L)
    assert(stepDirs(dir) == committed, "the rerun committed a new step")
  }

  test("PageRank rerun on its converged checkpoint returns bit-identical scores") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (5, 6))
    val g = TemporalGraph.fromTriples(spark, edges.zipWithIndex.map { case ((s, d), i) => (s, d, i.toLong) })
    val dir = Files.createTempDirectory("graft-pr-done").toString
    val cfg = PageRank.Config(maxIter = 100, tol = 1e-6, checkpointDir = Some(dir), checkpointEvery = 5)
    def scores() = PageRank.run(spark, g, cfg).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val first = scores()
    val committed = stepDirs(dir)
    assert(scores() == first, "scores moved on the rerun")
    assert(stepDirs(dir) == committed, "the rerun committed a new step")
  }

  /** Runs `rule` over a one-row state whose `x` is `f(step)`. */
  private def runRule(maxSteps: Int, f: Int => Long)(rule: SuperstepRunner.Until) =
    SuperstepRunner.run(spark, spark.range(1).select(lit(0L).as("x")), RunConfig(maxSteps)) {
      (state, step) => Step(state.select(lit(f(step)).as("x")), rule)
    }

  test("NoRows stops on the first superstep with no active row and reports the count") {
    // x = 3, 2, 1, 0, ...: x > 0 holds for one row until step 4
    val r = runRule(10, step => 4L - step)(NoRows(col("x") > 0, "positive"))
    assert(r.steps == 4 && r.converged)
    assert(r.metrics.map(_("positive")) == List(1.0, 1.0, 1.0, 0.0))
  }

  test("Stable stops on the first exact repeat, not on equal doubles") {
    // 2^53 and 2^53 + 1 are the same Double; the runner compares the Row
    val big = 1L << 53
    assert(big.toDouble == (big + 1).toDouble)
    val r = runRule(10, step => big + math.min(step - 1, 1))(Stable("x", Seq(max("x"))))
    assert(r.steps == 3 && r.converged, s"stopped at ${r.steps}")
    val rising = runRule(10, step => math.min(step, 3).toLong)(Stable("x", Seq(max("x"), count(lit(1)))))
    assert(rising.steps == 4 && rising.converged)
    assert(rising.metrics.map(_("x")) == List(1.0, 2.0, 3.0, 3.0))
    // orZero: a zero first column stops at once, without waiting for a repeat
    val empty = SuperstepRunner.run(spark, spark.range(3).toDF("id"), RunConfig(10)) { (state, _) =>
      Step(state.filter(col("id") > 5), Stable("rows", Seq(count(lit(1))), orZero = true))
    }
    assert(empty.steps == 1 && empty.converged)
  }

  test("Never runs to maxSteps") {
    val r = runRule(4, _.toLong)(SuperstepRunner.Never)
    assert(r.steps == 4 && !r.converged)
    assert(r.metrics.forall(_.keySet == Set("wallMs")))
  }
}
