package graft.bsp

import graft.SparkSpec
import graft.graph.TemporalGraph
import graft.algos.PageRank
import org.apache.spark.sql.functions._

import java.nio.file.Files

/**
 * Checkpoint/resume semantics: manifests commit atomically per superstep,
 * resume restores the latest committed state, and a resumed PageRank run
 * converges to the same scores as an uninterrupted one (north rule:
 * "resumable from checkpoint with per-partition lineage + metrics").
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
          m => (false, Map("sum" -> m.agg(sum("v")).first().getLong(0).toDouble)))
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
        SuperstepRunner.Step(
          state.select(col("id"), (col("v") + 1).as("v")),
          _ => (false, Map.empty))
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
}
