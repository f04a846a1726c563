package graft.bsp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.util.Try

/**
 * Driver-side bulk-synchronous superstep loop — the Spark-native counterpart
 * of the reference's task framework (`TaskRunner::run`,
 * raphtory/src/db/task/task_runner.rs:225-373): double-buffered per-node
 * state becomes "previous state DataFrame → next state DataFrame", morsel
 * fan-out becomes Spark tasks over partitions, monoidal accumulator merges
 * become partial aggregation, and `Job::Check` becomes the stop rule each
 * [[Step]] declares, which the runner evaluates over the materialized next
 * state (the halt decision stays in the runtime, as Pregel's vote-to-halt):
 *
 *  - [[Never]] (the default): run to `maxSteps`; no action;
 *  - [[NoRows]]`(active, key)`: stop once no row satisfies `active`; one
 *    `filter(active).count()` job, the count reported under `key`;
 *  - [[Stable]]`(key, sig)`: stop once the one-row aggregate `sig` equals
 *    the previous superstep's, compared exactly as a `Row` (a 64-bit xor
 *    loses its low bits as a `Double`), or, with `orZero`, once its first
 *    column is 0; one job, the first column reported under `key`. The
 *    first superstep a run executes (also after a resume) has no previous
 *    value;
 *  - [[Check]]`(f)`: the algorithm's own rule (a tolerance, several
 *    counts, per-round frames to free) returning (converged, metrics).
 *
 * Durability mirrors the reference's WAL/LSN + snapshot story
 * (db4-storage/src/wal/mod.rs:28, serialise/graph_folder.rs): every committed
 * superstep writes its state parquet plus an atomically-renamed JSON manifest
 * carrying the run id, superstep number, row count, per-partition lineage
 * (rows + order-independent checksum), the converged flag and metrics; a
 * run with a checkpoint directory restarts from the latest committed
 * superstep of its run id. When that commit is marked converged, the run
 * returns its state, with that step count and `converged = true`, without
 * running a superstep (metrics empty).
 *
 * Plan-growth control: each superstep's state is pinned ([[Pin]]) and the
 * previous one released, so lineage and driver planning stay O(1) across
 * hundreds of iterations; on a throw every state the run pinned is freed.
 *
 * The graph algorithms iterate here, over one state frame each, except
 * `GraphLearn.walkLoop` (each step's frontier is also a corpus block, which
 * the runner would pin twice; measured in its doc) and Louvain's outer
 * levels (four per-level frames aggregated from the previous level's;
 * rebuilding them from one mapping frame would re-aggregate the level-1
 * graph at every level and reorder the weighted float sums).
 */
object SuperstepRunner {

  /** One superstep: the next-state plan and its stop rule. */
  final case class Step(next: DataFrame, until: Until = Never)

  /** When a run stops; evaluated over the materialized next state. */
  sealed trait Until

  /** Run to `maxSteps`. */
  case object Never extends Until

  /** Stop once no row satisfies `active`; the count is reported as `key`. */
  final case class NoRows(active: Column, key: String) extends Until

  /** Stop once the one-row aggregate `sig` equals the previous superstep's;
    * its first column is reported as `key`. With `orZero`, also stop when
    * that column is 0. */
  final case class Stable(key: String, sig: Seq[Column], orZero: Boolean = false) extends Until

  /** The algorithm's own rule: actions over the next state returning
    * (converged, metrics). */
  final case class Check(evaluate: DataFrame => (Boolean, Map[String, Double])) extends Until

  final case class RunConfig(
      maxSteps: Int,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      runId: String = "run")

  final case class RunResult(
      state: DataFrame,
      steps: Int,
      converged: Boolean,
      metrics: List[Map[String, Double]])

  /**
   * @param init   initial state (superstep 0); materialized by the runner
   * @param mkStep (state, superstep) => Step, superstep starting at 1
   */
  def run(spark: SparkSession, init: DataFrame, cfg: RunConfig)(
      mkStep: (DataFrame, Int) => Step): RunResult = Pin.scope { pins =>

    val resumed = cfg.checkpointDir.flatMap(d => resume(spark, d, cfg.runId))
    // Every superstep's state is pinned ([[Pin.pin]]): this both
    // materializes it for the stop rule AND truncates the logical plan to a
    // LogicalRDD. Iterative plans that reference the previous state more
    // than once (message join + diff join) would otherwise *double* in size
    // per superstep — exponential analysis cost and a driver OOM by ~30
    // supersteps. The pin drops the inherited statistics; whether the next
    // superstep re-exchanges the state depends on AQE (see [[Pin.pin]]).
    // Only the returned state outlives the run, also when a step throws.
    // A converged commit runs no further superstep.
    var (state, step, converged) = resumed match {
      case Some((df, k, done)) => (pins.pin(df), k, done)
      case None                => (pins.pin(init), 0, false)
    }
    var lastSig = Option.empty[Row]
    var allMetrics = List.empty[Map[String, Double]]

    while (!converged && step < cfg.maxSteps) {
      step += 1
      val t0 = System.nanoTime()
      val s = mkStep(state, step)
      // plan-audit hook (no-op unless GRAFT_EXPLAIN_DIR is set): dump ONE
      // representative superstep plan per run — step 2 shows the steady
      // state (step 1 plans can differ: init partitioning, warm-up paths)
      if (step == math.min(2, cfg.maxSteps)) explainHook(s"${cfg.runId}_superstep", s.next)
      // `next` is fully materialized — the previous state's blocks are
      // freed NOW (long runs otherwise accumulate every superstep's cache
      // and stall on memory pressure)
      val next = pins.replace(state, Pin.pin(s.next))
      val (done, metrics) = s.until match { // at most one action, except Check
        case Never => (false, Map.empty[String, Double])
        case NoRows(active, key) =>
          val n = next.filter(active).count()
          (n == 0, Map(key -> n.toDouble))
        case Stable(key, sig, orZero) =>
          val row = next.agg(sig.head, sig.tail: _*).first()
          val v = if (row.isNullAt(0)) 0.0 else row.getAs[Number](0).doubleValue
          val repeated = lastSig.contains(row)
          lastSig = Some(row)
          (repeated || orZero && v == 0.0, Map(key -> v))
        case Check(evaluate) => evaluate(next)
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      converged = done
      allMetrics ::= (metrics + ("wallMs" -> wallMs))

      val shouldCommit = cfg.checkpointDir.isDefined &&
        (converged || cfg.checkpointEvery > 0 && step % cfg.checkpointEvery == 0)

      state =
        if (shouldCommit) {
          val committed =
            commit(spark, cfg.checkpointDir.get, cfg.runId, step, next, metrics, wallMs, converged)
          // the committed parquet replaces the in-memory copy
          pins.release(next)
          committed
        } else next
    }
    RunResult(pins.keep(state), step, converged, allMetrics.reverse)
  }

  /** Plan-audit hook shared by the runner and hand-rolled loops: when
    * GRAFT_EXPLAIN_DIR is set, write `explain("formatted")` of the given
    * frame to `$dir/<name>.txt` (pre-execution plan: exchanges, join
    * strategies, codegen spans). Zero cost when the env is absent. */
  def explainHook(name: String, df: DataFrame): Unit =
    sys.env.get("GRAFT_EXPLAIN_DIR").foreach { d =>
      val p = Paths.get(d, s"$name.txt")
      Files.createDirectories(p.getParent)
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    }

  /** Write state parquet + manifest for superstep k; returns the re-read
    * DataFrame (fresh lineage rooted at the committed files). */
  private def commit(
      spark: SparkSession,
      dir: String,
      runId: String,
      step: Int,
      state: DataFrame,
      metrics: Map[String, Double],
      wallMs: Double,
      converged: Boolean): DataFrame = {
    val stepDir = s"$dir/steps/$step"
    val dataDir = s"$stepDir/data"
    state.write.mode("overwrite").parquet(dataDir)

    // Per-partition lineage over the *written files* (stable across resumes):
    // rows + an order-independent checksum (sum of row hashes). The
    // partition rows sum to the total, so no separate count job runs.
    val reread = spark.read.parquet(dataDir)
    val cols = reread.columns.map(col).toSeq
    val perPart = reread
      .withColumn("__h", xxhash64(struct(cols: _*)))
      .groupBy(spark_partition_id().as("p"))
      .agg(
        count(lit(1)).as("rows"),
        // bit_xor: order-independent and overflow-free (ANSI mode rejects
        // a plain sum of hashes).
        expr("bit_xor(__h)").as("checksum"))
      .collect()
    val rowCount = perPart.map(_.getLong(1)).sum
    val parts = perPart
      .map(r => s"""{"p":${r.getInt(0)},"rows":${r.getLong(1)},"checksum":${r.getLong(2)}}""")

    val metricsJson = metrics.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val manifest =
      s"""{"runId":"$runId","superstep":$step,"rows":$rowCount,"wallMs":$wallMs,""" +
        s""""converged":$converged,"metrics":$metricsJson,""" +
        s""""partitions":[${parts.mkString(",")}]}"""

    Files.createDirectories(Paths.get(stepDir))
    val tmp = Paths.get(stepDir, ".manifest.json.tmp")
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(stepDir, "manifest.json"), StandardCopyOption.ATOMIC_MOVE)
    reread
  }

  /** Latest committed (state, superstep, converged) of `runId`, if any. Only
    * manifests carrying that runId count — a stale run of a *different*
    * algorithm sharing the directory must not be silently resumed with the
    * wrong schema. */
  private def resume(spark: SparkSession, dir: String, runId: String): Option[(DataFrame, Int, Boolean)] = {
    val steps = Paths.get(dir, "steps")
    if (!Files.isDirectory(steps)) return None
    val runIdRe = "\"runId\"\\s*:\\s*\"([^\"]*)\"".r
    def manifestMatches(k: Int, text: String): Boolean = {
      val got = runIdRe.findFirstMatchIn(text).map(_.group(1))
      if (!got.contains(runId))
        System.err.println(s"[resume] skipping ${steps.resolve(s"$k/manifest.json")}: " +
          s"runId ${got.getOrElse("<none>")} != expected $runId")
      got.contains(runId)
    }
    val committed = listDir(steps)
      .flatMap(p => Try(p.getFileName.toString.toInt).toOption)
      .flatMap(k => readManifest(dir, k).map(k -> _))
      .filter { case (k, text) => manifestMatches(k, text) }
      .sortBy(-_._1)
    committed.headOption.map { case (k, text) =>
      val converged = "\"converged\"\\s*:\\s*true".r.findFirstIn(text).isDefined
      (spark.read.parquet(steps.resolve(s"$k/data").toString), k, converged)
    }
  }

  /** Read a committed manifest (for tests / metrics inspection). */
  def readManifest(dir: String, step: Int): Option[String] = {
    val p = Paths.get(dir, "steps", step.toString, "manifest.json")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)) else None
  }

  private def listDir(p: Path): List[Path] = {
    val s = Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toList
    } finally s.close()
  }
}
