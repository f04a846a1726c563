package perfbench

import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, Triangles}
import graft.data.{GraphGen, TranscriptGen}
import graft.graph.{EdgeBuilder, TemporalGraph}
import graft.sources.GraphStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One public call of a job and the verdict on its output. */
final case class Op(name: String, ok: Boolean, detail: String = "")

/** What one job did, beyond the spans and Spark work the tracer records. */
final class JobOutcome {
  val ops = Seq.newBuilder[Op]
  /** (call span, superstep walls in ms) of every iterative call. */
  val iterative = Seq.newBuilder[(Span, Seq[Double])]
  /** Layer-specific counters, summed over the job's calls. */
  val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def count(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Everything a job needs from the benchmark around it. */
final case class JobCtx(spark: SparkSession, tracer: Tracer, job: Int, workDir: Path)

/**
 * A workload: inputs made from the seed during set-up, a single-threaded
 * reference for every output, and one job that the closed loop repeats.
 */
trait Workload {
  def name: String

  /** Generate and persist the inputs, and wait until they are materialized. */
  def setup(spark: SparkSession, seed: Long): Unit

  /** Drop the persisted inputs (set-up is timed several times). */
  def release(): Unit

  /** Compute the reference outputs; returns the reference walls (COST
    * floors) in seconds by algorithm. Runs outside the timed window. */
  def reference(): Map[String, Double]

  /** Directed simple edges of the graph the iterative calls traverse. */
  def edges: Long

  /** Wall of one warm job on an idle 4-core machine when the benchmark was
    * defined. A run of `s` seconds times `s / nominalJobS` jobs, a count
    * that does not change with the machine's load. */
  def nominalJobS: Double

  def job(ctx: JobCtx): JobOutcome
}

object Workloads {
  val all: Seq[Workload] = Seq(new ChainIterate, new HubSkew, new IngestResume)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Best-of-three wall of a reference computation, and its last result. */
  def timed[T](f: => T): (T, Double) = {
    var best = Double.MaxValue
    var out: Option[T] = None
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime()
      out = Some(f)
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (out.get, best)
  }

  def refGraph(edges: DataFrame): RefGraph = {
    val rows = edges.select(col("src"), col("dst")).collect()
    RefGraph(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
  }

  /** Runs one public call as an operation, then checks what it returned
    * outside the call's span. A throw fails the operation. */
  def op[T](out: JobOutcome, name: String)(call: => T)(check: T => (Boolean, String)): Unit = {
    val (ok, detail) =
      try check(call)
      catch { case e: Throwable => (false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    out.ops += Op(name, ok, detail)
  }

  /** Scores match the reference with rtol 1e-6 (atol 0: every score is at
    * least the teleport term, far above rounding). */
  def checkScores(g: RefGraph, want: Array[Double], rows: Array[Row]): (Boolean, String) = {
    if (rows.length != g.n) return (false, s"${rows.length} scores for ${g.n} nodes")
    var worst = 0.0
    rows.foreach { r =>
      val v = g.index(r.getLong(0))
      if (v < 0) return (false, s"unknown node ${r.getLong(0)}")
      worst = math.max(worst, math.abs(r.getDouble(1) - want(v)) / want(v))
    }
    (worst <= 1e-6, f"max rel diff $worst%.3e")
  }

  /** Labels equal the reference exactly. */
  def checkLabels(g: RefGraph, want: Array[Long], rows: Array[Row]): (Boolean, String) = {
    if (rows.length != g.n) return (false, s"${rows.length} labels for ${g.n} nodes")
    val bad = rows.count { r =>
      val v = g.index(r.getLong(0))
      v < 0 || r.getLong(1) != want(v)
    }
    (bad == 0, s"$bad labels differ")
  }

  /** The superstep guard: an iterative call must run the steps its
    * reference runs, and more than one, or it is timing something else. */
  def guard(what: String, got: Int, want: Int): (Boolean, String) =
    if (got != want) (false, s"$what ran $got supersteps, reference $want")
    else if (got <= 1) (false, s"$what ran $got superstep")
    else (true, "")

  def both(a: (Boolean, String), b: (Boolean, String)): (Boolean, String) =
    (a._1 && b._1, Seq(a._2, b._2).filter(_.nonEmpty).mkString("; "))

  def walls(metrics: Seq[Map[String, Double]]): Seq[Double] = metrics.map(_.getOrElse("wallMs", 0.0))

  /** Builds and persists a salted CSR, returning (frame, rows, extra hub shards). */
  def materializeCsr(adj: DataFrame): (DataFrame, Long, Long) = {
    val p = adj.persist()
    val r = p.agg(count(lit(1)), sum(when(col("salt") > 0, 1L).otherwise(0L))).first()
    (p, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def dirStats(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toList
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
}

import Workloads._

/** PageRank and WCC on reply/tool chains: no hubs, small per-step work, so
  * the per-superstep fixed cost dominates. */
final class ChainIterate extends Workload {
  val name = "chain-iterate"
  val Convs = 500L
  val PageRankSteps = 5
  val WccCap = 3

  private var input: DataFrame = _
  private var ref: RefGraph = _
  private var refRank: Array[Double] = _
  private var refWcc: (Int, Array[Long]) = _

  def setup(spark: SparkSession, seed: Long): Unit = {
    val t = TranscriptGen.transcripts(spark, Convs, seed).persist()
    t.count()
    input = EdgeBuilder.edges(t).select("src", "dst", "ts", "event_id", "layer").persist()
    input.count()
    t.unpersist(true)
  }

  def release(): Unit = input.unpersist(true)

  def reference(): Map[String, Double] = {
    ref = refGraph(input)
    val (pr, prS) = timed(Reference.pageRank(ref, PageRankSteps)._1)
    val (_, wccS) = timed(Reference.components(ref))
    refRank = pr
    refWcc = Reference.starContraction(ref, WccCap)
    Map("pagerank" -> prS, "wcc" -> wccS)
  }

  def nominalJobS: Double = 3.5

  def edges: Long = ref.edges.toLong

  def job(ctx: JobCtx): JobOutcome = {
    val out = new JobOutcome
    val (spark, tr, j) = (ctx.spark, ctx.tracer, ctx.job)
    val g = TemporalGraph(input)
    var adj: DataFrame = null
    op(out, "csr") {
      tr.call(j, "csr")(_ => materializeCsr(g.adjacencyOut))
    } { case (a, rows, shards) =>
      adj = a
      out.count("csr.rows", rows.toDouble)
      out.count("csr.hub_shards", shards.toDouble)
      (rows > 0, "")
    }
    op(out, "pagerank") {
      tr.call(j, "algos.pagerank") { span =>
        val r = PageRank.runFull(spark, adj, g.nodes, PageRank.Config(maxIter = PageRankSteps, tol = 0.0))
        tr.steps(span, walls(r.metrics), tr.nowMs)
        out.iterative += ((span, walls(r.metrics)))
        (r.state.select("id", "score").collect(), r.steps)
      }
    } { case (rows, steps) => both(checkScores(ref, refRank, rows), guard("pagerank", steps, PageRankSteps)) }
    if (adj != null) adj.unpersist(false)
    op(out, "wcc") {
      tr.call(j, "algos.wcc") { span =>
        val (labels, m) = ConnectedComponents.runWithMetrics(spark, g, ConnectedComponents.Config(maxIter = WccCap))
        tr.steps(span, walls(m), tr.nowMs)
        out.iterative += ((span, walls(m)))
        (labels.collect(), m.size)
      }
    } { case (rows, rounds) =>
      out.count("algos.wcc.rounds", rounds.toDouble)
      both(checkLabels(ref, refWcc._2, rows), guard("wcc", rounds, refWcc._1))
    }
    out
  }
}

/** Triangles and LPA on a random-attachment graph with two hubs whose
  * neighbour lists exceed the CSR shard cap: per-edge, skewed work. */
final class HubSkew extends Workload {
  val name = "hub-skew"
  val Nodes = 20000L
  val EdgesPerNode = 4
  val HubEdges = 20000L
  val LpaCap = 4
  val MaxShard: Int = 1 << 13

  private var input: DataFrame = _
  private var ref: RefGraph = _
  private var refTriangles = 0L
  private var refLpa: (Array[Long], Int, Seq[Long]) = _

  def setup(spark: SparkSession, seed: Long): Unit = {
    val base = GraphGen.randomAttachment(spark, Nodes, EdgesPerNode, seed).edges
    // two extra nodes, each linked to HubEdges uniformly drawn earlier nodes
    val hubs = spark.range(2L * HubEdges).select(
      (lit(Nodes) + col("id") % 2).as("src"),
      pmod(xxhash64(lit(seed), col("id"), lit("hub")), lit(Nodes)).as("dst"),
      (lit(Nodes) + col("id")).as("ts"),
      col("id").as("event_id"),
      lit("_default").as("layer"))
    input = base.select("src", "dst", "ts", "event_id", "layer").union(hubs).persist()
    input.count()
  }

  def release(): Unit = input.unpersist(true)

  def reference(): Map[String, Double] = {
    ref = refGraph(input)
    val (tri, triS) = timed(Reference.triangles(ref))
    val (lpa, lpaS) = timed(Reference.labelPropagation(ref, LpaCap))
    refTriangles = tri
    refLpa = lpa
    Map("triangles" -> triS, "lpa" -> lpaS)
  }

  def nominalJobS: Double = 7.5

  def edges: Long = ref.edges.toLong

  def job(ctx: JobCtx): JobOutcome = {
    val out = new JobOutcome
    val (spark, tr, j) = (ctx.spark, ctx.tracer, ctx.job)
    val g = TemporalGraph(input)
    op(out, "csr") {
      // the both-direction CSR that LPA builds for itself, built here on
      // its own so that its cost and hub sharding show as a layer
      tr.call(j, "csr")(_ => materializeCsr(g.adjacencyBoth(MaxShard)))
    } { case (a, rows, shards) =>
      a.unpersist(false)
      out.count("csr.rows", rows.toDouble)
      out.count("csr.hub_shards", shards.toDouble)
      (shards > 0, s"$shards hub shards")
    }
    op(out, "triangles") {
      tr.call(j, "algos.triangles")(_ => Triangles.globalCount(spark, g))
    } { got => (got == refTriangles, s"$got triangles, reference $refTriangles") }
    op(out, "lpa") {
      tr.call(j, "algos.lpa") { span =>
        val (labels, m) = LabelPropagation.runWithMetrics(
          spark, g, LabelPropagation.Config(maxIter = LpaCap, maxShard = MaxShard))
        tr.steps(span, walls(m), tr.nowMs)
        out.iterative += ((span, walls(m)))
        (labels.collect(), m)
      }
    } { case (rows, m) =>
      out.count("algos.lpa.changes", m.map(_.getOrElse("changes", 0.0)).sum)
      out.count("algos.lpa.votes", m.size.toDouble * ref.n)
      both(checkLabels(ref, refLpa._1, rows), guard("lpa", m.size, refLpa._2))
    }
    out
  }
}

/** Edge build, snapshot store and checkpoint/resume: writes beside reads. */
final class IngestResume extends Workload {
  val name = "ingest-resume"
  val Convs = 500L
  val Batches = 2
  // stopped between commits, so the resumed call also recomputes the
  // uncommitted step
  val StopAt = 3
  val ResumeTo = 6
  val CheckpointEvery = 2

  private var input: DataFrame = _
  private var expected: Seq[(String, Int, Int, String)] = _
  private var ref: RefGraph = _
  private var refStop: Array[Double] = _
  private var refFull: Array[Double] = _

  def setup(spark: SparkSession, seed: Long): Unit = {
    input = TranscriptGen.transcripts(spark, Convs, seed).persist()
    input.count()
  }

  def release(): Unit = input.unpersist(true)

  def reference(): Map[String, Double] = {
    expected = Reference.transcriptEdges(
      input.select("conv_id", "turn_idx", "role", "tool").collect().toSeq.map { r =>
        (r.getString(0), r.getInt(1), r.getString(2), Option(r.getString(3)))
      })
    ref = refGraph(EdgeBuilder.edges(input))
    val (full, prS) = timed(Reference.pageRank(ref, ResumeTo)._1)
    refFull = full
    refStop = Reference.pageRank(ref, StopAt)._1
    Map("pagerank" -> prS)
  }

  def nominalJobS: Double = 4.7

  def edges: Long = ref.edges.toLong

  def job(ctx: JobCtx): JobOutcome = {
    val out = new JobOutcome
    val (spark, tr, j) = (ctx.spark, ctx.tracer, ctx.job)
    val storeDir = ctx.workDir.resolve(s"store-$j")
    val ckptDir = ctx.workDir.resolve(s"ckpt-$j")
    var built: DataFrame = null
    op(out, "edges") {
      tr.call(j, "edgebuilder") { _ =>
        built = EdgeBuilder.edges(input).persist()
        built.count()
      }
    } { n => (n == expected.size, s"$n edges, reference ${expected.size}") }
    val store = new GraphStore(storeDir.toString, spark)
    (0 until Batches).foreach { b =>
      op(out, s"append-$b") {
        tr.call(j, "store") { _ =>
          store.append(built.filter(pmod(xxhash64(col("conv_id")), lit(Batches.toLong)) === b))
        }
      } { id => (id == b, s"batch id $id") }
    }
    op(out, "compact")(tr.call(j, "store")(_ => store.compact(spark.sparkContext.defaultParallelism))) { k => (k == 0, s"snapshot $k") }
    var g: TemporalGraph = null
    op(out, "read") {
      tr.call(j, "store") { _ =>
        g = store.read()
        g.edges.select("conv_id", "src_turn_idx", "dst_turn_idx", "layer").collect()
      }
    } { rows =>
      val got = rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq.sorted
      (got == expected, s"${got.size} edges read, reference ${expected.size}")
    }
    if (built != null) built.unpersist(false)
    val (storeFiles, storeBytes) = dirStats(storeDir)
    out.count("store.files", storeFiles.toDouble)
    out.count("store.bytes_written", storeBytes.toDouble)

    var adj: DataFrame = null
    op(out, "csr")(tr.call(j, "csr")(_ => materializeCsr(g.adjacencyOut))) { case (a, rows, shards) =>
      adj = a
      out.count("csr.rows", rows.toDouble)
      out.count("csr.hub_shards", shards.toDouble)
      (rows > 0, "")
    }
    def pagerank(opName: String, steps: Int, want: Array[Double]): Unit =
      op(out, opName) {
        tr.call(j, "ckpt") { span =>
          val r = PageRank.runFull(spark, adj, g.nodes, PageRank.Config(
            maxIter = steps, tol = 0.0, checkpointDir = Some(ckptDir.toString),
            checkpointEvery = CheckpointEvery))
          tr.steps(span, walls(r.metrics), tr.nowMs)
          out.iterative += ((span, walls(r.metrics)))
          (r.state.select("id", "score").collect(), r.steps)
        }
      } { case (rows, got) => both(checkScores(ref, want, rows), guard(opName, got, steps)) }
    pagerank("pagerank-stop", StopAt, refStop)
    pagerank("pagerank-resume", ResumeTo, refFull)
    out.count("ckpt.resume_s", tr.last.wallS)
    if (adj != null) adj.unpersist(false)
    val steps = ckptDir.resolve("steps")
    val manifests =
      if (!Files.exists(steps)) 0
      else Files.list(steps).iterator().asScala.count(p => Files.exists(p.resolve("manifest.json")))
    out.count("ckpt.commits", manifests.toDouble)
    out.count("ckpt.bytes_written", dirStats(ckptDir)._2.toDouble)
    out.count("ckpt.steps_saved_frac", (StopAt / CheckpointEvery * CheckpointEvery).toDouble / ResumeTo)
    out
  }
}
