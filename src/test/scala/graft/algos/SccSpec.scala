package graft.algos

import graft.SparkSpec
import graft.bsp.Pin
import graft.graph.TemporalGraph

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/**
 * SCC parity with a model Tarjan (iterative, matching the reference
 * components/scc.rs:20-85 semantics) up to relabeling — both sides
 * canonicalized to min-node-id per component.
 */
class SccSpec extends SparkSpec {

  /** Iterative Tarjan over an adjacency map; returns node -> min-id label. */
  private def tarjanModel(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toList }
    val index = mutable.Map.empty[Long, Int]
    val lowlink = mutable.Map.empty[Long, Int]
    val onStack = mutable.Set.empty[Long]
    val stack = mutable.Stack.empty[Long]
    var counter = 0
    val labels = mutable.Map.empty[Long, Long]

    // explicit work-stack DFS (the reference recurses; same traversal)
    def strongconnect(v0: Long): Unit = {
      // frames: (node, iterator over remaining out-neighbours)
      val frames = mutable.Stack.empty[(Long, Iterator[Long])]
      def push(v: Long): Unit = {
        counter += 1
        index(v) = counter; lowlink(v) = counter
        stack.push(v); onStack += v
        frames.push((v, adj.getOrElse(v, Nil).iterator))
      }
      push(v0)
      while (frames.nonEmpty) {
        val (v, it) = frames.top
        var descended = false
        while (it.hasNext && !descended) {
          val w = it.next()
          if (!index.contains(w)) { push(w); descended = true }
          else if (onStack(w)) lowlink(v) = math.min(lowlink(v), index(w))
        }
        if (!descended) {
          frames.pop()
          if (frames.nonEmpty) {
            val parent = frames.top._1
            lowlink(parent) = math.min(lowlink(parent), lowlink(v))
          }
          if (index(v) == lowlink(v)) {
            val comp = mutable.ListBuffer.empty[Long]
            var w = 0L
            do { w = stack.pop(); onStack -= w; comp += w } while (w != v)
            val label = comp.min
            comp.foreach(n => labels(n) = label)
          }
        }
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
    labels.toMap
  }

  private def labels(out: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val got = out.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    Pin.release(out)
    got
  }

  private def sparkScc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    labels(Scc.run(spark, TemporalGraph.fromTriples(spark, edges.map { case (a, b) => (a, b, 0L) })))

  test("two cycles joined by a bridge (classic SCC fixture)") {
    // cycle {1,2,3}, cycle {4,5}, bridge 3→4, pendant 6
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 4), (5, 6))
    val got = sparkScc(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("pure chain: every node its own SCC") {
    val edges = (1L until 8L).map(i => (i, i + 1))
    val got = sparkScc(edges)
    assert(got == (1L to 8L).map(i => i -> i).toMap)
  }

  test("random digraphs match the Tarjan model") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 20
      val edges = (1 to n * 2).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2).distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = tarjanModel(nodes, edges)
      val got = sparkScc(edges)
      assert(got == want, s"trial $trial (n=$n)")
    }
  }

  /** Every path under `root`, children before their parents. */
  private def tree(root: Path): List[Path] =
    if (!Files.exists(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toList.sortBy(_.toString).reverse finally walk.close()
    }

  test("a run stopped after round 1 resumes at round 2 and matches an uninterrupted run") {
    val rnd = new Random(11)
    val n = 60
    val edges = (1 to n * 2)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
      .distinct
    val g = TemporalGraph.fromTriples(spark, edges.map { case (a, b) => (a, b, 0L) })
    val want = labels(Scc.run(spark, g))
    val dir = Files.createTempDirectory("graft-scc-resume")
    def round1Manifests = (tree(dir.resolve("round1")) ++ tree(dir.resolve("rounds/steps/1")))
      .filter(_.getFileName.toString == "manifest.json")
      .map(p => dir.relativize(p).toString -> new String(Files.readAllBytes(p)))
      .toMap
    try {
      val cfg = Scc.Config(checkpointDir = Some(dir.toString))
      val partial = labels(Scc.run(spark, g, cfg.copy(maxRounds = 1)))
      assert(partial.size < want.size, "the graph must need more than one round")
      val before = round1Manifests
      assert(Seq("round1/color", "round1/reach", "rounds").forall(d => before.keys.exists(_.startsWith(d))))
      assert(labels(Scc.run(spark, g, cfg)) == want)
      assert(Files.exists(dir.resolve("rounds/steps/2/manifest.json")))
      assert(round1Manifests == before, "the resumed run must not rewrite round 1")
    } finally tree(dir).foreach(Files.delete)
  }
}
