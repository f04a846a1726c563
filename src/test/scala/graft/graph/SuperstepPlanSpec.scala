package graft.graph

import graft.SparkSpec
import graft.algos.{Hits, LabelPropagation, Louvain, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/**
 * Physical-plan contract for the iterative superstep shape: the persisted
 * CSR adjacency (the big, static side) must NOT sit under a shuffle
 * exchange in the per-superstep message join — its cached layout
 * (hash-partitioned on the join key by construction, see
 * [[TemporalGraph.saltedCsr]]) is reused every superstep, and only the
 * narrow state frame is exchanged. This is the steady-state cost model the
 * scaling gate depends on; a regression here re-shuffles the whole edge
 * set once (PageRank/LPA) or twice (HITS) per superstep.
 *
 * AQE and auto-broadcast are disabled inside these tests: at production
 * scale the adjacency is far above any broadcast threshold, and the
 * no-exchange property must hold for the shuffled-join path the big run
 * takes (at toy scale Spark would otherwise just broadcast the CSR, which
 * proves nothing about the steady-state shuffle shape).
 */
class SuperstepPlanSpec extends SparkSpec {

  private def g: TemporalGraph = {
    val triples = (1L to 400L).map(i => (i % 40, i % 37, 1000L + i))
    TemporalGraph.fromTriples(spark, triples)
  }

  private def withShuffledJoins[A](body: => A): A = {
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  /** True if a shuffle exchange sits BETWEEN the cached adjacency scan and
    * its nearest join ancestor — i.e. the adjacency side itself is being
    * re-partitioned to satisfy the join. (Exchanges ABOVE the join — the
    * message groupBy — are inherent and fine.) */
  private def adjacencyReExchanged(plan: SparkPlan): Boolean = {
    def pathToScan(p: SparkPlan): Option[List[SparkPlan]] =
      if (p.isInstanceOf[InMemoryTableScanExec]) Some(List(p))
      else p.children.view.flatMap(pathToScan).headOption.map(p :: _)
    pathToScan(plan) match {
      case Some(rootToScan) =>
        val scanUpToJoin = rootToScan.reverse
          .takeWhile(!_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        scanUpToJoin.exists(_.isInstanceOf[ShuffleExchangeExec])
      case None => true
    }
  }

  private def assertAdjacencyStaysPut(msgAgg: DataFrame): Unit = {
    val plan = msgAgg.queryExecution.executedPlan
    assert(
      plan.collectFirst { case s: InMemoryTableScanExec => s }.isDefined,
      s"expected the persisted adjacency in the plan:\n$plan")
    assert(
      !adjacencyReExchanged(plan),
      s"persisted adjacency must not be re-exchanged per superstep:\n$plan")
  }

  test("PageRank-shaped superstep reuses the out-CSR partitioning") {
    withShuffledJoins {
      val adj = g.adjacencyOut(1 << 17).persist()
      adj.count()
      val state = g.nodes.select(col("id"), lit(0.5).as("score")).localCheckpoint(true)
      assertAdjacencyStaysPut(TemporalGraph.pushOut(adj, state, col("score") / col("out_deg")))
      adj.unpersist(true)
    }
  }

  test("LPA superstep reuses the BOTH-CSR partitioning") {
    withShuffledJoins {
      val adj = g.adjacencyBoth(1 << 17).persist()
      adj.count()
      val state = g.nodes.select(col("id"), col("id").as("label")).localCheckpoint(true)
      assertAdjacencyStaysPut(LabelPropagation.tally(adj, state))
      adj.unpersist(true)
    }
  }

  test("HITS fused superstep reuses the signed-CSR partitioning") {
    withShuffledJoins {
      val adj = g.adjacencySigned(1 << 17).persist()
      adj.count()
      val state = g.nodes
        .select(col("id"), lit(1.0).as("hub"), lit(1.0).as("auth"))
        .localCheckpoint(true)
      // the fused pass: ONE join + ONE explode + ONE groupBy carries both
      // the hub and the auth message streams
      assertAdjacencyStaysPut(Hits.received(adj, state))
      adj.unpersist(true)
    }
  }

  test("weighted-PageRank superstep reuses the weighted-CSR partitioning") {
    withShuffledJoins {
      val weights = g.simpleEdges.withColumn("w", lit(1L))
      val adj = g.adjacencyOutWeighted(weights, 1 << 17).persist()
      adj.count()
      val state = g.nodes.select(col("id"), lit(0.5).as("score")).localCheckpoint(true)
      assertAdjacencyStaysPut(PageRank.weightedMessages(adj, state))
      adj.unpersist(true)
    }
  }

  test("signed CSR carries both directions exactly once per directed edge") {
    val tg = TemporalGraph.fromTriples(
      spark,
      Seq((1L, 2L, 10L), (2L, 1L, 20L), (2L, 3L, 30L), (1L, 2L, 40L)))
    val rows = tg.adjacencySigned(1 << 17)
      .select(col("node"), explode(col("nbrs")).as("e"))
      .select(col("node"), col("e.nbr").as("nbr"), col("e.out").as("out"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    // distinct directed edges: 1→2, 2→1, 2→3; duplicate 1→2@40 deduped
    assert(rows == Set(
      (1L, 2L, 1), (2L, 1L, 0), // 1→2
      (2L, 1L, 1), (1L, 2L, 0), // 2→1
      (2L, 3L, 1), (3L, 2L, 0))) // 2→3
  }

  test("Louvain-shaped round reuses the weighted-CSR partitioning") {
    withShuffledJoins {
      // the per-level weighted CSR Louvain.localMoving builds: keyed by the
      // message source, persisted, hash-partitioned by the groupBy
      val adj = Louvain.csr(g.canonicalUndirected.withColumn("w", lit(1.0))).persist()
      adj.count()
      val state = g.nodes
        .select(col("id"), col("id").as("com"), lit(1.0).as("k"))
        .localCheckpoint(true)
      assertAdjacencyStaysPut(Louvain.communityWeights(adj, state))
      adj.unpersist(true)
    }
  }
}
