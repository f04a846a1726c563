package graft.graph

import graft.SparkSpec
import graft.algos.PageRank
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Hub-salted CSR adjacency (north rule: "explicit salting for hub-turn
 * skew"): in every salted CSR builder a planted high-degree hub must be
 * sharded into bounded rows carrying the exact entry set and total,
 * and PageRank over the sharded CSR must match the unsharded scores.
 */
class AdjacencySaltingSpec extends SparkSpec {

  private val hubDeg = 5000
  private def hubGraph: TemporalGraph = {
    // hub 0 → 1..5000, plus a tail chain 1→2→…→50 for some structure
    val hubEdges = (1 to hubDeg).map(i => (0L, i.toLong, 1000L + i))
    val chain = (1 until 50).map(i => (i.toLong, (i + 1).toLong, 9000L + i))
    TemporalGraph.fromTriples(spark, hubEdges ++ chain)
  }

  test("hub rows are sharded and bounded; shards reassemble exactly") {
    val g = hubGraph
    val w = (d: Long) => d % 3 + 1
    val hubNbrs = (1 to hubDeg).map(_.toLong)
    // (builder, CSR at cap 256, key, entries, carried total, the hub's
    // total, the hub's distinct entries)
    val builders: Seq[(String, DataFrame, String, String, String, Long, Set[Any])] = Seq(
      ("adjacencyOut", g.adjacencyOut(256), "src", "dsts", "out_deg",
        hubDeg.toLong, hubNbrs.toSet),
      ("adjacencyOutWeighted",
        g.adjacencyOutWeighted(g.simpleEdges.withColumn("w", col("dst") % 3 + 1), 256),
        "src", "dsts", "out_w", hubNbrs.map(w).sum, hubNbrs.map(d => Row(d, w(d))).toSet),
      ("adjacencyBoth", g.adjacencyBoth(256), "node", "nbrs", "deg",
        hubDeg.toLong, hubNbrs.toSet),
      ("adjacencySigned", g.adjacencySigned(256), "node", "nbrs", "deg",
        hubDeg.toLong, hubNbrs.map(d => Row(d, 1)).toSet))

    for ((name, adj, key, entries, total, hubTotal, hubEntries) <- builders) {
      val hub = adj.filter(col(key) === 0L)
      val hubShards = hub.select(size(col(entries)), col(total)).collect()
      assert(hubShards.length == math.ceil(hubDeg / 256.0).toInt,
        s"$name: expected ceil($hubDeg/256) shards, got ${hubShards.length}")
      // hash-balanced shards: no shard dramatically above the cap
      assert(hubShards.forall(_.getInt(0) <= 2 * 256), s"$name: each shard must stay near the cap")
      assert(hubShards.forall(_.getLong(1) == hubTotal), s"$name: every shard carries the TOTAL $total")

      // the union of shard contents is exactly the distinct entry set
      val reassembled = hub.select(explode(col(entries))).collect().map(_.get(0))
      assert(reassembled.length == hubEntries.size && reassembled.toSet == hubEntries,
        s"$name: shards must reassemble the hub's entries exactly")

      // non-hub nodes keep the single-row CSR property
      assert(adj.filter(col(key) === 1L).count() == 1L, s"$name: a non-hub node stays one row")
    }
  }

  test("PageRank over the sharded CSR matches unsharded scores") {
    val g = hubGraph
    def scores(maxShard: Int): Map[Long, Double] =
      PageRank
        .run(spark, g, PageRank.Config(maxIter = 15, tol = 0.0, maxShard = maxShard))
        .collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Double]("score"))
        .toMap

    val sharded = scores(256)
    val unsharded = scores(1 << 20)
    assert(sharded.keySet == unsharded.keySet)
    sharded.foreach { case (id, s) =>
      assert(math.abs(s - unsharded(id)) < 1e-12, s"node $id: $s vs ${unsharded(id)}")
    }
  }
}
