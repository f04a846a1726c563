package graft.rel

import graft.SparkSpec
import graft.graph.TemporalGraph
import org.apache.spark.sql.functions._

class RelSpec extends SparkSpec {

  import spark.implicits._

  test("predicate algebra compiles to pushable Columns") {
    import Predicates._
    val df = Seq(
      (1L, "PROMO box", 10, Seq(1.0, 2.0, 3.0), Some("x")),
      (2L, "STANDARD tin", 20, Seq(5.0), None),
      (3L, "PROMO bag", 30, Seq.empty[Double], Some("y")))
      .toDF("id", "name", "size", "vals", "tag")

    assert(df.filter((F("name").startsWith("PROMO") && F("size") < 25).compile)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(df.filter(F("size").isIn(10, 30).compile).count() == 2)
    assert(df.filter(F("tag").isNone.compile).collect()(0).getLong(0) == 2L)
    assert(df.filter(F("vals").any(_ > 2.5).compile).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(df.filter(F("vals").all(_ > 2.5).compile).collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    assert(df.filter((F("vals").first === 1.0).compile).count() == 1)
    assert(df.select(F("vals").len.as("n")).collect().map(_.getLong(0)).toSeq == Seq(3L, 1L, 0L))
    assert(df.filter((!F("name").containsStr("tin")).compile).count() == 2)
  }

  test("result ops mirror NodeStateOps semantics") {
    val df = Seq((1L, 5.0), (2L, 1.0), (3L, 9.0), (4L, 5.0)).toDF("id", "score")
    assert(ResultOps.topK(df, "score", 2).collect().map(_.getLong(0)).toSeq == Seq(3L, 1L))
    assert(ResultOps.bottomK(df, "score", 1).collect()(0).getLong(0) == 2L)
    assert(ResultOps.maxItem(df, "score").contains((3L, 9.0)))
    assert(ResultOps.minItem(df, "score").contains((2L, 1.0)))
    assert(ResultOps.sum(df, "score") == 20.0)
    assert(ResultOps.mean(df, "score") == 5.0)
    assert(ResultOps.median(df, "score").contains(5.0))
    val grouped = ResultOps.groupBy(df, "score").collect()
      .map(r => r.getDouble(0) -> r.getSeq[Long](1).toList).toMap
    assert(grouped(5.0) == List(1L, 4L))
  }

  test("median: 10^6 all-distinct doubles, exact, no single-partition global sort") {
    import spark.implicits._
    // ALL-DISTINCT continuous values — the shape where the r3 cumulative
    // window over distinct values collapsed to one task sorting n rows.
    // Deterministic permutation: v = (id * 2654435761 mod 2^31) + fraction,
    // so values are distinct and the upper-middle element is known by rank.
    val n = 1000000L
    val vals = spark.range(n)
      .select((pmod(col("id") * 2654435761L, lit(1L << 31)) +
        col("id").cast("double") / lit(2e7)).as("score"), col("id"))
    // capture executed plans: the whole call must never run a GLOBAL sort
    // (TakeOrderedAndProject and per-partition work are fine)
    val (got, plans) = withExecutedPlans(ResultOps.median(vals.toDF(), "score"))
    // oracle: exact rank-n/2 element via a driver-side sort of the same
    // deterministic values (cheap: generated locally, not via Spark)
    val local = (0L until n).map(i =>
      java.lang.Math.floorMod(i * 2654435761L, 1L << 31).toDouble + i.toDouble / 2e7)
      .sorted
    assert(got.contains(local((n / 2).toInt)), s"got $got want ${local((n / 2).toInt)}")
    val globalSorts = plans.map(_.toString)
      .filter(p => p.linesIterator.exists(l => l.contains("Sort ") && l.contains("], true,")))
    assert(globalSorts.isEmpty, s"median ran a global sort:\n${globalSorts.headOption.getOrElse("")}")
  }

  test("median: forced iterative brackets + duplicate-dominated stall branch stay exact") {
    import spark.implicits._
    // tiny localBracket forces multiple bracket rounds on 100k distinct rows
    val dist = spark.range(100001).select(col("id").cast("double").as("v")).toDF()
    assert(ResultOps.median(dist, "v", localBracket = 1000L).contains(50000.0))
    // duplicates dominate around the median: 150k copies of 7.0 plus tails
    val dup = spark.range(200000)
      .select(when(col("id") < 20000, col("id").cast("double") / 1e5)
        .when(col("id") < 170000, lit(7.0))
        .otherwise(lit(9.0) + col("id").cast("double") / 1e6).as("v")).toDF()
    assert(ResultOps.median(dup, "v", localBracket = 1000L).contains(7.0))
    // upper-middle semantics (node_state_ops.rs:206): even n takes index n/2
    val even = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    assert(ResultOps.median(even, "v").contains(3.0))
    val odd = Seq(5.0, 1.0, 9.0).toDF("v")
    assert(ResultOps.median(odd, "v").contains(5.0))
  }

  test("median: point masses at BOTH bracket boundaries with a distinct interior") {
    import spark.implicits._
    // 49.5% of rows = 1.0, a 1% strictly-interior band of ALL-DISTINCT
    // values, 49.5% = 2.0: the ±1% rank quantiles land on the two point
    // masses, so the first bracket covers every row (the stall case). The
    // stall branch must recurse into the ≤1% interior — never collect
    // per-value counts of the whole bracket — and stay exact.
    def shaped(loN: Long, midN: Long, hiN: Long) = spark.range(loN + midN + hiN)
      .select(
        when(col("id") < loN, lit(1.0))
          .when(col("id") < loN + midN, lit(1.0) + (col("id") - loN + 1).cast("double") / 1e5)
          .otherwise(lit(2.0)).as("v"))
      .toDF()
    // upper-middle rank 100000 falls at interior offset 1000+1 → 1.01001
    assert(ResultOps.median(shaped(99000, 2000, 99000), "v", localBracket = 1000L)
      .contains(1.01001))
    // target landing on the lo / hi boundary masses resolves without recursion
    assert(ResultOps.median(shaped(120000, 2000, 78000), "v", localBracket = 1000L)
      .contains(1.0))
    assert(ResultOps.median(shaped(78000, 2000, 120000), "v", localBracket = 1000L)
      .contains(2.0))
  }

  test("rolling/expanding window sets replicate the reference cursor") {
    // events at t = 0, 5, 10, 15 (ms); timelineEnd = 16
    val g = TemporalGraph.fromTriples(spark,
      Seq((1L, 2L, 0L), (2L, 3L, 5L), (3L, 4L, 10L), (4L, 5L, 15L)))
    // rolling(window=10, step=10): ends at 10, 20 → [0,10), [10,20)
    val roll = g.rolling(10)
    assert(roll.map(w => (w._1, w._2)) == Seq((0L, 10L), (10L, 20L)))
    assert(roll.map(_._3.countTemporalEdges()) == Seq(2L, 2L))
    // rolling(window=10, step=5): ends 5,10,15,20 → starts -5,0,5,10
    val roll2 = g.rolling(10, Some(5))
    assert(roll2.map(_._2) == Seq(5L, 10L, 15L, 20L))
    assert(roll2.map(_._3.countTemporalEdges()) == Seq(1L, 2L, 2L, 2L))
    // expanding(step=8): ends at 8, 16 (24 fails `end < timelineEnd + step`
    // since 24 < 16+8 is false) → prefix counts 2, 4
    val exp = g.expanding(8)
    assert(exp.map(_._1) == Seq(8L, 16L))
    assert(exp.map(_._2.countTemporalEdges()) == Seq(2L, 4L))
  }
}
