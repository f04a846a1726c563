package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/**
 * Minimal bridge into `private[sql]` Spark internals.
 *
 * Why it exists: `Dataset.localCheckpoint(eager = true)` truncates the
 * *plan* but copies the optimizer's estimated statistics into the resulting
 * `LogicalRDD` (`originStats`). In an iterative driver loop whose superstep
 * joins the previous state more than once, the estimated `sizeInBytes`
 * (a BigInt) is *multiplied* at every join — so its bit-length doubles per
 * superstep and by ~20 supersteps the driver spends minutes inside
 * `BigInteger.multiply` during planning. Re-wrapping the materialized
 * internal RDD in a fresh `LogicalRDD` resets the stats to the bounded
 * default while keeping the zero-copy UnsafeRow data path (the public
 * `createDataFrame(RDD[Row], schema)` would force a per-row
 * InternalRow↔Row conversion on every downstream scan).
 */
object GraftSqlInternals {

  /** DataFrame over an already-materialized InternalRow RDD, with fresh
    * (default) statistics. Loses partitioning info — prefer [[resetStats]]
    * on a checkpointed Dataset, which keeps it. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /**
   * Drop the inherited `originStats`/`originConstraints` from a
   * checkpointed Dataset's `LogicalRDD` while *keeping* its output
   * partitioning and ordering (under AQE the checkpoint's partitioning is
   * usually already unknown; see `graft.bsp.Pin.pin`), so the BigInt
   * statistics can't snowball across iterations. Falls back to a stats-free rewrap when the
   * plan isn't a bare LogicalRDD.
   */
  def resetStats(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        // second (curried) parameter list carries session + origin stats
        val fresh = new LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering, l.isStreaming, l.stream)(
          session, None, None)
        classic.Dataset.ofRows(session, fresh)
      case _ =>
        internalCreateDataFrame(df.sparkSession, df.queryExecution.toRdd, df.schema)
    }
  }

  /** Wrap a Catalyst [[catalyst.expressions.Expression]] as a user-facing
    * [[Column]] (Spark 4 moved Column onto ColumnNode, so the classic
    * `new Column(expr)` constructor is gone; `ExpressionUtils.column` is the
    * supported internal bridge). Used by `graft.functions` to expose native
    * codegen expressions without a per-session FunctionRegistry round-trip. */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse bridge: the Catalyst expression behind a classic [[Column]]. */
  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The materialized RDD behind a (checkpointed) LogicalRDD plan, or
    * behind a column projection of one, if any — used by `graft.bsp.Pin`
    * to free a pinned frame eagerly. Waiting for the ContextCleaner instead
    * lets cached superstep states pile up and throttles long runs with GC
    * pressure. */
  def cachedRdd(df: DataFrame): Option[RDD[_]] = {
    @scala.annotation.tailrec
    def leaf(p: catalyst.plans.logical.LogicalPlan): Option[RDD[_]] = p match {
      case l: execution.LogicalRDD => Some(l.rdd)
      case catalyst.plans.logical.Project(_, child) => leaf(child)
      case _ => None
    }
    leaf(df.queryExecution.analyzed)
  }
}
