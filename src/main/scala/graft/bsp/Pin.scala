package graft.bsp

import org.apache.spark.sql.{DataFrame, GraftSqlInternals}

import scala.collection.mutable
import scala.util.Using

/**
 * The one pin/release lifecycle for iteration state — the reference's
 * double-buffered per-node state (`TaskRunner`: keep this superstep's
 * frame, drop the last one) as Spark blocks:
 *
 *  - [[pin]] materializes a frame into its own blocks and cuts its lineage;
 *  - [[release]] frees those blocks (or a persisted frame's cache) now,
 *    not whenever the ContextCleaner notices the dropped reference;
 *  - [[scope]] releases every frame pinned or persisted through it that
 *    the body did not hand back with [[Scope.keep]], on return AND on a
 *    throw.
 *
 * A result that reads an internal pin is pinned once and handed back, so
 * the caller owns exactly that frame and frees it with [[release]].
 */
object Pin {

  /** Eager local checkpoint with the inherited plan statistics dropped
    * ([[org.apache.spark.sql.GraftSqlInternals.resetStats]]), so the BigInt
    * size estimates that otherwise double in bit-length per superstep are
    * reset. The pinned frame keeps whatever output partitioning its
    * executed plan declared. With AQE off that is the key's
    * `hashpartitioning`, and the next superstep's joins on the same key
    * skip the exchange. Under AQE (Spark's default) it is
    * `UnknownPartitioning(0)`: AQE reads the last shuffle locally, so the
    * next superstep exchanges the pinned state again (ROADMAP direction 1).
    * Eager, because a lazy checkpoint folds the whole superstep pipeline
    * into the next action and loses AQE's per-stage planning of the
    * materialization. */
  def pin(df: DataFrame): DataFrame = GraftSqlInternals.resetStats(df.localCheckpoint(true))

  /** Free each frame's blocks now: the checkpoint blocks behind a pinned
    * frame (or a column projection of one) and a persisted frame's cache
    * entry. Releasing twice, or releasing an unpinned frame, is a no-op. */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    GraftSqlInternals.cachedRdd(df).foreach(_.unpersist(false))
    df.unpersist(false)
  }

  /** Run `body`, then release every frame its [[Scope]] still holds. */
  def scope[A](body: Scope => A): A = Using.resource(new Scope)(body)

  /** Frames held for release when their [[scope]] ends. */
  final class Scope private[Pin] extends AutoCloseable {
    private val held = mutable.ArrayBuffer.empty[DataFrame]

    /** Hold an already pinned or persisted frame. */
    def own(df: DataFrame): DataFrame = { held += df; df }

    def pin(df: DataFrame): DataFrame = own(Pin.pin(df))

    def persist(df: DataFrame): DataFrame = own(df.persist())

    /** Free frames before the scope ends (e.g. the previous superstep's). */
    def release(dfs: DataFrame*): Unit = { Pin.release(dfs: _*); held --= dfs }

    /** Double buffering: hold the already materialized `next` and free the
      * `prev` frame it was computed from. */
    def replace(prev: DataFrame, next: DataFrame): DataFrame = { release(prev); own(next) }

    /** Hand a held frame back to the caller: the scope will not free it. */
    def keep(df: DataFrame): DataFrame = { held -= df; df }

    override def close(): Unit = { Pin.release(held.toSeq: _*); held.clear() }
  }
}
