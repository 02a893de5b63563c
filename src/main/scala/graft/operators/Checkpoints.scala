package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Block-manager hygiene for `localCheckpoint`-driven iterative loops.
  *
  * `Dataset.unpersist` releases CACHE-MANAGER entries (`df.persist`)
  * and is a no-op for the RDD a `localCheckpoint` materialized: the
  * checkpoint lives in the block manager keyed by the RDD inside the
  * plan's [[LogicalRDD]], and without an explicit release it only
  * drops when the ContextCleaner happens to GC the RDD object —
  * nondeterministic, and on a landmark centrality sweep the superseded
  * per-round state is the largest relation in the job. This helper
  * unpersists the underlying checkpoint RDD(s) directly, removing the
  * blocks deterministically (GraphSpec pins O(1) registered
  * checkpoints per loop, not O(levels)).
  *
  * Call it ONLY on DataFrames whose checkpoints are fully superseded —
  * it releases EVERY checkpoint embedded in the plan, so dropping a
  * composite that still feeds live lineage would strand downstream
  * consumers (a localCheckpoint cannot recompute: its lineage is
  * truncated by construction). */
object Checkpoints {
  def drop(df: DataFrame): Unit = rddsOf(df).foreach(_.unpersist(blocking = false))

  private def rddsOf(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** The eager pins one unit of work takes (a micro-batch), released
    * together by [[release]] once its last write has read them. Each pin
    * remembers the plan it pinned, so the release also frees the
    * checkpoints operators embedded in that plan (a clustering's
    * labels, a gate's intra-batch survivors). Checkpoints older than the
    * unit, such as a caller's own pin of its input, are never touched:
    * RDD ids grow monotonically, and only ids above the unit's first are
    * released. */
  final class Pins(spark: SparkSession) extends (DataFrame => DataFrame) {
    private val floor = spark.sparkContext.emptyRDD[Unit].id
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = hold(hold(df).localCheckpoint(eager = true))
    /** Release, with the unit, the checkpoints `df`'s plan embeds. */
    def hold(df: DataFrame): DataFrame = { held += df; df }
    def release(): Unit =
      held.flatMap(rddsOf).filter(_.id > floor).distinct
        .foreach(_.unpersist(blocking = false))
  }

  /** Run `body` with a fresh [[Pins]] and release it however `body`
    * ends. */
  def scoped[T](spark: SparkSession)(body: Pins => T): T = {
    val pins = new Pins(spark)
    try body(pins) finally pins.release()
  }
}
