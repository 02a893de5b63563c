package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit, when}

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
  * truncated by construction).
  *
  * Every pin the operator, stream, source and function layers take goes
  * through this object and has one owner: a [[scoped]] unit that
  * releases it when the unit ends, the round loop that supersedes it
  * ([[fixpoint]], or a [[drop]] of the previous round's pin), or, for
  * a pin riding in a returned plan ([[pin]]), the caller, whose scope
  * [[Pins.hold]]s that plan. */
object Checkpoints {
  def drop(df: DataFrame): Unit = rddsOf(df).foreach(_.unpersist(blocking = false))

  /** The checkpoint RDDs `df`'s plan embeds: every RDD scan's own RDD,
    * and the materialized checkpoints an RDD-built relation (a running
    * sum's per-partition fold) reads through its lineage. A
    * checkpoint's lineage ends at its blocks, so the walk stops there. */
  private def rddsOf(df: DataFrame): Seq[RDD[_]] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[RDD[_]]
    def walk(r: RDD[_]): Unit = r.dependencies.map(_.rdd).foreach { p =>
      if (seen.add(p) && !p.isCheckpointed) walk(p)
    }
    val scans = df.queryExecution.analyzed.collectWithSubqueries {
      case lr: LogicalRDD => lr.rdd
    }
    scans.foreach(walk)
    (scans ++ seen.filter(_.isCheckpointed)).distinct
  }

  /** Pin `df` eagerly for a caller who owns the release: the pin rides
    * in the plan an operator returns, and the caller's scope frees it by
    * holding that plan ([[Pins.hold]]); a round loop drops the pin a
    * later round supersedes. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Pin `df` eagerly and return the pin with its row count, read off
    * the pin's own job: an observed `count(1)` rides the checkpoint, so
    * a measured-size gate runs no action of its own. */
  def pinCounted(df: DataFrame): (DataFrame, Long) = pinCounting(df, lit(true))

  /** Pin `df` eagerly and count its rows matching `p` in the same job.
    * A count the plan did not report (AQE can prune the observing node)
    * is recounted over the pin, never read as 0. */
  private def pinCounting(df: DataFrame, p: Column): (DataFrame, Long) = {
    val seen = Observation()
    val pinned = pin(df.observe(seen, count(when(p, 1)).as("n")))
    (pinned, seen.get.get("n").fold(pinned.where(p).count())(_.asInstanceOf[Long]))
  }

  /** The observe-changed convergence loop: each round pins `step(state)`
    * with its count of `changed` rows in one job and drops the previous
    * round's pin; the loop stops at a round that changed nothing, and
    * throws `failure` once `maxIter` rounds have run without converging
    * (a truncated fixpoint is silently wrong). The state keeps `seed`'s
    * columns: `step` may add columns for `changed` to read, such as the
    * previous value, and the next state drops them. `seed` must be a
    * pin of its own, since the first round releases it. Returns the
    * pinned fixpoint; the caller owns its release. */
  def fixpoint(seed: DataFrame, maxIter: Int, failure: => Throwable)(
      step: DataFrame => DataFrame, changed: Column): DataFrame = {
    val cols = seed.columns.toSeq.map(col)
    var state = seed
    var left = 1L
    var iter = 0
    while (left > 0) {
      if (iter == maxIter) { drop(state); throw failure }
      val (next, n) = pinCounting(step(state), changed)
      drop(state)
      state = next.select(cols: _*)
      left = n
      iter += 1
    }
    state
  }

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
    def apply(df: DataFrame): DataFrame = hold(pin(hold(df)))
    /** Release, with the unit, the checkpoints `df`'s plan embeds. */
    def hold(df: DataFrame): DataFrame = { held += df; df }
    /** [[pinCounted]], released with the unit. */
    def counted(df: DataFrame): (DataFrame, Long) = {
      val (p, n) = pinCounted(hold(df)); (hold(p), n)
    }
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
