package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators — the 100 TB lever for hot join keys (driver
  * brief: "salting for skew, AQE for runtime re-plan"). AQE's skew-join
  * splitting handles sort-merge joins automatically; explicit salting is
  * for the cases AQE can't re-plan (aggregations over hot keys and
  * broadcast-ineligible hot-key joins).
  */
object Skew {

  /** Salted large-small join for skewed left keys: the left side gets a
    * random salt in [0, buckets); the right side is exploded ×buckets so
    * every (key, salt) pair finds its match. Shuffle load for a hot key
    * spreads over `buckets` partitions at the cost of replicating the
    * (small) right side.
    *
    * Equivalent to `left.join(right, keys)` (inner) for any input; use
    * when the right side is too big to broadcast but small enough to
    * replicate ×buckets.
    */
  /** The salt column the salted operators attach — exposed so stress
    * probes and tests measure exactly the distribution the operators
    * produce (seeded for run-to-run determinism). */
  def saltCol(buckets: Int): Column = (rand(seed = 42L) * buckets).cast("int")

  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 buckets: Int): DataFrame = {
    require(buckets > 1, "buckets must be > 1")
    val salted = left.withColumn("__salt", saltCol(buckets))
    val exploded = right.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(exploded, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase (salted partial → final) aggregation for hot group keys:
    * phase 1 aggregates (key, salt) partials, phase 2 merges partials per
    * key. `partials` maps an input column to its partial aggregate;
    * `merges` merges the partials. Spark's hash aggregate already does
    * map-side partials — this helps when a single reduce key is so hot
    * that even one partition per key is too much (the per-key reduce
    * state itself is the bottleneck). */
  def twoPhaseAgg(df: DataFrame, key: String, buckets: Int,
                  partials: Seq[Column], merges: Seq[Column]): DataFrame =
    df.withColumn("__salt", saltCol(buckets))
      .groupBy(col(key), col("__salt"))
      .agg(partials.head, partials.tail: _*)
      .groupBy(col(key))
      .agg(merges.head, merges.tail: _*)
}
