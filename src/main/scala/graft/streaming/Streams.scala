package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured-Streaming operator pack mirroring the reference's DWS layer
  * (SURVEY.md §2.I): watermarked event-time windows over unbounded streams.
  *
  * The reference keys a stream (`keyBy`), assigns bounded-out-of-orderness
  * watermarks, and aggregates tumbling/sliding/session windows (Flink
  * `flink-streaming-java`, reference `pom.xml:33-36`; DWS role
  * `realtime-dws/pom.xml:12`). Spark-native: `withWatermark` +
  * `groupBy(window(...))` — same event-time semantics, micro-batch
  * execution, state in the partition-local state store keyed by
  * (window, keys), so scale-out is by shuffle partition.
  */
object Streams {

  /** Bounded-out-of-orderness watermark (Flink
    * `WatermarkStrategy.forBoundedOutOfOrderness` analog). */
  def watermarked(df: DataFrame, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)

  /** Sliding (hopping) event-time window aggregate. */
  def slidingAgg(df: DataFrame, tsCol: String, duration: String, slide: String,
                 keys: Seq[String], aggs: Seq[Column]): DataFrame =
    windowed(df, window(col(tsCol), duration, slide), "window", keys, aggs)

  /** Gap-based session window aggregate (visit sessionization of the
    * reference's `topic_log` traffic). */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
                 keys: Seq[String], aggs: Seq[Column]): DataFrame =
    windowed(df, session_window(col(tsCol), gap), "session_window", keys, aggs)

  /** Gap-based session windows with a PER-ROW dynamic gap (Spark's
    * `session_window(ts, gapExpr)` form): each row extends its session
    * by its OWN gap — e.g. purchases hold a session open for an hour
    * while passive views only 10 minutes. Same state/merge semantics as
    * the fixed-gap [[sessionAgg]]. */
  def sessionAggDynamicGap(df: DataFrame, tsCol: String, gap: Column,
                           keys: Seq[String], aggs: Seq[Column]): DataFrame =
    windowed(df, session_window(col(tsCol), gap), "session_window", keys, aggs)

  /** The one body of the window verbs above: group by the window
    * expression `win` (whose struct column Spark names `struct`) and the
    * keys, aggregate, and flatten the struct into trailing
    * window_start/window_end columns. */
  private def windowed(df: DataFrame, win: Column, struct: String,
                       keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(win +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col(s"$struct.start"))
      .withColumn("window_end", col(s"$struct.end"))
      .drop(struct)

  /** Streaming exact dedup bounded by the watermark
    * (`dropDuplicatesWithinWatermark`): state for a key is held only until
    * the watermark passes it — the 100 TB-safe streaming dedup. */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String,
                           keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Late-row capture: Spark has no Flink-style side outputs; the
    * documented semantic delta (SURVEY.md §7.4) is watermark-drop + this
    * explicit filter run inside `foreachBatch` against the previous
    * micro-batch's watermark. */
  def lateRows(batch: DataFrame, tsCol: String, watermarkMs: Long): DataFrame =
    batch.filter(unix_millis(col(tsCol)) < lit(watermarkMs))

  /** Per-micro-batch broadcast dim enrichment — the reference's
    * HBase/Redis lookup join + broadcast config state collapsed to a
    * broadcast hash join (SURVEY.md §3.1). Use inside `foreachBatch`. */
  def enrichWithDim(batch: DataFrame, dim: DataFrame, joinKeys: Seq[(String, String)]): DataFrame = {
    val cond = joinKeys.map { case (l, r) => batch(l) === dim(r) }.reduce(_ && _)
    batch.join(broadcast(dim), cond, "left_outer")
  }

  /** Stream split (Flink side-output fan-out): one filtered branch per
    * predicate; branches share the single upstream scan per micro-batch
    * when executed via `foreachBatch`. */
  def split(df: DataFrame, routes: Map[String, Column]): Map[String, DataFrame] =
    routes.map { case (name, pred) => name -> df.filter(pred) }
}
