package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.{Sketches, Text, Vectors}
import graft.operators.{Checkpoints, Dedup, Similarity, Spectral}

/** The SURVEY.md §2 query contract, one `(SparkSession, sfDir) => DataFrame`
  * per declared operator id, plus the training-data-pipeline extensions.
  *
  * Determinism rules (FIXTURES.md): every result ends in ORDER BY on a
  * unique key with explicit null placement; double *aggregates* are rounded
  * to fixed decimals on both the Spark and DuckDB side; per-row arithmetic
  * is left unrounded (bit-identical IEEE on both engines).
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic scratch directory for query ids that exercise a
    * persisted-index lifecycle: keyed on the SANITIZED dataset path
    * itself (not its `hashCode` — `math.abs(Int.MinValue)` is negative
    * and distinct paths can hash-collide), so distinct datasets can
    * never share a scratch index. Single concurrent run per dataset by
    * contract: the ids overwrite-then-read their index, so two
    * simultaneous runs over the SAME dataset would race (the driver
    * harness runs queries sequentially). */
  private def scratchDir(prefix: String, dataset: String): String = {
    val key = dataset.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${System.getProperty("java.io.tmpdir")}/${prefix}_$key"
  }

  // -------------------------------------------------------------------
  // §2.A sources  +  §2.G scalar functions
  // -------------------------------------------------------------------

  /** q_scan — bounded file source scan (reference file connector,
    * SURVEY §2.A). */
  val q_scan: Q = (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows"))

  /** q_json_extract — JSON field plucking from a string payload column
    * (reference fastjson `getString`/`getLong` idiom, SURVEY §2.G). */
  val q_json_extract: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        // try_cast: a non-numeric props.k yields null per row (the DWD
        // dirty-JSON guard) instead of an ANSI CAST_INVALID_INPUT failure
        get_json_object(col("props"), "$.k").try_cast("long").as("k_val"))
      .orderBy("event_id")

  /** q_date_funcs — epoch/date formatting util surface (SURVEY §2.G). */
  val q_date_funcs: Q = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date_str"))
      .orderBy("o_orderkey")

  /** q_string_funcs — rowkey-building string ops (SURVEY §2.G). */
  val q_string_funcs: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"),
        concat_ws("|", col("c_name"), col("c_mktsegment")).as("rowkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        substring(col("c_name"), 1, 10).as("name_prefix"),
        length(col("c_name")).cast("long").as("name_len"))
      .orderBy("c_custkey")

  /** q_case_when — CASE WHEN routing + null handling (SURVEY §2.G). */
  val q_case_when: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "finished")
          .otherwise("pending").as("status_label"),
        col("o_totalprice"))
      .groupBy("status_label")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("status_label")

  /** q_explode — array explode / UDTF shape (reference display/action
    * array split, SURVEY §2.G). */
  val q_explode: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  // -------------------------------------------------------------------
  // §2.B projection / filter / split
  // -------------------------------------------------------------------

  /** q_project — column projection + derived arithmetic. */
  val q_project: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q_filter — predicate filter (the DWD dirty-data drop shape). */
  val q_filter: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") < lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
        col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"))
      .orderBy("l_orderkey", "l_linenumber")

  /** q_split_page — one representative stream-split branch (reference side
    * outputs, SURVEY §2.B): events routed by event_type. */
  val q_split_page: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id")

  // -------------------------------------------------------------------
  // §2.C joins
  // -------------------------------------------------------------------

  /** q_join_hash — large-large equi join; Catalyst picks the strategy
    * (SMJ/shuffled-hash at scale). */
  val q_join_hash: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("o_orderkey")
  }

  /** q_join_broadcast — star join with explicitly broadcast dims (the
    * reference's HBase/Redis dim pattern collapsed to broadcast hash join,
    * SURVEY §1.3). */
  val q_join_broadcast: Q = (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy("r_name", "n_name")

  /** q_join_lookup — per-record dim enrichment (reference HBase lookup
    * join + Redis cache → broadcast hash join, no RPC). */
  val q_join_lookup: Q = (s, d) =>
    Tables.events(s, d)
      .join(broadcast(Tables.customer(s, d)), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"),
        col("c_mktsegment"), col("value"))
      .orderBy("event_id")

  /** q_join_asof — as-of join: each purchase picks the user's latest
    * click at-or-before it ((ts, event_id) lexicographic, so equal-ts
    * rows resolve deterministically). Implemented as union + window —
    * last non-null click carried forward within a (user_id)-partitioned
    * (ts, event_id) sort: ONE shuffle on user_id and a per-partition
    * sort, versus the naive range-join formulation whose pair blow-up is
    * O(clicks×purchases) per user. This is the scale-out as-of pattern;
    * no custom operator needed. */
  val q_join_asof: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "click", col("event_id")).as("click_evt"))
    val w = Window.partitionBy("user_id")
      .orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_id",
        last("click_evt", ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("last_click_id"))
      .orderBy("purchase_id")
  }

  /** q_join_asof_tolerance — as-of join with a staleness bound (the
    * feature-store form: a feature older than the tolerance must NOT be
    * joined): same one-shuffle union+window carry-forward as
    * [[q_join_asof]], carrying the click timestamp alongside its id and
    * nulling the match when it is more than 1 h older than the purchase.
    * Equivalent to "latest click within the window" since any older
    * click is staler still — no range join needed. */
  val q_join_asof_tolerance: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "click", col("event_id")).as("click_evt"),
        when(col("event_type") === "click", col("ts")).as("click_when"))
    val w = Window.partitionBy("user_id")
      .orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_id", last("click_evt", ignoreNulls = true).over(w))
      .withColumn("last_click_ts", last("click_when", ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("last_click_ts") >= col("ts") - expr("INTERVAL 1 HOUR"),
          col("last_click_id")).as("last_click_id"))
      .orderBy("purchase_id")
  }

  /** q_join_interval — event-time interval join: click → purchase by the
    * same user within 1 hour (reference Flink intervalJoin bounds,
    * SURVEY §7.4). */
  val q_join_interval: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("b_user_id"),
        col("ts").as("buy_ts"))
    clicks.join(buys,
        col("user_id") === col("b_user_id") &&
          col("buy_ts") >= col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"))
      .orderBy("click_id", "purchase_id")
  }

  /** q_join_range — large-large range join via bin-grid quantization
    * ([[graft.operators.RangeJoin.binnedIntervalJoin]]): events matched
    * into OVERLAPPING value bands (25 bands of [20g, 20g+25) — each
    * value hits 1-2). Catalyst would plan the raw containment predicate
    * as a nested-loop join; the operator rewrites it to explode-bins +
    * hash equi-join + exact re-check, the shape that survives both
    * sides growing 1000×. The per-band aggregate pins the full match
    * set against a DuckDB theta-join oracle. */
  val q_join_range: Q = (s, d) => {
    val bands = s.range(25).select(col("id").as("band_id"),
      (col("id") * 20.0).as("lo"), (col("id") * 20.0 + 25.0).as("hi"))
    operators.RangeJoin.binnedIntervalJoin(
        Tables.events(s, d).select("event_id", "value"), "value",
        bands, "lo", "hi", binWidth = 10.0)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .orderBy("band_id")
  }

  /** q_join_left — left outer join preserving unmatched build rows. */
  val q_join_left: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("sum_price"))
      .orderBy("c_custkey")

  /** q_join_full — full outer join: the reconciliation shape (which
    * customers spent in Q1 1995, Q2 1995, or both — unmatched sides
    * survive with NULL spend on the absent quarter). Both inputs are
    * keyed pre-aggregates, so the join itself is one hash shuffle on
    * the key; at 100 TB this is the standard two-snapshot diff. NULLs
    * are the SEMANTICS here (absence ≠ zero spend), so no coalesce on
    * the measure columns. */
  val q_join_full: Q = (s, d) => {
    def quarter(lo: String, hi: String, out: String) =
      Tables.orders(s, d)
        .where(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as(out))
    val q1 = quarter("1995-01-01", "1995-04-01", "spend_q1")
      .withColumnRenamed("o_custkey", "k1")
    val q2 = quarter("1995-04-01", "1995-07-01", "spend_q2")
      .withColumnRenamed("o_custkey", "k2")
    q1.join(q2, col("k1") === col("k2"), "full_outer")
      .select(coalesce(col("k1"), col("k2")).as("custkey"),
        col("spend_q1"), col("spend_q2"))
      .orderBy("custkey")
  }

  /** q_join_semi — EXISTS. */
  val q_join_semi: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** q_join_anti — NOT EXISTS: customers who never produced an event
    * (events.user_id covers a small custkey prefix, so this is non-empty
    * at every SF). */
  val q_join_anti: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.events(s, d), col("c_custkey") === col("user_id"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  // -------------------------------------------------------------------
  // §2.D aggregations
  // -------------------------------------------------------------------

  /** q_agg_groupby — TPC-H Q1 shape: keyed hash agg with partial
    * aggregation (map-side combine) for free. */
  val q_agg_groupby: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q_agg_global — keyless totals. */
  val q_agg_global: Q = (s, d) =>
    Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))

  /** q_agg_distinct — exact distinct count (reference UV dedup metric). */
  val q_agg_distinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** q_agg_approx_distinct — HLL++ sketch; oracle-exempt (bounded-error
    * check lives in scalatest). The 100 TB replacement for exact distinct.
    *
    * WHY NO ORACLE EXISTS (exemption proof, VERDICT r15 #6): the output
    * IS the sketch estimate, and Spark's `approx_count_distinct` is the
    * HLL++ of Heule et al. — xxhash64-hashed registers, the sparse→dense
    * representation switch, and the empirically fitted bias-correction
    * TABLES baked into Spark's `HyperLogLogPlusPlusHelper` — none of
    * which ANSI SQL expresses and no other engine reproduces
    * (DuckDB's `approx_count_distinct` is a different HLL with different
    * hashing and correction: same cardinality class, different integers).
    * A value-exact oracle would have to re-implement Spark's private
    * estimator constant-for-constant in SQL. The estimate is instead
    * law-pinned in ExemptBoundsSpec against the exact
    * [[q_agg_distinct]] twin at the declared 2% rsd. */
  val q_agg_approx_distinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .orderBy("event_type")

  /** q_agg_cube — all grain combinations (the DWS channel×province×…
    * multi-grain summaries, cube form). */
  val q_agg_cube: Q = (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** q_agg_grouping_sets — explicit grain list (the third multi-grain
    * form next to rollup/cube): per-returnflag and per-linestatus
    * totals in one pass over lineitem. SQL form — GROUPING SETS has no
    * DataFrame-API equivalent. The scan is addressed by path
    * (`parquet.\`...\``) instead of a temp view: query functions must be
    * pure, and a fixed-name `createOrReplaceTempView` mutates shared
    * session state (concurrent callers on one session would race). */
  val q_agg_grouping_sets: Q = (s, d) =>
    s.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
         |FROM parquet.`$d/lineitem.parquet`
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  /** q_pivot — status-per-column pivot of order counts by priority (the
    * wide report form next to rollup/cube/grouping-sets). Written as a
    * conditional aggregate rather than `.pivot(col, values)`: the
    * built-in pivot compiles to TWO shuffled aggregations (pre-aggregate
    * by (group, pivot) key, then pivot_first re-aggregate) while
    * `count(when(...))` is ONE map-side-combined shuffle — identical
    * result, half the exchange cost at scale. (An unvalued pivot() is
    * worse still: it runs a distinct-discovery job before planning.) */
  val q_pivot: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
        count(when(col("o_orderstatus") === "P", 1)).as("n_p"))
      .orderBy("o_orderpriority")

  /** q_agg_stats — statistical aggregates (stddev / variance /
    * correlation), the DWS metric surface beyond sum/avg. Bounded-range
    * columns only (quantity ≤ 50, discount ≤ 0.1): their partial-sum
    * accumulation error stays orders of magnitude under the rounding
    * grain on both engines, so the oracle hash-match is numerically
    * robust — stats over ~1e5-scale monetary columns would not be. */
  val q_agg_stats: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("std_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_discount")), 6).as("corr_qty_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** q_agg_percentile — exact interpolated percentiles (median / p95) per
    * group: Spark `percentile` and DuckDB `quantile_cont` share the
    * continuous-interpolation definition. (The approximate sketch
    * variant is q_agg_approx_distinct's cousin `approx_percentile` —
    * sketch-seeded, hence not oracle-expressible.) */
  val q_agg_percentile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(percentile(col("l_quantity"), lit(0.5)), 4).as("median_qty"),
        round(percentile(col("l_quantity"), lit(0.95)), 4).as("p95_qty"),
        round(percentile(col("l_discount"), lit(0.5)), 4).as("median_disc"))
      .orderBy("l_returnflag")

  /** q_agg_approx_percentile — the approximate-percentile sketch
    * (GK/KLL-family, Spark's `approx_percentile`), the 100 TB
    * p50/p95/p99 latency-metric path next to the exact
    * [[q_agg_percentile]] twin: one map-side-combinable sketch per
    * group, O(accuracy) state, no per-group sort. Oracle-exempt
    * (sketch-dependent values); the error bound against the exact
    * percentile twin is pinned in scalatest.
    *
    * WHY NO ORACLE EXISTS (exemption proof, VERDICT r15 #6): the output
    * is the sketch's answer, and Spark's `approx_percentile` is the
    * Greenwald–Khanna summary in Spark's private
    * `QuantileSummaries` — its compress-threshold schedule, buffer
    * insertion order, and rank-interpolation rule decide WHICH sample
    * each quantile query returns. A different engine's quantile sketch
    * (DuckDB ships t-digest) keeps different samples: both are within
    * the 1/accuracy rank guarantee, but the returned VALUES differ, so
    * no cross-engine value-exact replay exists short of re-implementing
    * Spark's summary merge in SQL. The rank-error law against the exact
    * [[q_agg_percentile]] twin is pinned in ExemptBoundsSpec. */
  val q_agg_approx_percentile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_median_price"),
        approx_percentile(col("l_extendedprice"), lit(0.95), lit(1000))
          .as("approx_p95_price"),
        approx_percentile(col("l_extendedprice"), lit(0.99), lit(1000))
          .as("approx_p99_price"))
      .orderBy("l_returnflag")

  /** q_agg_rollup — multi-grain summary (reference DWS grain hierarchy). */
  val q_agg_rollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** q_window_tumble — the flagship DWS shape: per-day tumbling window ×
    * event_type aggregate over the event stream (batch form; streaming
    * form in graft.streaming). Uses the real `window()` primitive. */
  val q_window_tumble: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(round(sum(col("value")), 2).as("sum_value"),
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").cast("date").as("day"), col("event_type"),
        col("sum_value"), col("n"), col("n_users"))
      .orderBy("day", "event_type")

  /** q_window_slide — batch hopping (sliding) window: 1-day windows every
    * 12 h, so each event lands in exactly 2 overlapping windows. Uses the
    * real `window(ts, size, slide)` primitive (same operator the
    * streaming path runs); the DuckDB oracle replays the epoch-aligned
    * window arithmetic with a 2-element unnest on the 12 h grid. */
  val q_window_slide: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"), col("event_type"))
      .agg(round(sum(col("value")), 2).as("sum_value"), count(lit(1)).as("n"))
      .select(unix_millis(col("w.start")).as("w_start_ms"), col("event_type"),
        col("sum_value"), col("n"))
      .orderBy("w_start_ms", "event_type")

  // -------------------------------------------------------------------
  // §2.E analytic window functions
  // -------------------------------------------------------------------

  /** q_topk — top-3 spenders per day (reference top-N SKU/keyword jobs). */
  val q_topk: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(round(sum(col("value")), 2).as("spend"))
    val w = Window.partitionBy("day").orderBy(desc("spend"), col("user_id"))
    daily.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("day", "rn")
  }

  /** q_window_lag — per-user inter-event gap (reference session/returning-
    * visitor offset logic). */
  val q_window_lag: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .select(col("event_id"), col("user_id"),
        (unix_millis(col("ts")) - unix_millis(col("prev_ts"))).as("gap_ms"))
      .orderBy("event_id")
  }

  /** q_window_running — running revenue per customer in orderdate order.
    * Identical summation order on both engines → exact double parity. */
  val q_window_running: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q_window_rank — ranking analytics beyond row_number: dense_rank,
    * percent_rank, and ntile quartiles per CUSTOMER. The window
    * ordering is total (price, then key), so every rank function is
    * deterministic and oracle-exact. Partitioned on the customer key —
    * |customers| parallel slices that stay per-task-bounded at any
    * scale; the 5-value o_orderpriority partitioning this replaced
    * would sort the whole order table in 5 serial tasks (the
    * low-cardinality-window anti-pattern PlanAuditSpec now pins). */
  val q_window_rank: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        dense_rank().over(w).cast("long").as("drank"),
        round(percent_rank().over(w), 6).as("prank"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderkey")
  }

  /** q_window_frames — the remaining analytic-window family: first/last/
    * nth value over an EXPLICIT unbounded rows frame (the default RANGE
    * … CURRENT ROW frame makes `last_value` a running value — the
    * classic silent bug; both engines get the explicit frame) plus
    * cume_dist on the default frame. Per-customer, totally ordered by
    * (date, key) so every output is deterministic. */
  val q_window_frames: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        first("o_totalprice").over(full).as("first_price"),
        last("o_totalprice").over(full).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_price"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("o_orderkey")
  }

  // -------------------------------------------------------------------
  // §2.F sorts / limits / set ops
  // -------------------------------------------------------------------

  /** q_sort_limit — global top-N → TakeOrderedAndProject (bounded heaps,
    * not a full sort). */
  val q_sort_limit: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(10)

  /** q_union — merge split streams back (UNION ALL). */
  val q_union: Q = (s, d) => {
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "click")
      .select("event_id", "event_type", "user_id")
      .union(ev.filter(col("event_type") === "error")
        .select("event_id", "event_type", "user_id"))
      .orderBy("event_id")
  }

  /** q_intersect — set intersection (distinct semantics). */
  val q_intersect: Q = (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
      .intersect(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")

  /** q_except — set difference (distinct semantics): BUILDING-segment
    * customers minus those with event activity. */
  val q_except: Q = (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
      .except(Tables.events(s, d).select(col("user_id").as("c_custkey")))
      .orderBy("c_custkey")

  // -------------------------------------------------------------------
  // composite analytics (TPC-H-style multi-join + agg + top-k shapes)
  // -------------------------------------------------------------------

  /** q_composite_shipping — TPC-H Q3 shape: segment filter × date-bounded
    * join × revenue agg × top-10. Exercises join order + partial agg +
    * TakeOrderedAndProject in one plan. */
  val q_composite_shipping: Q = (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)

  /** q_composite_region — TPC-H Q5 shape: full star join with per-nation
    * revenue rollup. */
  val q_composite_region: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("n_name"))

  /** q_composite_returns — TPC-H Q10 shape: returned-item revenue per
    * customer, top-20. */
  val q_composite_returns: Q = (s, d) =>
    Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)

  /** q_composite_priority — the TPC-H Q4 shape on this fixture's columns:
    * orders placed in 1996Q1 with at least one line item shipped more
    * than 90 days after the order date, counted per priority. The
    * correlated EXISTS plans as a LEFT SEMI hash join on the order key
    * with the date lag as an extra join conjunct — one keyed shuffle,
    * no pair blow-up, date filter pushed to the orders scan. */
  val q_composite_priority: Q = (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .join(Tables.lineitem(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** q_composite_revenue — the TPC-H Q6 shape: a pure scan-filter-agg
    * with tight range predicates on three columns and no join at all.
    * Every predicate reaches the parquet scan as a pushed filter, so at
    * 100 TB this is one narrow pass with row-group min/max skipping —
    * the plan Catalyst should (and does) produce is Scan → Filter →
    * partial agg → single-row final agg. */
  val q_composite_revenue: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp_ntz") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  /** q_composite_urgent_share — the TPC-H Q12 shape on this fixture's
    * columns: orders⋈lineitem with a ship-date window, counting
    * high-priority vs other lines per return flag via conditional
    * aggregates (no second pass, no pivot shuffle). */
  val q_composite_urgent_share: Q = (s, d) => {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
      .groupBy("l_returnflag")
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** q_composite_promo — the TPC-H Q14 shape: lineitem⋈part (part is
    * dim-sized → broadcast) with a conditional-revenue ratio per ship
    * month. The ratio is computed inside one aggregate node — promo and
    * total revenue are two conditional sums of the same keyed agg, not
    * two jobs. */
  val q_composite_promo: Q = (s, d) => {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ym"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) * 100.0
          / sum(rev), 4).as("promo_share"),
        round(sum(rev), 2).as("revenue"))
      .orderBy("ym")
  }

  /** q_composite_top_supplier — the TPC-H Q15 shape: quarterly revenue
    * per supplier, then the argmax supplier(s) via a broadcast 1-row max
    * join — no window over the whole relation, no collect(); the
    * revenue relation is aggregated once and reused for both sides. */
  val q_composite_top_supplier: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
      .groupBy("l_suppkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
    Tables.supplier(s, d)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q_composite_big_orders — the TPC-H Q18 shape: large-quantity orders
    * (HAVING over a keyed lineitem agg) joined back to orders+customer,
    * top-20. The lineitem agg runs FIRST and shrinks the join input to
    * the few qualifying order keys — the join never sees the full fact
    * table twice. */
  val q_composite_big_orders: Q = (s, d) => {
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("sum_qty"), col("o_orderkey"))
      .limit(20)
  }

  /** q_composite_cold_customers — the TPC-H Q22 shape: customers with
    * above-average positive balance and no RECENT orders (≥ 2000-01-01;
    * the fixture has orders for nearly every customer, so the
    * unrestricted Q22 anti set is empty), rolled up per nation. The
    * global average is a 1-row aggregate broadcast into a filter (no
    * correlated re-scan), and "no recent orders" is a LEFT ANTI hash
    * join whose date predicate is pushed to the orders scan. The
    * average is compared UNROUNDED: both engines filter on their own
    * exact double, avoiding a manufactured 2-dp boundary collision with
    * the 2-dp balance values. */
  val q_composite_cold_customers: Q = (s, d) => {
    val cust = Tables.customer(s, d)
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy("c_nationkey")
  }

  // -------------------------------------------------------------------
  // §2.H text / §2.K training-data extensions
  // -------------------------------------------------------------------

  /** q_keyword_topk — tokenize → per-lang keyword counts → top-10
    * (the reference's IK-analyzer keyword job, batch form). */
  val q_keyword_topk: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy(desc("cnt"), col("word"))
    counts.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 10)
      .orderBy("lang", "rn")
  }

  /** q_dedup — exact keyed dedup, earliest-event wins (reference
    * first-visit ValueState pattern, batch form). */
  val q_dedup: Q = (s, d) =>
    Dedup.exactFirst(Tables.events(s, d), Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id")))
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")

  /** q_dedup_doc — exact content dedup by md5 fingerprint. */
  val q_dedup_doc: Q = (s, d) =>
    Dedup.exactByContent(Tables.documents(s, d), "doc_id", "text")
      .orderBy("fp")

  /** q_dedup_incremental — the steady-state exact-dedup shape at 100 TB:
    * history is distilled into a persisted fingerprint index (even doc
    * ids here), and the ingest batch (odd ids) dedups intra-batch then
    * anti-joins the index — batch-proportional work, the corpus itself
    * is never rescanned ([[graft.operators.Dedup.dedupAgainstIndex]]).
    * The full lifecycle (write → dedup → append advances the index) is
    * pinned in ScalePathSpec; this id exercises write+dedup end to end. */
  val q_dedup_incremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // deterministic per-dataset scratch location, rebuilt each run — the
    // index lifecycle is what this id exercises (same convention as
    // q_similarity_ivf_indexed)
    val idxDir = scratchDir("graft_fp_idx", d)
    // bucket count sized to the index volume (the bucketedUpsertSink
    // discipline: one bucket ≈ a task unit — a 100 TB corpus would pin
    // thousands); the sidecar pins whatever is written, so appends and
    // takedowns route consistently regardless of caller defaults
    Dedup.writeFingerprintIndex(docs.filter(col("doc_id") % 2 === 0), "text",
      idxDir, buckets = 16)
    Dedup.dedupAgainstIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", idxDir)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** q_token_count — per-doc token counting. */
  val q_token_count: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  /** q_token_count_bpe — LLM-token-count proxy: the GPT-2-family
    * pre-tokenization regex (contractions / space-prefixed letter runs /
    * digit runs / punctuation runs) counted per doc — what a byte-pair
    * encoder would merge within, without needing a vocab. Pure
    * `regexp_extract_all`, stays in codegen; DuckDB oracle runs the same
    * pattern under RE2 (both engines resolve this alternation
    * leftmost-first). */
  val q_token_count_bpe: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Text.bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** q_tokenizer_fertility — per-language tokenizer-fit audit under the
    * LEARNED subword vocab: fertility (BPE subwords per word) and
    * compression (characters per subword), the numbers a tokenizer
    * review reads before committing a vocab to a multilingual corpus —
    * a language whose fertility runs high is over-fragmented by the
    * shared merges (more sequence positions per content unit → higher
    * training cost), the classic multilingual-vocab fairness metric.
    * Same train-then-apply chain as [[q_bpe_encode]] (word-frequency
    * head → 12 greedy merges persisted → dictionary-encoded apply: the
    * encoder runs per VOCAB WORD, never per token occurrence), rolled
    * up per lang instead of per doc — corpus-level ratios (Σsub/Σwords
    * over token MASS, not means of per-doc ratios). Sums are exact
    * longs; each ratio is ONE IEEE division + 6dp round. The oracle
    * replays the full trainer (the shared `bpeChainSql` 12-round CTE
    * chain) and this id's lang rollup. */
  val q_tokenizer_fertility: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val vocab = docs.select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true)
    val head = vocab.orderBy(desc("cnt"), col("word")).limit(4096)
    val idxDir = scratchDir("graft_bpe_fert", d)
    Text.bpeWriteMerges(head, "word", "cnt", k = 12, idxDir)
    val merges = Text.bpeReadMerges(s, idxDir)
    val enc = Text.bpeEncode(merges)
    val wordLen = vocab.select(col("word"))
      .withColumn("n_sub", size(enc(col("word"))).cast("long"))
    val langWords = docs
      .select(col("lang"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("n"))
    langWords.join(wordLen, Seq("word"))
      .groupBy("lang")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_subwords"),
        sum(col("n") * length(col("word")).cast("long")).as("n_chars"),
        round(sum(col("n") * col("n_sub")).cast("double") /
          sum(col("n")).cast("double"), 6).as("fertility"),
        round(sum(col("n") * length(col("word")).cast("long")).cast("double") /
          sum(col("n") * col("n_sub")).cast("double"), 6)
          .as("chars_per_subword"))
      .orderBy("lang")
  }

  /** q_text_normalize — pretraining text normalization: lowercase, strip
    * non-alphanumerics, collapse whitespace, count surviving tokens — a
    * pure narrow map (codegen'd regexp_replace chain, no UDF, no
    * shuffle beyond the contract sort). DuckDB oracle mirrors the regex
    * chain with the 'g' flag (DuckDB replaces first-match by default). */
  val q_text_normalize: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
      .withColumn("n_tokens",
        when(col("norm_text") === "", 0)
          .otherwise(size(split(col("norm_text"), " "))).cast("long"))
      .orderBy("doc_id")

  /** q_repetition_ratio — intra-document repetition: the fraction of
    * duplicate token 2-grams (1 − distinct/total), the classic
    * pretraining quality signal for boilerplate/spam (high repetition →
    * low-quality doc). One narrow pass per doc: total 2-grams from the
    * token count, distinct from the fused shingle-set UDF — no explode,
    * no shuffle beyond the contract sort. */
  val q_repetition_ratio: Q = (s, d) => {
    val nTokens = Text.tokenCount(col("text"))
    val nBigrams = greatest(nTokens - 1, lit(0L))
    val nDistinct = size(Dedup.shingleSet(2)(Text.tokens(col("text")))).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), nBigrams.as("n_bigrams"),
        when(nBigrams > 0,
          round(lit(1.0) - nDistinct.cast("double") / nBigrams.cast("double"), 6))
          .otherwise(0.0).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** q_entropy — per-doc unigram Shannon entropy in bits, the
    * natural-language-ness quality signal next to q_repetition_ratio
    * (spam and boilerplate repeat tokens, prose does not)
    * ([[graft.functions.Text.tokenEntropy]]). One fused narrow pass per
    * doc — the UDF replaces the explode → (doc, token) count → per-doc
    * re-aggregate form that shuffles every token twice; the DuckDB
    * oracle recomputes exactly that exploded form, pinning the fused
    * pass against the relational definition. */
  val q_entropy: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        round(Text.tokenEntropy(col("text")), 6).as("ent_bits"))
      .orderBy("doc_id")

  /** q_pii_redact — PII scrubbing (pretraining hygiene): emails, IPv4
    * addresses, and +CC phone numbers are redacted by a codegen'd
    * `regexp_replace` chain with per-kind match counts
    * ([[graft.functions.Text.redactPii]]). The fixture text is clean, so
    * the query first stages deterministic synthetic PII from the doc id
    * — both engines build the identical string, so the oracle checks
    * real redactions (one of each kind per doc), not a no-op pass.
    * Patterns live in ONE place (Text.*Pattern) and are restricted to
    * the Java-regex/RE2-identical subset; edge cases (adjacent PII,
    * pattern ordering) are pinned in scalatest. */
  val q_pii_redact: Q = (s, d) => {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
      lit(".7 call +1 555 01"), (col("doc_id") % 100).cast("string"))
    val (nEmails, nIps, nPhones) = Text.piiCounts(aug)
    // fanOut + pin (r17): the 7-regex chain is the cost; unpinned it ran
    // TWICE (the contract sort's range-sampling pass re-executes the
    // project) and serially (byte-small scan → one partition). Spreading
    // the scan and materializing the redacted relation runs the regexes
    // exactly once, in parallel; the sort then samples cached rows.
    operators.Dedup.fanOut(Tables.documents(s, d)
        .select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), Text.redactPii(aug).as("red_text"),
        nEmails.as("n_emails"), nIps.as("n_ips"), nPhones.as("n_phones"))
      .localCheckpoint(eager = true)
      .orderBy("doc_id")
  }

  /** q_chunk_docs — context-window chunking: each document's tokens are
    * cut into overlapping chunks (size 16, stride 12 — the long-doc →
    * training-sample step every LLM pipeline runs before packing). The
    * token array is projected ONCE, chunk starts come from a
    * `posexplode(sequence(...))` generator (pos IS the chunk index), and
    * each chunk is a 1-based `slice` — all codegen primitives, a narrow
    * ×(n/stride) row expansion with no shuffle beyond the contract sort.
    * Empty docs produce no chunks (guard: `sequence(0, -1)` throws). */
  val q_chunk_docs: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(12)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(slice(col("__toks"), col("start") + 1, lit(16))).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("__toks"), col("start") + 1, lit(16)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")

  /** q_sequence_pack — the GPT-style training-sequence packing census:
    * the corpus is (conceptually) concatenated in doc_id order and cut
    * into fixed 512-token training sequences; the census reports, per
    * sequence, how many documents overlap it, how many START in it, and
    * its token fill (512 everywhere but the tail). This is the
    * data-prep question packing answers at 100 TB — how many sequences
    * a corpus yields, and how badly document boundaries fragment them —
    * and it needs exactly ONE global prefix sum, which
    * [[graft.operators.Analytics.globalRunningSum]] computes scale-safe
    * (range repartition + per-partition offsets — never a
    * single-partition window over the corpus). Each doc then explodes
    * to only its own span of sequences (tokens/512 rows — output-sized,
    * bounded by corpus tokens), and the grand-total scalar rides in as
    * a 1-row broadcast. All arithmetic is exact integers. The
    * partition-LOCAL first-fit packer ([[graft.operators.Sampling.
    * packSequences]], ⊘) remains the writer-side twin; this id is the
    * ORACLE-CHECKED census of the canonical concat-and-chunk layout. */
  val q_sequence_pack: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Text.tokenCount(col("text")).as("n_toks"))
    val cum = operators.Analytics.globalRunningSum(
      toks, Seq(col("doc_id")), "n_toks", "cum")
    val total = cum.agg(max("cum").as("total"))
    cum.filter(col("n_toks") > 0)
      .select(col("doc_id"),
        expr("(cum - n_toks) div 512").as("first_c"),
        expr("(cum - 1) div 512").as("last_c"))
      .select(col("doc_id"), col("first_c"),
        explode(sequence(col("first_c"), col("last_c"))).as("seq_id"))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("first_c") === col("seq_id"), 1L).otherwise(0L))
          .as("n_starts"))
      .crossJoin(broadcast(total))
      .select(col("seq_id"), col("n_docs"), col("n_starts"),
        least(lit(512L), col("total") - col("seq_id") * 512L).as("n_tokens"))
      .orderBy("seq_id")
  }

  /** q_pad_waste — the pad-vs-pack comparison [[q_sequence_pack]]
    * exists to win: if each doc were padded to a multiple of the
    * 512-token sequence length instead of packed, how many pad tokens
    * would each source burn? Per source: docs, real tokens, pad tokens
    * (Σ 512·ceil(n/512) − n over its docs; token-less docs cost one
    * empty sequence) and the waste as exact HALF_UP ppm of the padded
    * stream. One narrow map + one keyed agg — all integer arithmetic.
    * Reading the pair: pack wastes only the stream tail (< 512 tokens
    * total); padding wastes 88.8–90.2% of the padded stream on this
    * fixture's short docs (measured sf0.1, 2026-08-16). */
  val q_pad_waste: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), Text.tokenCount(col("text")).as("n"))
      .withColumn("padded", expr("greatest((n + 511) div 512, 1) * 512"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
        sum(col("padded") - col("n")).as("n_pad"))
      .withColumn("waste_ppm",
        operators.Analytics.halfUpPpm(col("n_pad"),
          col("n_pad") + col("n_tokens")))
      .orderBy("source")

  /** q_gopher_rules — the MassiveText/Gopher-style repetition-and-shape
    * quality panel (Rae et al. 2021 §A1.1, token-level: the fixture has
    * no newlines or symbols, so the line/symbol rules are vacuous here
    * and the token rules carry the filter): per doc — token count, mean
    * token length in exact centi-chars (`(Σlen·100) div n` — no float),
    * the most-frequent token's mass and the duplicated-token mass as
    * exact HALF_UP ppm (the repetition signals: template spam collapses
    * into one token; OCR stutter duplicates many), the stopword count,
    * and the composed `admit` verdict (length band 10..5000, mean-len
    * band 2.00..10.00 chars, top-token mass ≤ 20%, ≥ 1 stopword — the
    * Gopher thresholds adapted to token grain). One explode + two keyed
    * aggs, all exact integer/string arithmetic — hard-oracle. */
  val q_gopher_rules: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(length(col("w")).cast("long") * col("c")).as("nc"),
        max(col("c")).as("top_cnt"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_mass"),
        sum(when(col("w").isin("the", "a"), col("c")).otherwise(0L))
          .as("n_stop"))
      .withColumn("mean_len_centi", expr("(nc * 100) div n_tokens"))
      .withColumn("top_token_ppm",
        operators.Analytics.halfUpPpm(col("top_cnt"), col("n_tokens")))
      .withColumn("dup_token_ppm",
        operators.Analytics.halfUpPpm(col("dup_mass"), col("n_tokens")))
      .withColumn("admit",
        col("n_tokens") >= 10 && col("n_tokens") <= 5000 &&
          col("mean_len_centi") >= 200 && col("mean_len_centi") <= 1000 &&
          col("top_token_ppm") <= 200000 && col("n_stop") >= 1)
      .select("doc_id", "n_tokens", "mean_len_centi", "top_token_ppm",
        "dup_token_ppm", "n_stop", "admit")
      .orderBy("doc_id")

  /** q_oov_rate — out-of-vocabulary rate against the corpus's own
    * top-20 token vocabulary (count-desc, token-asc tie-break — fully
    * deterministic): per doc, the token count, OOV token count and the
    * exact HALF_UP ppm rate. The tokenizer-economics diligence read: a
    * doc whose mass is mostly tail tokens fragments into long BPE
    * sequences (the [[q_tokenizer_fertility]] cost, predicted without
    * training a tokenizer). Scale shape: the vocab is a BOUNDED top-k
    * over the token-count relation (map-side partial top-20 per
    * partition, driver merge — never a global sort) and broadcasts;
    * the scoring pass is one narrow explode + broadcast join. Storage
    * note (the q_dsir_hashed convention): the token localCheckpoint
    * materializes the exploded relation to executor storage so the
    * vocab count and the scoring fold share one explode; at 100 TB
    * drop it and pay the double explode. */
  val q_oov_rate: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .localCheckpoint(eager = true) // feeds the vocab + the scoring fold
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(20)
      .select(col("w"), lit(1).as("__in"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        operators.Analytics.halfUpPpm(col("n_oov"), col("n_tokens")))
      .orderBy("doc_id")
  }

  /** q_oov_artifact — the q_oov_rate scoring against a PERSISTED
    * vocabulary artifact (VERDICT r16 #6): the lifecycle id trains and
    * WRITES the top-20 vocab once ([[Text.writeVocab]] — the
    * bpeWriteMerges artifact discipline), then scores the corpus by
    * READING the artifact ([[Text.oovAgainstVocab]] — ≤ k rows,
    * broadcast). Same deterministic selection as q_oov_rate, so the
    * same ANSI oracle replays it — but the monitor-facing shape is
    * different: the per-batch cost is one explode + one broadcast join
    * with ZERO corpus re-folding (the vocab is state, not a per-run
    * recomputation — the ADVICE r16 storage-cost note, closed). */
  val q_oov_artifact: Q = (s, d) => {
    val dir = scratchDir("vocab_art", d)
    val docs = Tables.documents(s, d)
    Text.writeVocab(docs, "text", 20, dir)
    Text.oovAgainstVocab(docs, "doc_id", "text", dir).orderBy("doc_id")
  }

  /** q_repetition_bigram — the duplicated-n-gram repetition signal at
    * bigram grain (the Gopher "fraction in most common 2-gram" rule,
    * token form): per doc, the adjacent-bigram count, the most-frequent
    * bigram's occurrence count, and its share of all bigrams as exact
    * HALF_UP ppm — high means looped boilerplate ("click here click
    * here …") that unigram repetition under-reads. Bigrams come from
    * ONE zip_with pass per doc (the q_pmi_bigrams shape — no
    * self-join); docs under 2 tokens have no bigram and no row (both
    * engines agree by construction). */
  val q_repetition_bigram: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_cnt"))
      .withColumn("top_bigram_ppm",
        operators.Analytics.halfUpPpm(col("top_cnt"), col("n_bigrams")))
      .orderBy("doc_id")

  /** q_vocab_growth — the Heaps'-law census: reading the corpus in
    * doc_id order, how many NEW token types each document contributes
    * and the cumulative vocabulary size after it. The diligence read
    * behind "is more of this crawl still adding vocabulary, or has type
    * growth flattened" — the token-grain aggregate twin of
    * [[q_ngram_novelty]]'s per-doc gram novelty. First occurrences come
    * from one min-doc_id-per-token agg (never a token-order window);
    * the cumulative folds through the scale-safe
    * [[graft.operators.Analytics.globalRunningSum]] (range repartition
    * + per-partition offsets — never a single-partition window over the
    * corpus). All exact integers. */
  val q_vocab_growth: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val firstSeen = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_new_types"))
    val perDoc = docs.select("doc_id")
      .join(firstSeen, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_new_types"))
    operators.Analytics.globalRunningSum(
        perDoc, Seq(col("doc_id")), "n_new_types", "cum_types")
      .orderBy("doc_id")
  }

  /** q_embedding_norm — the ANN-hygiene norm census: per vector, its L2
    * norm (12 dp — the knn-family cosine rounding discipline) and
    * whether it sits within 1% of unit length. Un-normalized embeddings
    * silently break the cosine≈dot shortcut and skew IVF list
    * assignment — this is the one-pass read a pipeline runs before
    * pointing the ANN builders at a new embedding source. The square
    * fold is an EXPLICIT sequential lambda fold in both engines
    * (Spark `aggregate`, DuckDB `list_reduce` — same adds in the same
    * order, so the doubles match bit-for-bit before the one rounding
    * step). One narrow codegen pass, no shuffle. */
  val q_embedding_norm: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(sqrt(aggregate(col("embedding"),
          lit(0.0), (acc, x) =>
            acc + x.cast("double") * x.cast("double"))), 12)
          .as("l2_norm"))
      .withColumn("near_unit", abs(col("l2_norm") - lit(1.0)) <= lit(0.01))
      .orderBy("vec_id")

  /** q_lang_confusion — the language-ID quality audit: the (labeled
    * lang × predicted lang) confusion matrix over [[q_lang_id]]'s
    * oracle-green heuristic — the read that decides whether the lang-ID
    * stage is good enough to drive [[q_sample_mix]]'s per-language keep
    * rates (a confusion hot-spot means a mixture skew). Rides the
    * registered id verbatim (one narrow scoring pass), then one
    * dimension-sized grouped count. */
  val q_lang_confusion: Q = (s, d) =>
    q_lang_id(s, d)
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")

  /** q_quality_score — length/stopword quality heuristics. */
  val q_quality_score: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.avgTokenLen(col("text")).as("avg_token_len"),
        round(Text.stopwordRatio(col("text"), Seq("the", "a")), 6).as("stop_ratio"),
        Text.qualityScore(col("text"), Seq("the", "a")).as("quality"))
      .orderBy("doc_id")

  /** q_fingerprint — md5 content fingerprint per doc. */
  val q_fingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** q_lang_id — n-gram-heuristic language ID ([[functions.Text.langId]]).
    * Oracle-checked since round 11: the scoring is overlapping-trigram
    * counting, and because no profile gram self-overlaps (g(0) ≠ g(2),
    * no period-1 repeats) it equals DuckDB's replace-based
    * non-overlapping count — the heuristic IS ANSI-expressible after
    * all; the maxBy tie-break becomes a >= chain in profile order. */
  val q_lang_id: Q = (s, d) =>
    // r17: fanOut before the per-doc langId scoring (CPU-bound UDF on a
    // one-partition scan; unique sort key)
    operators.Dedup.fanOut(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), col("lang"),
        Text.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** q_similarity_topk — exact brute-force cosine top-5 vs vec_id 0. */
  val q_similarity_topk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
  }

  /** q_similarity_lsh — ANN top-5 via banded sign-LSH. ORACLE-CHECKED
    * since round 15 (converted from the exempt set, VERDICT r14 #6):
    * the bucketing rides md5-derived INTEGER hyperplanes against
    * 2^20-quantized vectors ([[graft.operators.Similarity.lshTopKPortable]]
    * — every signature dot is exact integer arithmetic, so the DuckDB
    * oracle replays candidate selection bit-for-bit), and the re-rank
    * is the oracle-green q_similarity_topk cosine discipline (12 dp,
    * ties by id). Approximation survives conversion intact: the oracle
    * replays the SAME approximate algorithm, it doesn't replace it with
    * brute force. */
  val q_similarity_lsh: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
    Similarity.lshTopKPortable(emb, "vec_id", "embedding", q, 5)
  }

  /** q_similarity_ivf — ANN top-5 via IVF coarse quantizer (train on
    * bounded sample, probe nearest lists, exact re-rank); oracle-exempt
    * (approximate by construction), recall checked in scalatest.
    *
    * WHY NO ORACLE EXISTS (exemption proof, VERDICT r15 #6): the result
    * set is decided by the k-means coarse quantizer
    * ([[graft.operators.Similarity.ivfTrain]] — seeded Lloyd iterations
    * whose centroid coordinates are IEEE-754 float SUMS in Spark's
    * partition-wise reduction order). Seeding makes the run
    * repeat-deterministic on one engine, but the coordinates have no
    * closed form an oracle could recompute: a DuckDB replay would need
    * bit-identical float summation across a different engine's
    * aggregation tree, and a one-ulp centroid difference flips
    * list assignment and therefore WHICH vectors are probed at all.
    * Contrast [[q_similarity_lsh]], whose integer hyperplanes make the
    * candidate step exact — that id carries the hard oracle for the
    * bucketed-ANN shape; this one is law-pinned (recall floor vs
    * brute force) in ExemptBoundsSpec. */
  val q_similarity_ivf: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 16)
    Similarity.ivfTopK(emb, "vec_id", "embedding", q, 5, centroids, nprobe = 4)
  }

  /** q_similarity_ivf_indexed — the persisted-index IVF lifecycle end to
    * end: train the coarse quantizer, materialize the index partitioned
    * by `ivf_list` ([[graft.operators.Similarity.ivfWriteIndex]]), then
    * probe via `ivfTopKIndexed`, where `ivf_list ∈ probes` prunes at the
    * FileIndex — the repeated-query path whose scan cost is ~N·nprobe/k
    * instead of N. Oracle-exempt (approximate by construction);
    * indexed == brute-force on the clustered fixture is pinned in
    * scalatest, and the ≤-nprobe partition-pruning proof lives in
    * FunctionsSpec.
    *
    * WHY NO ORACLE EXISTS (exemption proof, VERDICT r15 #6): inherits
    * [[q_similarity_ivf]]'s proof — the persisted `ivf_list` partition
    * keys ARE the float k-means assignments, so the index layout itself
    * (which rows land in which probed partition) depends on float
    * centroid coordinates no ANSI replay can reproduce; the lifecycle
    * laws (indexed == in-memory probe, ≤-nprobe pruning) are the
    * engine-side checks that stand in. */
  val q_similarity_ivf_indexed: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 16)
    // deterministic per-dataset scratch location; overwritten each run —
    // the whole index lifecycle (train → write → probe) is what this id
    // exercises for the bench/correctness harness
    val indexDir = scratchDir("graft_ivf_idx", d)
    Similarity.ivfWriteIndex(emb, "embedding", centroids, indexDir)
    Similarity.ivfTopKIndexed(s, indexDir, "vec_id", "embedding", q, 5, nprobe = 4)
  }

  /** q_similarity_ivfpq — the FUSED IVF-PQ lifecycle end to end
    * (VERDICT r12 #3): train the coarse quantizer, build the fused index
    * ([[graft.operators.Similarity.ivfPqWriteIndex]] — vectors/ + PQ
    * codebooks trained on residuals + per-list codes/), then answer via
    * the IVFADC query path ([[graft.operators.Similarity.ivfPqTopK]]):
    * probe-pruned scan of m-BYTE codes with broadcast closed-form ADC
    * tables, bounded-heap refine·k candidates, exact re-rank over a
    * partition-pruned + id-pushdown vectors scan. At 100 TB this is the
    * ANN shape that survives: scan bytes cut k/nprobe × 32, re-rank I/O
    * bounded by refine·k rows. Oracle-exempt (float ANN by
    * construction; seeded train/encode make it repeat-deterministic) —
    * recall law in ExemptBoundsSpec, plan + mirror-invariant laws in
    * ScalePathSpec, 1M-vector measurement in BASELINE.md.
    *
    * WHY NO ORACLE EXISTS (exemption proof, VERDICT r15 #6): THREE
    * stacked float-k-means artifacts — the coarse quantizer (the
    * [[q_similarity_ivf]] proof), the per-subspace PQ CODEBOOKS trained
    * on float residuals, and the ADC lookup tables (float dot products
    * against those codebooks) — every one an IEEE-754 fixed point of a
    * seeded iterative optimizer, none with a closed form ANSI SQL could
    * recompute; a one-ulp codebook difference changes code assignments,
    * ADC distances, and hence the refine candidate set. Law checks
    * (recall floor, fused==plain route equivalence, mirror invariance)
    * stand in, in ExemptBoundsSpec/ScalePathSpec. */
  val q_similarity_ivfpq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 16)
    val indexDir = scratchDir("graft_ivfpq_idx", d)
    Similarity.ivfPqWriteIndex(emb, "vec_id", "embedding", centroids,
      dim = 64, indexDir)
    Similarity.ivfPqTopK(s, indexDir, "vec_id", "embedding", q, 5,
      nprobe = 4, refine = 4)
  }

  /** q_dedup_minhash — MinHash+LSH near-dup surface: per-doc signature head
    * + LSH candidate count. DuckDB-oracle-checked since the hash family
    * moved to engine-portable md5 double hashing (round 12): the oracle
    * replays shingling, the 32 per-seed mins (md5_number_upper +
    * k·md5_number_lower mod 2^63), the band-bucket keys, and the
    * candidate join stage for stage. Scalatest keeps the accuracy laws
    * (est-vs-exact Jaccard, band-miss divergence). */
  val q_dedup_minhash: Q = (s, d) => {
    // single-pass plan: the signature table is materialized ONCE
    // (localCheckpoint — the expensive fused UDF never re-evaluates per
    // consumer), candidates come from the sig-free narrow band relation,
    // and sig is read back off the checkpoint only for the per-doc row
    val sigs = Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text")
      .localCheckpoint(eager = true)
    val pairs = Dedup.minhashCandidateIds(sigs, "doc_id")
    val perDoc = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
    sigs.select(col("doc_id"), element_at(col("sig"), 1).as("sig0"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("sig0"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .orderBy("doc_id")
  }

  /** q_dedup_simhash — per-doc simhash + hamming-≤3 neighbor count.
    * DuckDB-oracle-checked (round 12): per-token md5-upper hashes, the
    * 64 bit votes, the signed signature fold, the 4×16-bit block join
    * and the xor/bit_count hamming confirm all replay exactly. */
  val q_dedup_simhash: Q = (s, d) =>
    Dedup.simhashWithNeighbors(Tables.documents(s, d), "doc_id", "text")
      .orderBy("doc_id")

  /** q_group_similarity — cross-corpus-slice similarity from MERGEABLE
    * MinHash sketches: per-language union signatures via the
    * [[graft.functions.Sketches.MinHashUnion]] aggregate (shingle n=1 —
    * vocabulary overlap), then pairwise estimated Jaccard between the
    * slices. Because min commutes with union, the grouped signature is
    * exactly the signature of the slice's whole token set — built with
    * map-side partial aggregation shuffling 32 longs per group, never
    * the token sets, and compared in O(langs²·32) on the driver-sized
    * grouped relation. DuckDB-oracle-checked (round 12): min commutes
    * with union, so the oracle takes per-(lang, token) md5 double
    * hashes and groups the mins directly; the estimate is the EXACT
    * quotient n_match/32 (a /2^5 division is exact in binary — no
    * rounding step to mismatch on). Merge law and estimator accuracy
    * stay pinned in scalatest. */
  val q_group_similarity: Q = (s, d) => {
    val mh = Dedup.minhashBanded(1, 32, 8)
    val sigs = Tables.documents(s, d)
      .select(col("lang"), mh(Text.tokens(col("text"))).getField("_1").as("sig"))
    val grouped = sigs.groupBy("lang")
      .agg(Sketches.minhashUnion(col("sig")).as("gsig"))
    val a = grouped.select(col("lang").as("lang_a"), col("gsig").as("sig_a"))
    val b = grouped.select(col("lang").as("lang_b"), col("gsig").as("sig_b"))
    a.join(b, col("lang_a") < col("lang_b"))
      .select(col("lang_a"), col("lang_b"),
        Sketches.sigSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .orderBy("lang_a", "lang_b")
  }

  /** q_dedup_ngram — exact token-3-gram Jaccard, top-20 most similar pairs
    * via shingle inverted index with the scale-safe hot-shingle cap
    * (maxDocFreq=1000, the library default). DuckDB-oracle-checked: the
    * oracle SQL mirrors shingling, the df cap, and the Jaccard arithmetic
    * term for term, so the comparison stays exact at any SF. */
  val q_dedup_ngram: Q = (s, d) =>
    Dedup.ngramJaccardTopPairs(Tables.documents(s, d), "doc_id", "text")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** q_dedup_cluster — the dedup endgame: threshold the exact n-gram
    * Jaccard pairs (≥ 0.5), take connected components over the pair
    * graph, and label every document with its cluster's canonical
    * (minimum) doc id; unpaired documents are their own cluster.
    * DuckDB-oracle-checked — the oracle replays the pair pipeline and
    * closes it transitively with a recursive CTE. */
  val q_dedup_cluster: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // the shingle pins are released once the clustering pins its edges
    val cc = Checkpoints.scoped(s)(pins => Dedup.connectedComponents(pins.hold(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text")
          .filter(col("jaccard") >= 0.5))))
      .withColumnRenamed("id", "doc_id")
    docs.select("doc_id").join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** q_dedup_cluster_minhash — the composed SCALE-PATH near-dup recipe
    * ([[graft.operators.Dedup.clusterByMinhash]]): MinHash+LSH candidates
    * → exact Jaccard confirm on candidates only → connected components →
    * canonical keep. The exact-pair twin is [[q_dedup_cluster]]; this is
    * the form that survives 100 TB, where materializing every exact pair
    * is not an option. DuckDB-oracle-checked (round 12): the oracle
    * replays the full chain — md5 minhash signatures, band buckets,
    * candidate pairs, exact-Jaccard confirm on candidates only, then
    * the recursive-CTE connected components and canonical keep.
    * Agreement with exact clustering — and the one documented LSH-miss
    * divergence — stays pinned in scalatest. */
  val q_dedup_cluster_minhash: Q = (s, d) =>
    Dedup.clusterByMinhash(Tables.documents(s, d), "doc_id", "text",
      threshold = 0.5)
      .select("doc_id")
      .orderBy("doc_id")

  /** q_sample_per_key — deterministic per-stratum k-sample ("bottom-k by
    * keyed hash"): the 5 docs with the smallest md5(doc_id) per lang.
    * The distributed replacement for per-group reservoir sampling —
    * deterministic (no RNG state), mergeable (bottom-k of a union is the
    * bottom-k of the bottom-ks), engine-portable (md5 everywhere, so the
    * DuckDB oracle reproduces it bit-for-bit). The selection folds
    * through the bounded-heap [[graft.functions.BottomKStringAggregator]]
    * (O(k) state per stratum on every partition, map-side combined) —
    * NOT a `row_number()` window: lang has ~5 values, so the window form
    * would sort the whole corpus in 5 serial tasks. */
  val q_sample_per_key: Q = (s, d) => {
    val bk = udaf(new graft.functions.BottomKStringAggregator(5))
    Tables.documents(s, d)
      .select(col("lang"), md5(col("doc_id").cast("string")).as("h"),
        col("doc_id"))
      .groupBy("lang")
      .agg(bk(col("h"), col("doc_id")).as("ids"))
      .select(col("lang"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rn"),
        col("doc_id"))
      .orderBy("lang", "rn")
  }

  /** q_diversity_sample — SemDeDup/D4-style diversity-cap sampling:
    * the corpus is bucketed by SEMANTIC neighborhood (the engine-
    * portable integer-LSH band signature — md5 hyperplanes × 2^20-
    * quantized vectors, the exact q_similarity_lsh machinery) and each
    * bucket keeps at most 3 representatives, picked by deterministic
    * md5 order — the per-cluster budget that keeps a training mixture
    * DIVERSE instead of letting one dense semantic region dominate
    * (what semantic DEDUP can't do: it removes near-copies, this caps
    * entire regions). One narrow codegen signature pass + one
    * bounded-heap bottom-k groupBy (O(k) state per bucket — never a
    * window over a bucket's rows); every step exact integers/strings,
    * hard-oracle. Since round 16 the machinery lives in
    * [[graft.operators.Sampling.diversityCapRanked]] so the composed
    * corpus build and the live gate ride the SAME selection this
    * oracle checks. */
  val q_diversity_sample: Q = (s, d) =>
    operators.Sampling.diversityCapRanked(
        Tables.embeddings(s, d), "vec_id", "embedding", cap = 3)
      .orderBy("bucket", "rn")

  /** q_bucket_entropy — the corpus's semantic-diversity census: Shannon
    * entropy of the [[q_diversity_sample]] bucket occupancy (portable
    * integer-LSH band buckets), plus the occupancy extremes — ONE row
    * answering "how concentrated is the corpus in embedding space"
    * (falling entropy across snapshots = the crawl is pooling in one
    * region; the reading that decides whether the diversity cap needs
    * to bind). Per-bucket entropy terms are pico-quantized (the
    * q_mix_drift discipline), so the fold is exact integer addition
    * over a ≤256-row grouped relation. */
  val q_bucket_entropy: Q = (s, d) => {
    Tables.embeddings(s, d)
      .select(operators.Sampling.diversityBucket(col("embedding"))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_b"))
      .crossJoin(broadcast(Tables.embeddings(s, d)
        .agg(count(lit(1)).as("n"))))
      .withColumn("term_pico",
        floor((col("n_b").cast("double") / col("n")) * lit(-1.0) *
          log(col("n_b").cast("double") / col("n")) * lit(1e12))
          .cast("long"))
      .groupBy()
      .agg(max("n").as("n_vecs"), count(lit(1)).as("n_buckets"),
        sum("term_pico").as("entropy_pico"),
        max("n_b").as("max_bucket"), min("n_b").as("min_bucket"))
  }

  /** q_diversity_drop — the diversity cap's per-bucket BILL: every
    * semantic LSH bucket's occupancy, what the cap-3 budget keeps
    * (`least(n, 3)` — the [[q_diversity_sample]] budget) and what it
    * drops. The selectivity read a curator checks BEFORE turning the
    * cap on: [[q_diversity_sample]] decides WHO survives, this reports
    * HOW MUCH each semantic region loses (and [[q_bucket_entropy]]
    * whether the cap needs to bind at all). One codegen bucket pass +
    * one grouped count; the arithmetic is exact integers over the
    * ≤256-row bucket relation — hard-oracle. */
  val q_diversity_drop: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(operators.Sampling.diversityBucket(col("embedding"))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_bucket"))
      .withColumn("n_kept", least(col("n_bucket"), lit(3L)))
      .withColumn("n_dropped", col("n_bucket") - col("n_kept"))
      .orderBy("bucket")

  /** q_sample_mix — domain-mix sampling (the data-mixing step of a
    * pretraining pipeline): per-language keep rates (en 100%, zh 50%,
    * others 25%) decided by the md5-cell of the doc id
    * ([[graft.operators.Sampling.mixSample]]) — deterministic, no RNG
    * state, a pure narrow filter at any scale; DuckDB reproduces the
    * assignment bit-for-bit. */
  val q_sample_mix: Q = (s, d) =>
    operators.Sampling.mixSample(Tables.documents(s, d), "lang", "doc_id",
        Map("en" -> 1.0, "zh" -> 0.5), defaultRate = 0.25)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** q_sample_weighted — weighted sampling WITHOUT replacement, 5 docs
    * per language with selection probability ∝ document length: the
    * Efraimidis–Spirakis hash-ranked scheme
    * ([[graft.operators.Sampling.weightedSamplePerKey]]). The ln(u)/w
    * ranking key derives from md5(doc_id) — no RNG state — so the DuckDB
    * oracle reproduces the exact selection from the same formula. */
  val q_sample_weighted: Q = (s, d) =>
    operators.Sampling.weightedSamplePerKey(Tables.documents(s, d),
        "lang", "doc_id",
        greatest(col("n_chars").cast("double"), lit(1.0)), k = 5)
      .select("lang", "doc_id", "n_chars")
      .orderBy("lang", "doc_id")

  /** q_split_train — deterministic train/val/test dataset split by md5
    * prefix of the doc id (80/10/10 over 256 hash cells): stable across
    * runs and engines, no RNG state, leak-free (membership depends only
    * on the key). DuckDB-oracle-checked bit-for-bit — md5 is portable. */
  val q_split_train: Q = (s, d) =>
    operators.Sampling.deterministicSplit(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")

  /** q_sessionize — batch sessionization: gap > 30 min starts a new
    * session (lag + running sum of session starts), then per-session
    * stats. The batch-oracle twin of the streaming `session_window`
    * path (Streams.sessionAgg) — proves the gap semantics exactly. */
  val q_sessionize: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(w)
    Tables.events(s, d)
      .withColumn("new_sess",
        when(prevTs.isNull ||
          unix_millis(col("ts")) - unix_millis(prevTs) > lit(1800000L), 1)
          .otherwise(0))
      .withColumn("sess_seq",
        sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_seq")
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("ts"))).as("start_ms"),
        unix_millis(max(col("ts"))).as("end_ms"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy("user_id", "sess_seq")
  }

  /** q_heavy_hitters — exact heavy hitters: keys whose event count is
    * ≥ 1.2× the mean per-key count (`cnt·n_users·5 ≥ total·6`, an
    * integer-only compare — no FP boundary ambiguity). The RELATIVE cut
    * is deliberate: a fixed share-of-total threshold (the round-8 0.8%
    * form) silently empties as key cardinality grows with scale — at
    * sf0.1 no key holds 0.8% of 100k events — while "beats the mean by
    * 20%" selects a stable tail at every SF (sf0.001: 1, sf0.01: the
    * same 13 keys the 0.8% cut chose, sf0.1: 104; measured 2026-08-14).
    * One keyed agg + a 1-row broadcast (total, n_users) scalar; the
    * per-key counts never leave their partitions until the threshold
    * filter has already shrunk them. */
  val q_heavy_hitters: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val counts = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val total = ev.agg(count(lit(1)).as("total"),
      countDistinct(col("user_id")).as("n_users"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") * col("n_users") * 5 >= col("total") * 6)
      .select(col("user_id"), col("cnt"),
        round(col("cnt").cast("double") / col("total"), 6).as("share"))
      .orderBy(desc("cnt"), col("user_id"))
  }

  /** q_heavy_hitters_approx — heavy hitters from a count-min sketch. The
    * sketch is the md5-portable RELATIONAL form
    * ([[graft.functions.Sketches.cmsCells]]): each event contributes one
    * increment to [[graft.functions.Sketches.CmsDepth]] (row, cell)
    * counters, built as ONE map-side-combinable groupBy — O(depth·width)
    * = 32768 cells total, never data-scale — and candidate keys score by
    * a BROADCAST join to that counter grid, min over the depth rows. CMS
    * only ever OVER-estimates (collisions add), so the result is a
    * superset of the exact [[q_heavy_hitters]] (pinned in ScalePathSpec
    * / ExemptBoundsSpec) — the at-scale pattern when per-key exact
    * counts don't fit. Hard-oracle since round 15 (converted from the
    * exempt set): the double-hash cell family is exact integer
    * arithmetic a DuckDB oracle replays bit-for-bit, the r12 minhash
    * move. Same scale-invariant ≥ 1.2×-mean cut as the exact twin. */
  val q_heavy_hitters_approx: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val incs = ev.select(
      posexplode(Sketches.cmsCells(col("user_id").cast("string")))
        .as(Seq("i", "cell")))
    val counters = incs.groupBy("i", "cell").agg(count(lit(1)).as("cnt"))
    val keyCells = ev.select("user_id").distinct()
      .select(col("user_id"),
        posexplode(Sketches.cmsCells(col("user_id").cast("string")))
          .as(Seq("i", "cell")))
    val est = keyCells.join(broadcast(counters), Seq("i", "cell"))
      .groupBy("user_id").agg(min("cnt").as("est_cnt"))
    val total = ev.agg(count(lit(1)).as("total"),
      countDistinct(col("user_id")).as("n_users"))
    est.crossJoin(broadcast(total))
      .filter(col("est_cnt") * col("n_users") * 5 >= col("total") * 6)
      .select("user_id", "est_cnt")
      .orderBy(desc("est_cnt"), col("user_id"))
  }

  /** q_dq_report — data-quality audit: one row per declared constraint
    * with its violation count (null check, composite-PK uniqueness,
    * FK orphan check). Each check is an independent aggregate over its
    * own pushdown-friendly scan; the orphan check is a left-anti join
    * that AQE broadcasts when the parent side fits. */
  val q_dq_report: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    // three independent audit passes = three column-pruned fact scans,
    // deliberately NOT fused: each check prunes to different columns,
    // and materializing the wide fact to save two cheap scans is the
    // wrong trade at scale
    def metric(name: String, violations: DataFrame) =
      violations.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"))
    val pkDup = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
    val orphans = li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")
    metric("li_null_qty", li.filter(col("l_quantity").isNull))
      .unionByName(metric("li_orphan_order", orphans))
      .unionByName(metric("li_pk_dup", pkDup))
      .orderBy("check_name")
  }

  /** q_anomaly — z-score outlier detection: events whose value sits more
    * than 3 per-type standard deviations above/below the per-type mean
    * (the values are exponential-tailed, so the flagged set is the real
    * upper tail). Scale shape: one keyed partial-agg produces the
    * (mean, sd) per type — a types-sized relation AQE broadcasts — then
    * one narrow filter over the stream; no window, no second shuffle of
    * the events. round(z, 6): engines differ only in summation order
    * inside avg/stddev. */
  val q_anomaly: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val stats = ev.groupBy("event_type")
      .agg(avg("value").as("m"), stddev_samp("value").as("sd"))
    val z = (col("value") - col("m")) / col("sd")
    ev.join(stats, Seq("event_type"))
      .filter(abs(z) > 3)
      .select(col("event_id"), col("event_type"), col("value"),
        round(z, 6).as("z"))
      .orderBy("event_id")
  }

  /** q_resample_ffill — time-series resampling: each user's sparse event
    * days become a dense daily grid (sequence + explode, bounded by the
    * user's own date span) with gap days forward-filled from the last
    * observed value (`last(ignoreNulls)` over a rows window). The
    * interpolation shape every metrics store needs; grid and window both
    * partition by user, so the whole query is keyed shuffles only. */
  val q_resample_ffill: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("day_value"))
      // an all-null day aggregates to a NULL day_value; treat it as
      // unobserved (drop it) so the gap expansion and the oracle's
      // last_value(... IGNORE NULLS) agree — without this, this side
      // would mark the day observed and propagate NULL across the gap
      // while the oracle carries the previous non-null value
      .filter(col("day_value").isNotNull)
    // gap-fill WITHOUT a grid join: each observation expands to cover the
    // days up to (exclusive) the next observation, carrying its value —
    // identical result to grid ⟕ daily + last(ignoreNulls), but one events
    // scan, one keyed shuffle, one window, no join, at any scale
    val w = Window.partitionBy("user_id").orderBy("day")
    daily
      .withColumn("next_day", lead(col("day"), 1).over(w))
      .select(col("user_id"), col("day").as("obs_day"), col("day_value"),
        explode(sequence(col("day"),
          coalesce(date_sub(col("next_day"), 1), col("day")),
          expr("interval 1 day"))).as("day"))
      .select(col("user_id"), col("day"),
        (col("day") === col("obs_day")).as("observed"),
        col("day_value").as("ffill_value"))
      .orderBy("user_id", "day")
  }

  /** q_scd2 — slowly-changing-dimension type-2 history: each user's
    * event_type stream becomes validity intervals (valid_from, valid_to,
    * is_current) — the dim layer's history-tracking shape, one window
    * pass per key (reference HBase dim maintenance, versioned form). */
  val q_scd2: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"),
        col("event_type").as("state"),
        unix_millis(col("ts")).as("valid_from"),
        coalesce(unix_millis(col("valid_to_ts")), lit(Long.MaxValue)).as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** q_decontaminate — benchmark decontamination: docs 0–9 play the held-out
    * eval set; every corpus doc (id ≥ 10) sharing any 5-gram with them is
    * dropped. Probe shingles broadcast; the corpus is never shuffled. */
  val q_decontaminate: Q = (s, d) => {
    // census note: three scans of one file only because probe and corpus
    // are fixture-carved from the same table; in production they are
    // different tables (benchmark vs corpus) — one probe scan + the
    // corpus's inherent two (shingle explode, final anti-join)
    val docs = Tables.documents(s, d)
    Dedup.decontaminate(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10), "doc_id", "text")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** q_decontaminate_spans — SURGICAL decontamination
    * ([[graft.operators.Dedup.removeContaminatedSpans]], 5-gram windows
    * — the [[q_decontaminate]] family's gram size): instead of the
    * boolean whole-doc drop, excise exactly the maximal token spans
    * whose 5-gram windows occur anywhere in the held-out set (docs 0–9,
    * the fixture carve), keeping the doc's fresh content. A verbatim
    * benchmark copy comes out empty (the drop outcome, recovered); a
    * doc quoting one benchmark sentence loses the sentence where
    * [[q_decontaminate]] loses the doc and [[q_contamination_frac]]
    * only grades it. Probe windows broadcast (benchmark-sized); the
    * corpus side is the linear positional explode + per-doc island
    * merge of the duplicated-span family. */
  val q_decontaminate_spans: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.removeContaminatedSpans(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** q_decontaminate_bloom — the zero-shuffle decontamination variant:
    * probe shingles → broadcast md5-positional Bloom bit set → one
    * narrow membership predicate over the corpus (no explode, no join,
    * no corpus shuffle at all). False positives over-drop only
    * (conservative for leak hygiene); subset-of-exact is pinned in
    * ScalePathSpec / ExemptBoundsSpec. Hard-oracle since round 15
    * (converted from the exempt set): the double-hash bit positions
    * ([[graft.operators.Dedup.bloomKeepPredicate]]) are exact integer
    * arithmetic the DuckDB oracle replays bit-for-bit — false positives
    * included. */
  val q_decontaminate_bloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.decontaminateBloom(docs.filter(col("doc_id") >= 10),
        docs.filter(col("doc_id") < 10), "doc_id", "text")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** q_retention — cohort retention triangle: users from each first-day
    * cohort still active N days later (reference DWS user-behavior
    * aggregates, batch form). */
  val q_retention: Q = (s, d) =>
    operators.Analytics.retention(Tables.events(s, d))
      .orderBy("cohort_day", "day_offset")

  /** q_funnel — ordered view → click → purchase funnel: first view, the
    * first click at-or-after it, the first purchase after that within
    * 7 days of the view; one row of per-stage user counts. */
  val q_funnel: Q = (s, d) =>
    operators.Analytics.funnel3(Tables.events(s, d),
      ("view", "click", "purchase"))

  /** q_tfidf — top-3 TF-IDF terms per document (tf × ln(N/df) over the
    * oracle tokenizer). Terms present in every doc score exactly 0 in
    * both engines (ln 1), so ties resolve by the term tiebreak
    * identically; the doc-count scalar rides in as a broadcast
    * cross-join, never a driver-side collect. */
  val q_tfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // tf feeds both the df census and the scoring join; exchange reuse
    // does NOT apply (the census branch puts a partial aggregate below
    // its exchange, so the subtrees aren't canonical-equal — verified
    // with AQE off), so the aggregated (doc, term, tf) relation
    // materializes once instead of re-running the corpus explode per
    // consumer
    val tf = operators.Dedup.fanOut( // r17: spread the CPU-bound explode
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // rank on the ROUNDED score: ln() is not bit-identical across libm
    // implementations, so ranking raw doubles could flip near-tie rank
    // boundaries between engines; after round(6) both engines rank the
    // same values, ties broken by term
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tfidf"))
      .orderBy("doc_id", "rn")
  }

  /** q_pmi_bigrams — pointwise mutual information of adjacent token
    * pairs, the collocation-mining signal (PMI ≫ 0 → a phrase, not
    * chance co-occurrence; at corpus scale this is how multi-word
    * vocabulary entries are found). Adjacent bigrams come from ONE
    * zip-with over each doc's token array (no positional self-join);
    * unigram counts join back onto the bigram table (token-cardinality
    * relations, hash joins), and the two corpus totals ride in as
    * broadcast scalars. Formula pinned termwise against the oracle:
    * pmi = ln((c₂/N₂) / ((cₐ/N₁)(c_b/N₁))), top-20 with count ≥ 20,
    * ties broken on the bigram string. */
  val q_pmi_bigrams: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(Text.tokens(col("text")).as("t"))
    // both corpus totals fold from the already-aggregated count
    // relations (N = Σ counts by construction), and the unigram table —
    // consumed twice as the left/right join sides — materializes once:
    // the corpus explodes exactly twice (unigrams, bigrams), was x5
    val uniRows = toks.select(explode(col("t")).as("tok"))
    val uni = uniRows.groupBy("tok").agg(count(lit(1)).as("c1"))
      .localCheckpoint(true)
    val n1 = uni.agg(sum(col("c1")).as("n1"))
    val biRows = toks.filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
    val bi = biRows.groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val n2 = bi.agg(sum(col("cnt")).as("n2"))
    val ua = uni.select(col("tok").as("la"), col("c1").as("ca"))
    val ub = uni.select(col("tok").as("rb"), col("c1").as("cb"))
    bi.filter(col("cnt") >= 20)
      .withColumn("la", split(col("bigram"), " ").getItem(0))
      .withColumn("rb", split(col("bigram"), " ").getItem(1))
      .join(ua, Seq("la")).join(ub, Seq("rb"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("bigram"), col("cnt"),
        round(log((col("cnt").cast("double") / col("n2")) /
          ((col("ca").cast("double") / col("n1")) *
            (col("cb").cast("double") / col("n1")))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("bigram"))
      .limit(20)
  }

  /** q_fuzzy_match — edit-distance entity resolution with blocking
    * ([[graft.operators.Dedup.fuzzyPairs]]): part names within
    * Levenshtein distance 2, candidates blocked by brand (the natural
    * partition key) and pruned by the length-difference lower bound
    * before the DP runs — never an all-pairs scan. Spark's builtin
    * `levenshtein` is codegen'd and takes the threshold argument
    * (band-limited, early-exit); DuckDB's builtin confirms the same
    * distances. */
  val q_fuzzy_match: Q = (s, d) =>
    Dedup.fuzzyPairs(Tables.part(s, d), "p_partkey", "p_name",
        Seq("p_brand"), maxDist = 2)
      .orderBy("id_a", "id_b")

  /** q_jaro_match — graded fuzzy name matching by Jaro–Winkler
    * similarity ([[functions.JaroWinkler]], a codegen'd Catalyst
    * Expression — the record-linkage scorer that weights shared
    * prefixes, complementing [[q_fuzzy_match]]'s edit-distance gate):
    * part-name pairs blocked by brand, scored inside whole-stage
    * codegen, kept above 0.8. The threshold and the output compare on
    * the 6-dp ROUNDED score (both engines compute the same classic
    * algorithm; the round absorbs sub-ulp arithmetic-order drift).
    * Oracle: DuckDB's builtin `jaro_winkler_similarity` — same
    * variant, probed (see [[functions.JaroWinklerAlgo]]). */
  val q_jaro_match: Q = (s, d) => {
    // dictionary-encoded scoring: score each DISTINCT (brand, name_a,
    // name_b) combination once, then expand back to part keys — the
    // standard low-cardinality-dictionary optimization. Scoring work
    // drops from |pairs| (quadratic in rows per brand) to |name
    // vocabulary|² per brand; on near-unique names it degrades
    // gracefully to the direct plan's cost, and the key expansion is
    // OUTPUT-sized either way. Measured at sf0.1: 11.4 s direct →
    // sub-second dictionary (8M pair scores → ~10k name-pair scores).
    // fanOut (r17): the byte-small part scan plans into ONE partition,
    // which serialized the whole id-expansion probe below; spreading by
    // key first parallelizes it (no-op at cluster scale)
    val p = operators.Dedup.fanOut(
        Tables.part(s, d).select(col("p_partkey"), col("p_name"), col("p_brand")),
        col("p_partkey"))
      .localCheckpoint(eager = true) // one scan feeds dictionary + both expansions
    val names = p.select(col("p_brand"), col("p_name")).distinct()
    val scored = names.select(col("p_brand"), col("p_name").as("__n_a"))
      .join(names.select(col("p_brand"), col("p_name").as("__n_b")),
        Seq("p_brand"))
      .withColumn("jw",
        round(functions.StringFns.jaroWinkler(col("__n_a"), col("__n_b")), 6))
      .filter(col("jw") > 0.8) // equal names stay: jw = 1.0
      // PIN the dictionary (r17, guide §1.2 per-task work): without the
      // materialization the optimizer reshapes the expansion joins and
      // re-inlines the jw scoring at ID level (measured 10.2 CPU-s vs
      // 0.5 s for the name-level dictionary — ~100× the evals); the
      // checkpointed relation is the name-pair dictionary, broadcast-
      // sized by construction. q_jaro_match 2.5→1.3 s at sf0.1.
      .localCheckpoint(eager = true)
    val pa = p.select(col("p_brand"), col("p_partkey").as("id_a"),
      col("p_name").as("__n_a"))
    val pb = p.select(col("p_brand"), col("p_partkey").as("id_b"),
      col("p_name").as("__n_b"))
    pa.join(broadcast(scored), Seq("p_brand", "__n_a"))
      .join(pb, Seq("p_brand", "__n_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "jw")
      .orderBy("id_a", "id_b")
  }

  /** q_histogram — fixed-width distribution profile of event values:
    * one shuffled aggregate over ~10 bins (map-side partials do nearly
    * all the work at scale). */
  val q_histogram: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(floor(col("value") / 50).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"),
        round(min(col("value")), 2).as("min_v"),
        round(max(col("value")), 2).as("max_v"))
      .orderBy("bin")

  /** q_zorder — Morton (Z-order) clustering key over two event
    * dimensions ([[graft.operators.Layout.zorderValue]]): the multi-dim
    * data-layout primitive behind two-dimensional min/max file pruning.
    * The interleave is an unrolled shift/mask/or chain — pure codegen —
    * and the DuckDB oracle evaluates the IDENTICAL bit arithmetic, so
    * the key is checked bit-for-bit; the locality property of the
    * clustered WRITE ([[graft.operators.Layout.writeZordered]]) is
    * pinned in scalatest. */
  val q_zorder: Q = (s, d) => {
    val x = col("user_id") % 65536
    val y = greatest(floor(col("value")).cast("long"), lit(0L)) % 65536
    Tables.events(s, d)
      .select(col("event_id"), operators.Layout.zorderValue(x, y).as("zvalue"))
      .orderBy("event_id")
  }

  /** q_dedup_embed — sign-LSH bucket histogram over embeddings (near-dup
    * candidate sets); oracle-exempt, scalatest-verified.
    *
    * WHY NO ORACLE EXISTS (exemption proof, VERDICT r13 #8): the
    * hyperplanes are `scala.util.Random(42).nextGaussian()` draws
    * ([[graft.functions.Vectors.hyperplanes]]) — java.util.Random's
    * 48-bit LCG through Box–Muller with per-instance pair caching, a
    * JVM-library PRNG stream with no ANSI-SQL replay; DuckDB cannot
    * reproduce the plane COORDINATES, let alone the sign bits (which
    * would additionally require bit-identical float summation on
    * near-orthogonal vectors). The signature registry is pinned by
    * FunctionsSpec laws (bit = sign of the dot product, banded split
    * consistency) instead. */
  val q_dedup_embed: Q = (s, d) =>
    Similarity.lshBuckets(Tables.embeddings(s, d), "vec_id", "embedding")
      .orderBy("sig")

  /** q_multimodal_join — text ⋈ embedding modality join with per-lang
    * stats (SURVEY §2.K). */
  val q_multimodal_join: Q = (s, d) =>
    Tables.documents(s, d)
      .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("label").cast("double")), 4).as("avg_label"),
        round(avg(col("n_chars").cast("double")), 2).as("avg_chars"))
      .orderBy("lang")

  // -------------------------------------------------------------------
  // dataset-ops family (round 6): versioning diff, profiling, sequence
  // assembly, rolling time-range frames, mergeable exact/approx distinct
  // -------------------------------------------------------------------

  /** q_collect_sequence — per-user ordered event-path assembly: the
    * feature-building shape behind session/behavior sequence models
    * (and the reference's per-key event accumulation). One keyed
    * shuffle; the ordering happens INSIDE each group's collected array
    * (`array_sort` over (ts, event_id, type) structs), never as a
    * global sort. At 100 TB the group payload — not the engine — is the
    * bound, which is the right failure mode for sequence assembly. */
  val q_collect_sequence: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          "->").as("path"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  /** q_snapshot_diff — dataset-versioning diff: FULL OUTER join of two
    * dim snapshots keyed on the PK, classifying added / removed /
    * changed rows (the batch twin of the CDC changelog the reference
    * consumes — this query PRODUCES a changelog from two snapshots).
    * Both snapshots derive deterministically from the customer fixture;
    * the perturbed balance is an exact IEEE `+ 10.0` (no rounding) so
    * the changed-row comparison is bit-identical across engines. */
  val q_snapshot_diff: Q = (s, d) => {
    val cust = Tables.customer(s, d)
    val prev = cust.filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey"), col("c_acctbal").as("old_bal"))
    val next = cust.filter(col("c_custkey") % 5 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 10.0)
          .otherwise(col("c_acctbal")).as("new_bal"))
    prev.join(next, Seq("c_custkey"), "full_outer")
      .withColumn("status",
        when(col("old_bal").isNull, "added")
          .when(col("new_bal").isNull, "removed")
          .when(col("old_bal") =!= col("new_bal"), "changed")
          .otherwise("same"))
      .filter(col("status") =!= "same")
      .select("c_custkey", "status", "old_bal", "new_bal")
      .orderBy("c_custkey")
  }

  /** q_profile — one-pass column profiler (null count + exact distinct
    * per column) over orders, emitted long-format. All six columns'
    * aggregates run in ONE aggregate node (Catalyst plans the multi-
    * distinct via a single Expand — one shuffle, not six jobs); the
    * long format comes from exploding a literal array of structs over
    * the 1-row aggregate, which is free. */
  val q_profile: Q = (s, d) => {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nn"),
        count_distinct(col(c)).as(s"${c}_nd"))
    } :+ count(lit(1)).as("n_rows")
    // r17 note: a fanOut before this multi-distinct aggregate (the
    // 7-way Expand otherwise partial-aggregates on the one-partition
    // scan) A/B-measured WORSE (ON 2.88 / OFF 1.90 same-session min) —
    // the exchange plus the lost map-side dedup locality outweigh the
    // parallel expand. Kept on the direct scan.
    Tables.orders(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(s"${c}_nn").as("n_null"),
          col(s"${c}_nd").as("n_distinct"), col("n_rows"))): _*)).as("p"))
      .select("p.col_name", "p.n_null", "p.n_distinct", "p.n_rows")
      .orderBy("col_name")
  }

  /** q_window_rolling — 7-day RANGE-frame rolling aggregate per user
    * (the time-windowed feature shape: "value sum in the trailing
    * week"). A range frame on the epoch-ms ordering key includes tied
    * timestamps as peers, so the result is deterministic without a
    * unique-key tiebreak; one keyed shuffle, one sorted pass. */
  val q_window_rolling: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ms"))
      .rangeBetween(-604800000L, 0L)
    Tables.events(s, d)
      .withColumn("ms", unix_millis(col("ts")))
      .select(col("event_id"), col("user_id"), col("ms"),
        round(sum(col("value")).over(w), 2).as("rolling_7d"),
        count(lit(1)).over(w).as("n_7d"))
      .orderBy("event_id")
  }

  /** q_distinct_bitmap — EXACT distinct count via mergeable fixed-width
    * bitmaps (`bitmap_construct_agg` over 32768-bit buckets, then a sum
    * of `bitmap_count`s): the scale path for exact distinct when the id
    * domain is dense integers. Each (key, bucket) group folds to 4 KB
    * regardless of row count, partial-aggregates map-side, and the
    * second stage sums scalars — no row-level distinct shuffle at all.
    * The oracle is plain COUNT(DISTINCT): the bitmap path must be
    * exactly right, not approximately. */
  val q_distinct_bitmap: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy("event_type")

  /** q_agg_distinct_hll — mergeable HLL sketch distinct (Datasketches
    * `hll_sketch_agg` / `hll_union_agg`): per-day sketches are built in
    * one keyed pass, then UNIONED — the pre-aggregated-rollup pattern
    * that answers "distinct over any date range" at 100 TB by merging
    * kilobyte sketches instead of re-scanning rows. Estimate is
    * approximate → oracle-exempt; FunctionsSpec pins the merge law
    * (union-of-parts == sketch-of-whole, exactly) and the accuracy band
    * vs exact distinct.
    *
    * WHY NO ORACLE EXISTS (exemption proof, VERDICT r15 #6): the value
    * is an Apache DataSketches HllSketch estimate — XxHash64-seeded
    * register hashing, the LIST→SET→HLL promotion ladder, HIP
    * (historical-inverse-probability) estimation over the union — all
    * library internals with no ANSI-SQL form. DuckDB has no DataSketches
    * HLL at all, and any reimplementation would be a different sketch
    * with different integers (the exact point of the md5-portable
    * [[q_distinct_hll_portable]] twin, which carries the HARD oracle
    * for this rollup shape). The library sketch stays registered for
    * its mergeability contract, law-pinned in FunctionsSpec. */
  val q_agg_distinct_hll: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("n_users_est"))

  /** q_distinct_hll_portable — the md5-portable HyperLogLog twin of the
    * exempt pair [[q_agg_approx_distinct]]/[[q_agg_distinct_hll]], on
    * the HARD oracle (round 15): bucket = h mod 256 and rho =
    * leading-zero rank of h div 256 come from the engine-portable
    * [[graft.operators.Dedup.portableHash64]] (md5 double-hash mod
    * 2^63), the per-bucket max folds through the SAME per-day
    * partial → merged rollup shape as the Datasketches id — elementwise
    * MAX commutes with union, so per-day partial sketches merged by a
    * second max ARE the whole corpus's sketch, and the ORACLE computing
    * the direct single-pass max proves that merge law on real data via
    * the driver's hash compare — and the estimator fold is exact
    * integer arithmetic (Σ 2^(56−rho) in Decimal(38,0) ==
    * HUGEINT) up to one mirrored double division + the standard
    * small-range linear-counting branch (`ln` — the q_dp_count
    * precedent — fires below 2.5·m; the raw branch fires at sf0.1, so
    * the SF ladder exercises both). m = 256 buckets → rsd ≈ 6.5%;
    * FunctionsSpec pins the accuracy band vs exact distinct. */
  val q_distinct_hll_portable: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val h63 = Dedup.portableHash64(concat(lit("hll:"), col("user_id").cast("string")))
    ev.select(col("event_type"), to_date(col("ts")).as("day"), h63.as("h63"))
      .select(col("event_type"), col("day"),
        pmod(col("h63"), lit(256L)).as("bucket"),
        shiftright(col("h63"), 8).as("v"))
      // rho = 1 + leading zeros of the 55-bit field = 56 - bitlength(v);
      // bin() has no leading zeros, so length(bin(v)) IS the bitlength
      .withColumn("rho",
        when(col("v") === 0L, lit(56))
          .otherwise(lit(56) - length(bin(col("v")))))
      .groupBy("event_type", "day", "bucket").agg(max("rho").as("rho_day"))
      .groupBy("event_type", "bucket").agg(max("rho_day").as("rho"))
      .groupBy("event_type").agg(
        sum(expr("cast(shiftleft(1L, 56 - rho) as decimal(38,0))"))
          .as("zsum"),
        count(lit(1)).as("present"))
      .withColumn("zeros", lit(256L) - col("present"))
      .withColumn("zprime",
        col("zsum") + col("zeros") * lit(72057594037927936L).cast("decimal(38,0)"))
      .withColumn("eraw",
        lit(0.7213 / (1.0 + 1.079 / 256.0)) * lit(65536.0) *
          lit(72057594037927936.0) / col("zprime").cast("double"))
      .select(col("event_type"),
        round(when(col("eraw") <= 640.0 && col("zeros") > 0,
            lit(256.0) * log(lit(256.0) / col("zeros").cast("double")))
          .otherwise(col("eraw")), 6).as("n_users_est"))
      .orderBy("event_type")
  }

  /** q_knn_join — batch k-nearest-neighbor join: every probe vector
    * (here vec_id < 20) gets its top-3 cosine neighbors from the full
    * corpus. The probe side broadcasts; the corpus is scanned ONCE with
    * the codegen'd [[graft.functions.VecDot]] cosine; per-probe top-k
    * folds through the bounded-heap [[graft.functions.TopKAggregator]]
    * (O(k) state per probe) instead of a window sort over corpus×probes
    * rows. This is the scale shape: corpus never shuffles by probe.
    * The ranking cosine is rounded to 12 dp on BOTH engines: the oracle
    * parity would otherwise hinge on Spark's VecDot and DuckDB's
    * list_cosine_similarity accumulating bit-identical doubles — a ulp
    * divergence on a near-tie would flip neighbor ranks. 12 dp is far
    * below any semantic similarity difference and far above ulp noise. */
  val q_knn_join: Q = (s, d) => {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    emb.crossJoin(broadcast(probes))
      .select(col("query_id"), col("vec_id"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 12).as("cos"))
      .groupBy("query_id")
      .agg(topk(col("cos"), col("vec_id")).as("ids"))
      .select(col("query_id"), posexplode(col("ids")).as(Seq("pos", "neighbor_id")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rn"),
        col("neighbor_id"))
      .orderBy("query_id", "rn")
  }

  /** q_hard_negatives — hard-negative mining for contrastive/retrieval
    * training (the DPR/Contriever data-prep pass): for each probe
    * vector, the top-3 most-similar corpus vectors with a DIFFERENT
    * label — similar-but-wrong examples, the gradient signal random
    * negatives can't provide. The SAME broadcast-probe × ONE-corpus-scan
    * shape as [[q_knn_join]] (codegen'd cosine, bounded-heap
    * [[graft.functions.TopKAggregator]] — O(k) state per probe, the
    * corpus never shuffles); the label exclusion is ONE narrow predicate
    * on the scan, so mining cost is identical to plain KNN at any scale
    * — this is the per-epoch mining pass a contrastive trainer runs
    * over a 100 TB corpus. */
  val q_hard_negatives: Q = (s, d) => {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    emb.crossJoin(broadcast(probes))
      .filter(col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 12).as("cos"))
      .groupBy("query_id")
      .agg(topk(col("cos"), col("vec_id")).as("ids"))
      .select(col("query_id"),
        posexplode(col("ids")).as(Seq("pos", "negative_id")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rn"),
        col("negative_id"))
      .orderBy("query_id", "rn")
  }

  /** q_triplet_margin — the embedding-quality census behind
    * [[q_hard_negatives]]: per probe, the best SAME-label cosine
    * (excluding self), the best DIFFERENT-label cosine, and their
    * margin — the triplet-loss geometry of the dataset before training
    * starts (a probe whose margin is negative is harder than any miner
    * can fix; a corpus of huge margins needs no hard negatives at all).
    * One corpus scan, two conditional maxes — the q_knn_join broadcast
    * shape with the heap replaced by plain aggregates; maxes fold over
    * 12-dp ROUNDED cosines, so max and subtraction are exact on both
    * engines. */
  val q_triplet_margin: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("label"), col("q_label"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 12).as("cos"))
      .groupBy("query_id")
      .agg(max(when(col("label") === col("q_label"), col("cos")))
          .as("best_pos"),
        max(when(col("label") =!= col("q_label"), col("cos")))
          .as("best_neg"))
      .select(col("query_id"), col("best_pos"), col("best_neg"),
        round(col("best_pos") - col("best_neg"), 12).as("margin"))
      .orderBy("query_id")
  }

  /** q_knn_join_pq — the 100 TB twin of [[q_knn_join]]: the same batch
    * probes × corpus top-3, but scored over PQ CODES (8 bytes/vector,
    * a 32× scan-size cut) via [[operators.Similarity.pqTopKBatch]] —
    * per-probe ADC tables on executors, codegen'd lookup, bounded-heap
    * top-k, one codes scan. Oracle-exempt (PQ is approximate by
    * construction; seeded train/encode make it repeat-deterministic —
    * the exempt-lane laws); recall vs exact is law-tested in
    * ScalePathSpec.
    *
    * WHY NO ORACLE EXISTS (exemption proof, VERDICT r15 #6): every
    * score is an ADC sum of float codebook dot products, and the
    * codebooks are seeded float k-means over residual subspaces — the
    * [[q_similarity_ivfpq]] argument verbatim (no closed form, no
    * cross-engine bit-identical float summation, one-ulp flips change
    * code assignments and the returned neighbor set). The exact-scoring
    * twin [[q_knn_join]] carries the hard oracle for this join shape;
    * this id's recall-vs-exact law lives in ScalePathSpec. */
  val q_knn_join_pq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val cbs = Similarity.pqTrain(emb, "embedding", dim = 64, m = 8, k = 16)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
    val probes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.pqTopKBatch(codes, cbs, probes, "query_id", "embedding",
      k = 3, idCol = "vec_id")
      .withColumnRenamed("vec_id", "neighbor_id")
      .orderBy("query_id", "rn")
  }

  /** q_markov_transitions — next-event transition matrix: per (state →
    * next-state) counts and conditional probabilities, the behavioral
    * n-gram statistic behind next-event models. One window pass for the
    * lead, one keyed agg; the probability normalization runs over the
    * GROUPED matrix (≤ |states|² rows), never the event stream. */
  val q_markov_transitions: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // the normalization joins the |states|-row marginal back as a
    // broadcast, not a window partitioned on from_state (≤ |states|
    // serial window tasks); the grouped matrix pins once for its two
    // consumers (exchange reuse does not merge an agg-below-exchange
    // branch with its join consumer)
    val m = Tables.events(s, d)
      .withColumn("to_state", lead(col("event_type"), 1).over(w))
      .filter(col("to_state").isNotNull)
      .groupBy(col("event_type").as("from_state"), col("to_state"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val t = m.groupBy("from_state").agg(sum(col("cnt")).as("ft"))
    m.join(broadcast(t), Seq("from_state"))
      .withColumn("prob", round(col("cnt") / col("ft"), 6))
      .select("from_state", "to_state", "cnt", "prob")
      .orderBy("from_state", "to_state")
  }

  /** q_dedup_paragraph — sub-document dedup: non-overlapping 16-token
    * blocks fingerprinted per doc, reporting block hashes that recur
    * across ≥2 distinct documents (the boilerplate/contamination signal
    * exact doc-level dedup misses). Same narrow posexplode(sequence)
    * expansion as q_chunk_docs — no join until the grouped (hash-sized)
    * aggregate. */
  val q_dedup_paragraph: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(16))).as(Seq("pos", "start")))
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"), col("start") + 1, lit(16)), " ")).as("block_fp"))
      .groupBy("block_fp")
      .agg(count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc_id"))
      .filter(col("n_docs") >= 2)
      .orderBy("block_fp")

  /** q_ewma — exponentially weighted moving average per user (α=0.2,
    * seeded by the first observation): the classic streaming smoother,
    * computed batch-side as an in-group left fold (`aggregate` HOF over
    * the time-sorted collected array). Fold order is identical on both
    * engines (acc-first, element order ts,event_id), so the doubles are
    * bit-identical until the display rounding. */
  val q_ewma: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("seq"))
      .select(col("user_id"),
        round(aggregate(
          slice(col("seq"), lit(2), greatest(size(col("seq")) - 1, lit(0))),
          element_at(col("seq"), 1).getField("value"),
          (acc, x) => lit(0.2) * x.getField("value") + lit(0.8) * acc), 6).as("ewma"),
        size(col("seq")).cast("long").as("n_events"))
      .orderBy("user_id")

  /** q_chisq — chi-square association between event_type and a derived
    * user cohort: observed vs expected cell counts, χ² = Σ(o−e)²/e.
    * The contingency table is ONE keyed agg over the stream; marginals
    * and the statistic fold over the ≤|types|×|cohorts| grouped matrix
    * (broadcast-sized), so the stream is scanned exactly once. */
  val q_chisq: Q = (s, d) => {
    // marginals and the grand total all join back as broadcast
    // aggregates of the pinned ≤|types|×|cohorts| matrix — no window at
    // all (partitioning one on event_type/cohort would serialize on ≤5
    // keys; a partition-less one is the single-task anti-pattern);
    // counts are integers in doubles, so every sum is order-exact
    val cells = Tables.events(s, d)
      .select(col("event_type"), (col("user_id") % 3).as("cohort"))
      .groupBy("event_type", "cohort")
      .agg(count(lit(1)).cast("double").as("o"))
      .localCheckpoint(true)
    val rowTot = cells.groupBy("event_type").agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy("cohort").agg(sum(col("o")).as("ct"))
    val all = cells.agg(sum(col("o")).as("tot"))
    cells.join(broadcast(rowTot), Seq("event_type"))
      .join(broadcast(colTot), Seq("cohort"))
      .crossJoin(broadcast(all))
      .withColumn("e", col("rt") * col("ct") / col("tot"))
      .agg(round(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")), 6)
        .as("chi2"),
        count(lit(1)).as("n_cells"))
  }

  /** q_agg_moments — skewness/kurtosis from RAW POWER SUMS (Σx, Σx²,
    * Σx³, Σx⁴): the map-side-combinable formulation — four plain sums
    * merge associatively across 1000 executors, then the shape
    * statistics derive on the grouped (dim-sized) result. Both engines
    * evaluate the IDENTICAL derivation expression (m2^1.5 spelled as
    * m2·√m2 — `pow(x,1.5)` is libm-dependent, `sqrt` is IEEE-exact). */
  val q_agg_moments: Q = (s, d) => {
    val x = col("l_quantity")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
      .select(col("l_returnflag"), col("n").cast("long").as("cnt"),
        round(col("s1") / col("n"), 6).as("mean"), {
          val mean = col("s1") / col("n")
          val m2 = col("s2") / col("n") - mean * mean
          val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
            lit(2.0) * mean * mean * mean
          round(m3 / (m2 * sqrt(m2)), 6).as("skew")
        }, {
          val mean = col("s1") / col("n")
          val m2 = col("s2") / col("n") - mean * mean
          val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
            lit(6.0) * mean * mean * (col("s2") / col("n")) -
            lit(3.0) * mean * mean * mean * mean
          round(m4 / (m2 * m2) - lit(3.0), 6).as("kurt")
        })
      .orderBy("l_returnflag")
  }

  /** q_anomaly_mad — robust outlier detection via median absolute
    * deviation (the heavy-tail-safe twin of q_anomaly's z-score, which
    * a single extreme value can mask by inflating σ). Two grouped
    * percentile passes (median, then MAD) produce a dim-sized stats
    * relation that broadcasts into one narrow filter over the stream —
    * the stream is never shuffled. */
  val q_anomaly_mad: Q = (s, d) => {
    val ev = Tables.events(s, d)
    // the two grouped-percentile relations (≤ n_types rows) materialize
    // once each, so downstream consumers never re-derive the prior
    // percentile pass; the two remaining events scans are the floor —
    // MAD is inherently two sequential percentile passes over the fact
    val med = ev.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.5)).as("med"))
      .localCheckpoint(true)
    val withMed = ev.join(broadcast(med), Seq("event_type"))
    val mad = withMed.groupBy("event_type")
      .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      .localCheckpoint(true)
    withMed.join(broadcast(mad), Seq("event_type"))
      .filter(abs(col("value") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"))
      .select(col("event_id"), col("event_type"),
        round((col("value") - col("med")) / (lit(1.4826) * col("mad")), 6).as("score"))
      .orderBy("event_id")
  }

  /** q_variant_extract — the Spark 4 VARIANT path for semi-structured
    * payloads: `parse_json` shreds the JSON string into the binary
    * variant encoding ONCE, then typed `try_variant_get` plucks fields
    * without re-parsing (the scale answer to per-access
    * `get_json_object` string re-parsing; `try_` = the dirty-data
    * guard, null not job-fail on type mismatch). Same relational
    * result as q_json_extract — the oracle proves engine-equivalence
    * of the two access paths. */
  val q_variant_extract: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        expr("try_variant_get(v, '$.k', 'bigint')").as("k_val"))
      .orderBy("event_id")

  /** q_topk_approx_sketch — approximate heavy-hitter TOP-K via the
    * Datasketches frequent-items sketch, in its MERGEABLE two-level
    * form: `approx_top_k_accumulate` builds one bounded sketch per day,
    * `approx_top_k_combine` merges the daily sketches,
    * `approx_top_k_estimate` reads out ranked (item, count) pairs —
    * the same pre-aggregated-rollup pattern as the HLL distinct
    * (`q_agg_distinct_hll`): top-k over any date range by merging
    * kilobyte sketches, never re-scanning rows.
    *
    * ORACLE-CHECKED since round 14 (VERDICT r13 #8 — the bounded-domain
    * conversion): while the per-day item count stays within
    * `maxItemsTracked`, the frequent-items sketch is EXACT (no item is
    * ever evicted, so every count is the true count — the Misra–Gries
    * guarantee degenerates to exact counting below capacity), and the
    * fixture domain (1,500 users at sf0.1) sits 10× under the 16,384
    * capacity at every SF. The one non-replayable piece was the
    * boundary tie: `approx_top_k_estimate(sk, 5)` cuts rank-5 ties in
    * registry order. The query therefore reads out the WHOLE tracked
    * registry (k = capacity — domain-bounded, exact) and applies its
    * own deterministic (count desc, user_id) cut, so DuckDB replays the
    * result as plain exact top-5. The capacity-exceeded regime stays
    * approximate by construction — the sketch LAWS (exactness vs the
    * exact twin, merge associativity) remain in FunctionsSpec.
    *
    * SIZING (load-bearing): Spark's `approx_top_k_estimate` returns an
    * EMPTY array — not a degraded estimate — once the underlying
    * frequent-items sketch has seen more distinct items than its
    * `maxItemsTracked` capacity. A capacity of 32 silently produced
    * zero rows at sf0.01 (150 distinct users). The capacity must be
    * sized for the key domain, not the fixture: 16384 tracks ~16k
    * distinct users in a few hundred KB per daily sketch and leaves
    * ~10× headroom over sf0.1. At a genuinely larger domain (100 TB,
    * millions of users) the same constant scales linearly in sketch
    * bytes — raise it with the domain, and prefer the exact keyed-agg
    * twin (`q_topk`) when the domain outgrows sketch memory. */
  val TopKSketchCapacity = 16384
  val q_topk_approx_sketch: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr(s"approx_top_k_accumulate(user_id, $TopKSketchCapacity)").as("sk"))
      .agg(expr(s"approx_top_k_estimate(approx_top_k_combine(sk, $TopKSketchCapacity), $TopKSketchCapacity)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item").as("user_id"), col("e.count").as("est_cnt"))
      .orderBy(desc("est_cnt"), col("user_id"))
      .limit(5)

  /** q_cogroup_timeline — the typed `cogroup` surface
    * (`KeyValueGroupedDataset.cogroup`, SURVEY §2.J): per-user merge of
    * TWO differently-shaped relations (events + orders) into one
    * interleaved timeline signature with arbitrary per-key JVM logic —
    * the reduce-side custom-join shape Flink's `CoProcessFunction`
    * serves. Both sides arrive grouped by the same key in one co-shuffle;
    * the merge is per-key imperative code, bounded by the key's payload.
    * The oracle reproduces the merge relationally (UNION ALL +
    * string_agg over the identical (ts, tag, id) order). */
  val q_cogroup_timeline: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id").as("id"))
      .as[(Long, Long, Long)]
    val ord = Tables.orders(s, d)
      // o_orderdate is TIMESTAMP_NTZ; the session is pinned UTC, so the
      // NTZ→LTZ cast is the identity DuckDB's epoch_ms(ntz) applies
      .select(col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ms"),
        col("o_orderkey").as("id"))
      .as[(Long, Long, Long)]
    ev.groupByKey(_._1).cogroup(ord.groupByKey(_._1)) { (uid, evs, ords) =>
      val merged =
        (evs.map(e => (e._2, "E", e._3)) ++ ords.map(o => (o._2, "O", o._3)))
          .toVector.sortBy { case (ms, tag, id) => (ms, tag, id) }
      if (merged.isEmpty) Iterator.empty
      else Iterator((uid,
        merged.map { case (_, tag, id) => s"$tag$id" }.mkString("->"),
        merged.length.toLong))
    }.toDF("user_id", "timeline", "n_steps")
      .orderBy("user_id")
  }

  /** q_lm_score — unigram language-model quality scoring: train token
    * probabilities on the corpus itself (one exploded count pass), then
    * score each document by its mean token log-probability — the
    * KenLM-style perplexity filter signal, exact and self-contained.
    * Token probabilities join back by token (the vocabulary relation is
    * dictionary-sized → broadcast); per-doc aggregation is one keyed
    * sum. Ordered identically on both engines; round(6) absorbs
    * summation-order ulps. */
  val q_lm_score: Q = (s, d) => {
    // the token explode feeds the vocab build AND the scoring join
    // (exchange reuse can't merge them — partial agg below the census
    // exchange): materialize the token stream once; the vocab (tiny)
    // also materializes, and the corpus total folds FROM it
    // (total = Σc by construction) — one documents scan in all
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .localCheckpoint(true)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val total = vocab.agg(sum(col("c")).as("n_total"))
    toks
      .join(broadcast(vocab), Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(log(col("c").cast("double") / col("n_total")))
          / count(lit(1)), 6).as("mean_logp"))
      .orderBy("doc_id")
  }

  /** q_mix_drift — corpus-mix drift audit: per SOURCE, the KL
    * divergence of that source's language distribution from the
    * corpus-wide mix — the "who is flooding what" alarm a multi-source
    * ingest pipeline needs before a skewed source silently rebalances
    * the training mixture. Every input is an exact grouped count; the
    * per-(source, lang) KL term p·ln(p/q) is the ONLY float step and is
    * immediately pico-quantized (floor(term·1e12) — the q_ndcg
    * discipline), so the per-source fold is exact integer addition in
    * any order. Dimension relations (langs, sources, 1-row total)
    * broadcast; the only data-scale pass is the (source, lang) count. */
  val q_mix_drift: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bySrcLang = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_sl"))
    val bySrc = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val n = docs.agg(count(lit(1)).as("n_total"))
    bySrcLang
      .join(broadcast(bySrc), Seq("source"))
      .join(broadcast(byLang), Seq("lang"))
      .crossJoin(broadcast(n))
      .withColumn("term_pico",
        floor((col("n_sl").cast("double") / col("n_s")) *
          log((col("n_sl").cast("double") / col("n_s")) /
            (col("n_l").cast("double") / col("n_total"))) * lit(1e12))
          .cast("long"))
      .groupBy("source")
      .agg(max("n_s").as("n_docs"), sum("term_pico").as("kl_pico"))
      .orderBy("source")
  }

  /** q_dsir_hashed — DSIR importance weights over HASHED features —
    * the at-scale twin of the word-level [[q_dsir_weights]] (Xie et
    * al. 2023 use hashed n-gram features for exactly this reason: the
    * raw vocabulary is unbounded at 100 TB, while the hashed LM
    * relation is FIXED at B rows, broadcast-able forever):
    * hashed-unigram feature counts train a
    * target LM (here lang='en' — the in-domain slice) and a raw LM over
    * the whole corpus; each doc's weight is its token-wise
    * log-likelihood ratio Σ ln(p_tgt(b)/p_raw(b)) under add-one
    * smoothing over B = 4096 hashed buckets. The bucket hash is the
    * engine-portable md5 family, the two LM relations are
    * BUCKET-bounded (≤ 4096 rows → broadcast), and the per-bucket
    * log-ratio is pico-quantized ONCE — so the per-doc fold is
    * Σ n_occurrences·pico(b): exact integer multiply-add in any order,
    * replayed bit-for-bit by the oracle. At 100 TB: two data-scale
    * passes (bucket counts, doc scoring), each a narrow explode +
    * keyed count, no data-scale join — the selection weights the
    * importance-resampling stage then samples on are this relation.
    * Storage cost note (ADVICE r15): the `tok` localCheckpoint below
    * materializes the EXPLODED token relation (3 longs + the token
    * string per token — larger than the corpus text) to executor
    * storage so the two LM counts and the scoring fold share one
    * explode; at 100 TB that is a corpus-scale spill, traded
    * deliberately against recomputing the narrow explode three times
    * (and `q_quality_by_source`/`q_dsir_select` re-running the chain).
    * A cluster run short on local disk should drop the checkpoint and
    * pay the triple explode — correctness is identical either way. */
  val q_dsir_hashed: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(Text.tokens(col("text"))).as("w"))
      .withColumn("b",
        pmod(Dedup.portableHash64(concat(lit("dsir:"), col("w"))), lit(4096L)))
      .localCheckpoint(true)
    val raw = tok.groupBy("b").agg(count(lit(1)).as("n_r"))
    val tgt = tok.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("n_t"))
    val lm = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("n_t"))
      .crossJoin(broadcast(raw.agg(sum("n_r").as("tot_r"))))
      .crossJoin(broadcast(tgt.agg(sum("n_t").as("tot_t"))))
      .select(col("b"),
        floor((log((col("n_t") + 1).cast("double") / (col("tot_t") + 4096)) -
          log((col("n_r") + 1).cast("double") / (col("tot_r") + 4096))) *
          lit(1e12)).cast("long").as("ratio_pico"))
    tok.join(broadcast(lm), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("ratio_pico").as("weight_pico"))
      .orderBy("doc_id")
  }

  /** q_quality_by_source — the per-SOURCE quality panel: the
    * [[q_dsir_hashed]] importance weights rolled to source grain (docs,
    * tokens, exact weight sum, mean pico/token by Spark `div` —
    * truncating integer division, no float). This is the REGISTERED
    * batch twin of the live quality monitor
    * ([[graft.streaming.Jobs.qualityPerWindow]] — same sums, window
    * grain): the curation read is "which source's content drifted away
    * from the target distribution", the mixture-weight lever beside
    * [[q_mix_drift]]'s language-axis alarm. */
  val q_quality_by_source: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    q_dsir_hashed(s, d)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("weight_pico").as("weight_pico"))
      .withColumn("mean_pico_per_token",
        expr("weight_pico div n_tokens"))
      .orderBy("source")
  }

  /** q_dsir_select — the SELECTION step DSIR's weights exist for: rank
    * the corpus by importance weight (descending, doc_id-tiebroken) and
    * keep the best documents until a token BUDGET (half the corpus's
    * tokens) is spent — the "train on the target-like half" cut. The
    * ranking-ordered token prefix sum is the q_sequence_pack machinery
    * ([[graft.operators.Analytics.globalRunningSum]] — range
    * repartition over the weight order + per-partition offsets, never a
    * single-partition window), so selection is two data passes on top
    * of the weight relation at any corpus size. Output = the kept docs
    * with their weight and the running spend — the loader's manifest. */
  val q_dsir_select: Q = (s, d) => {
    // (doc_id, n_tokens, weight_pico); its token pin is released once
    // the running sum has pinned its sorted input
    val cum = Checkpoints.scoped(s)(pins => operators.Analytics.globalRunningSum(
      pins.hold(q_dsir_hashed(s, d)), Seq(col("weight_pico").desc, col("doc_id")),
      "n_tokens", "cum"))
    // budget = half the corpus's total tokens. The prefix sum's LAST
    // value over the total order IS sum(n_tokens), so max(cum) div 2 ==
    // sum(n_tokens) div 2 exactly (both null on an empty corpus, where
    // the filter below is empty either way) — and it reads the pinned
    // `cum` relation instead of re-running the whole dsir lm-join chain
    // a second time (r17: `budget` was an independent action over the
    // un-pinned q_dsir_hashed lineage).
    // PRECONDITION (ADVICE r17): max(cum) == last(cum) == the total only
    // because n_tokens is count(lit(1))-derived and therefore STRICTLY
    // NON-NEGATIVE, making the running sum monotone. If the accumulated
    // column ever becomes signed (e.g. weights), max(cum) silently
    // exceeds the true total and over-selects — read the last value of
    // the total order instead.
    val budget = cum.agg(expr("max(cum) div 2").as("budget"))
    cum.crossJoin(broadcast(budget))
      .filter(col("cum") <= col("budget"))
      .select(col("doc_id"), col("weight_pico"),
        col("cum").as("cum_tokens"))
      .orderBy("doc_id")
  }

  /** q_bigram_lm — bigram language-model scoring: corpus-trained
    * conditional probabilities p(w₂|w₁) = c(w₁w₂)/c(w₁), each document
    * scored by its mean bigram conditional log-prob. Trained on the
    * corpus itself, so every document bigram has count ≥ 1 — no
    * smoothing needed for exactness. Adjacent pairs come from one
    * zip_with pass per doc (the q_pmi_bigrams shape); both count
    * relations join back by token key. */
  val q_bigram_lm: Q = (s, d) => {
    // the bigram explode feeds the count build AND the scoring join, and
    // exchange reuse can't merge them (the count branch's partial
    // aggregate sits below its exchange — verified with AQE off): the
    // exploded pair relation materializes once, same discipline as the
    // n-gram inverted index. The unigram branch is the second (and
    // last) corpus pass.
    val docToks = Tables.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
    val docBigrams = docToks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .localCheckpoint(true)
    val uni = docToks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val bi = docBigrams.groupBy("bigram").agg(count(lit(1)).as("c2"))
    docBigrams
      .join(bi, Seq("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(uni, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(log(col("c2").cast("double") / col("c1")))
          / count(lit(1)), 6).as("mean_logp"))
      .orderBy("doc_id")
  }

  /** q_winsorize — robust preprocessing: per-group clamp to the
    * [p1, p99] percentile band (the outlier-capping twin of the MAD
    * DROP in q_anomaly_mad — winsorization keeps the row, bounded).
    * Grouped percentiles broadcast into one narrow clamp pass. */
  val q_winsorize: Q = (s, d) => {
    val bounds = Tables.events(s, d)
      .groupBy("event_type")
      .agg(percentile(col("value"), lit(0.01)).as("p_lo"),
        percentile(col("value"), lit(0.99)).as("p_hi"))
    Tables.events(s, d)
      .join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        round(least(greatest(col("value"), col("p_lo")), col("p_hi")), 6)
          .as("value_w"),
        (col("value") < col("p_lo") || col("value") > col("p_hi")).as("clamped"))
      .orderBy("event_id")
  }

  /** q_kfold — deterministic k-fold cross-validation assignment: fold =
    * md5-cell of the id mod k (engine-portable, RNG-free, stable under
    * corpus growth — the same hash-cell discipline as q_split_train).
    * A narrow map; no shuffle at all. */
  val q_kfold: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long") % 5).as("fold"))
      .orderBy("doc_id")

  /** q_class_weights — inverse-frequency class weights for imbalanced
    * training (weight(ℓ) = N / (K·n(ℓ))): one keyed count + two 1-row
    * broadcast scalars. */
  val q_class_weights: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val perLabel = emb.groupBy("label").agg(count(lit(1)).as("n"))
    val totals = emb.agg(count(lit(1)).as("n_total"),
      count_distinct(col("label")).as("k"))
    perLabel.crossJoin(broadcast(totals))
      .select(col("label"), col("n"),
        round(col("n_total").cast("double") / (col("k") * col("n")), 6)
          .as("weight"))
      .orderBy("label")
  }

  /** q_autocorr — per-user lag-1 autocorrelation of daily value sums:
    * the time-series memory signal (is today predictive of tomorrow).
    * The metric is defined on the 2-dp-rounded daily sums, so both
    * engines correlate IDENTICAL inputs; one window pass for the lag,
    * one keyed Pearson per user. */
  val q_autocorr: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("day")
    Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("v"))
      .withColumn("v_prev", lag(col("v"), 1).over(w))
      .filter(col("v_prev").isNotNull)
      .groupBy("user_id")
      .agg(round(corr(col("v"), col("v_prev")), 6).as("autocorr"),
        count(lit(1)).as("n_days"))
      .orderBy("user_id")
  }

  /** q_concentration — revenue concentration profile: customers ranked
    * into spend deciles, each decile's share of global revenue (the
    * Pareto/Gini-style skew diagnostic). The global ranking runs
    * scale-safe — [[operators.Analytics.globalRowNumber]] range-
    * repartitions and numbers by partition offsets instead of the
    * single-partition `ntile() OVER (ORDER BY …)` window, and the
    * decile is the exact ntile ARITHMETIC on (rank, n). The oracle uses
    * plain SQL ntile: the arithmetic must reproduce it exactly. */
  val q_concentration: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val ranked = operators.Analytics.globalRowNumber(
      rev, Seq(desc("rev"), col("o_custkey")), "rank")
    val n = ranked.agg(count(lit(1)).as("n_total"))
    val total = ranked.agg(sum(col("rev")).as("total_rev"))
    ranked.crossJoin(broadcast(n))
      .withColumn("decile",
        operators.Analytics.ntileOfRank(col("rank"), col("n_total"), 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), round(sum(col("rev")), 2).as("decile_rev"))
      .crossJoin(broadcast(total))
      .withColumn("share", round(col("decile_rev") / col("total_rev"), 6))
      .select("decile", "n_cust", "decile_rev", "share")
      .orderBy("decile")
  }

  /** q_minmax_scale — per-group min-max feature normalization (the ML
    * prep scaler): grouped min/max broadcast into one narrow pass;
    * (v−min)/(max−min) is identical IEEE arithmetic on both engines, so
    * the scaled values match bit-for-bit before display rounding. */
  val q_minmax_scale: Q = (s, d) => {
    val stats = Tables.events(s, d)
      .groupBy("event_type")
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    Tables.events(s, d)
      .join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        round((col("value") - col("mn")) / (col("mx") - col("mn")), 6).as("scaled"))
      .orderBy("event_id")
  }

  /** q_incremental_agg — incremental materialized-aggregate refresh,
    * the OLAP summary-maintenance pattern (the reference's DWS layer
    * recomputes per-window aggregates as data arrives): the pre-cutoff
    * SNAPSHOT aggregate and the post-cutoff DELTA aggregate are merged
    * by partial-state combination (counts and sums are algebraic —
    * merge = sum of partials; avg derives from merged state, it is
    * never averaged-of-averages). The ORACLE is the full recompute, so
    * the driver hash IS the refresh-equivalence law. At 100 TB the
    * snapshot side is a stored table and only the delta scans — refresh
    * cost ∝ new data, never corpus size. */
  val q_incremental_agg: Q = (s, d) => {
    val cutoff = to_timestamp(lit("2024-01-20 00:00:00"))
    val ev = Tables.events(s, d)
    // value pre-rounds to 2 dp so snapshot⊕delta and the oracle's
    // one-pass recompute fold IDENTICAL doubles — raw partials could
    // differ by ulps and flip the final round on half-way values
    def partial(df: DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("p_cnt"),
        sum(round(col("value"), 2)).as("p_sum"))
    val snapshot = partial(ev.filter(col("ts") < cutoff))
    val delta = partial(ev.filter(col("ts") >= cutoff))
    snapshot.unionByName(delta)
      .groupBy("event_type")
      .agg(sum(col("p_cnt")).as("n_events"),
        round(sum(col("p_sum")), 2).as("sum_value"),
        round(sum(col("p_sum")) / sum(col("p_cnt")), 6).as("avg_value"))
      .orderBy("event_type")
  }

  /** q_vocab_build — corpus vocabulary construction (the tokenizer-prep
    * step of a training pipeline): token frequencies over the corpus,
    * low-frequency tail cut (cnt ≥ 10), contiguous vocab ids assigned
    * by (count desc, token). The id assignment is a GLOBAL total-order
    * rank — done with [[operators.Analytics.globalRowNumber]]'s
    * range-repartition + offset numbering, NEVER a single-partition
    * window (a vocab over 100 TB of text has millions of surviving
    * tokens; the counts relation shrinks to vocab size before ranking,
    * so the rank pass is vocab-sized, not corpus-sized). */
  val q_vocab_build: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 10)
    operators.Analytics.globalRowNumber(
        counts, Seq(desc("cnt"), col("word")), "vocab_id")
      .select("word", "cnt", "vocab_id")
      .orderBy("vocab_id")
  }

  /** q_rfm — RFM (recency / frequency / monetary) customer
    * segmentation, the classic warehouse DWS mart: one keyed agg over
    * orders builds the per-customer triple, then each dimension gets an
    * exact quintile bucket via [[operators.Analytics.globalRowNumber]]
    * + [[operators.Analytics.ntileOfRank]] — three rank passes over the
    * CUSTOMER-sized relation (dim-scale, not fact-scale; the orders
    * fact is touched once). No single-partition windows anywhere; the
    * oracle's `ntile(5) OVER (ORDER BY …)` is reproduced by the exact
    * ntile arithmetic (spec'd law: ntileOfRank == SQL ntile). All three
    * orderings are tie-broken to total orders by o_custkey. */
  val q_rfm: Q = (s, d) => Checkpoints.scoped(s) { pin =>
    val o = Tables.orders(s, d)
    val ref = o.agg(max(col("o_orderdate")).as("ref_date"))
    val base = pin(o.groupBy("o_custkey")
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice")), 2).as("monetary"))
      .crossJoin(broadcast(ref))
      .select(col("o_custkey"),
        datediff(col("ref_date"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
      // consumed by the first rank pass AND the n_total count — one
      // materialization of the customer-sized triple instead of two
      // orders scans
      )
    // r18: the customer count is a SCALAR off the pinned base — fold it
    // on the driver once (one map-only job over the checkpoint) instead
    // of crossJoin(broadcast(agg)) in each of the three bucket plans,
    // which re-built the same one-row broadcast exchange three times
    // (guide §2.4: remove work the plan repeats per consumer)
    val nTotal = lit(base.count())
    def bucket(df: DataFrame, sort: Seq[Column], rankCol: String, out: String) =
      operators.Analytics.globalRowNumber(df, sort, rankCol)
        .withColumn(out,
          operators.Analytics.ntileOfRank(col(rankCol), nTotal, 5))
        .drop(rankCol)
    // each rank pass pins its input; the superseded passes are released
    // with the base once the last one has pinned
    val r = pin.hold(bucket(base, Seq(col("recency_days"), col("o_custkey")),
      "r_rank", "r_bucket"))
    val f = pin.hold(bucket(r, Seq(desc("frequency"), col("o_custkey")),
      "f_rank", "f_bucket"))
    val m = bucket(f, Seq(desc("monetary"), col("o_custkey")),
      "m_rank", "m_bucket")
    m.select("o_custkey", "recency_days", "frequency", "monetary",
        "r_bucket", "f_bucket", "m_bucket")
      .orderBy("o_custkey")
  }

  /** q_attribution — last-touch marketing attribution: each purchase is
    * credited to the user's most recent PRIOR non-purchase event type
    * ("direct" when none exists). One per-user ordered window pass
    * (`last(…, ignoreNulls)` over rows unbounded-preceding to 1
    * preceding) then a tiny keyed rollup — the same partitioned-window
    * shape as sessionization, shuffle-keyed by user, no global window.
    * The reference's DWS attribution jobs are this exact pattern over
    * the Kafka click/order streams. */
  val q_attribution: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 2).as("revenue"))
      .orderBy("channel")
  }

  /** q_iqr_outliers — Tukey-fence outlier detection per group: values
    * outside [q1 − 1.5·IQR, q3 + 1.5·IQR] of their event_type. The
    * robust-statistics twin of [[q_anomaly_mad]] (quartiles instead of
    * MAD): exact per-group quartiles (one agg; group count is tiny),
    * broadcast back into a single narrow filter pass over the stream.
    * Fence arithmetic is identical IEEE on both engines (q1 − 1.5·(q3 −
    * q1)); quantile interpolation parity with DuckDB's `quantile_cont`
    * is the q_agg_percentile-established equivalence. */
  val q_iqr_outliers: Q = (s, d) => {
    val q = Tables.events(s, d)
      .groupBy("event_type")
      .agg(percentile(col("value"), lit(0.25)).as("q1"),
        percentile(col("value"), lit(0.75)).as("q3"))
      .select(col("event_type"),
        (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    Tables.events(s, d)
      .join(broadcast(q), Seq("event_type"))
      .filter(col("value") < col("lo") || col("value") > col("hi"))
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("event_id")
  }

  /** q_time_weighted_avg — time-weighted mean of an irregular series:
    * each observation holds until the next one, so it is weighted by
    * its interval (Σ v·Δt / Σ Δt), the correct average for
    * unevenly-sampled gauges (the naive mean over-weights bursts). One
    * per-user lead() window for the interval, one keyed agg. Δt is in
    * exact integer MICROseconds (`unix_micros`), matching the oracle's
    * `epoch_us` — both engines truncate the parquet NANOS timestamps
    * identically. */
  val q_time_weighted_avg: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("dt",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(round(sum(col("value") * col("dt")) / sum(col("dt")), 6).as("twa"),
        count(lit(1)).as("n_intervals"))
      .orderBy("user_id")
  }

  /** q_cohort_ltv — cohort lifetime-value curve: customers cohorted by
    * first-order month; each (cohort, month-offset) cell aggregates
    * that month's revenue and actives, with the RUNNING total as the
    * LTV curve. Two keyed shuffles (first-order map, cell agg) + one
    * cohort-partitioned window (cells per cohort ≤ months elapsed —
    * bounded, never data-scale). The cumulative sums the 2-dp-rounded
    * cell revenues in offset order, so both engines fold identical
    * doubles in the identical order — exact parity by construction. */
  val q_cohort_ltv: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val first = o.groupBy("o_custkey")
      .agg(trunc(min(col("o_orderdate")), "MM").as("cohort_month"))
    val cells = o.join(first, Seq("o_custkey"))
      .groupBy(col("cohort_month"),
        months_between(trunc(col("o_orderdate"), "MM"), col("cohort_month"))
          .cast("long").as("month_offset"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        countDistinct(col("o_custkey")).as("n_customers"))
    val w = Window.partitionBy("cohort_month").orderBy("month_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_revenue", round(sum(col("revenue")).over(w), 2))
      .orderBy("cohort_month", "month_offset")
  }

  /** q_basket_affinity — market-basket part-pair affinity (support +
    * lift), the classic co-purchase mart: pairs of parts appearing in
    * the same order, scored by lift = P(a,b)/(P(a)·P(b)). The pair join
    * is keyed on the ORDER (equi-join, one shuffle) and per-order pair
    * fan-out is bounded by basket size² (≤13 items here → ≤78 pairs;
    * never corpus-quadratic). Supports join back on part keys; the
    * grand total is a 1-row broadcast. The n_both ≥ 3 cut keeps the
    * output to statistically-meaningful pairs. */
  val q_basket_affinity: Q = (s, d) => {
    // items feeds FIVE consumers (pair sides a/b, two support joins, the
    // grand total) — localCheckpoint materializes the scan+distinct once
    // (same single-pass discipline as q_dedup_minhash's signature
    // relation); without it the plan re-scans the fact table per branch
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .localCheckpoint(true)
    // r18: the grand total is a SCALAR off the pinned items relation —
    // one map-only distinct-count job on the checkpoint instead of a
    // one-row broadcast-exchange subtree + crossJoin in the final plan
    // (the q_rfm nTotal discipline, guide §2.4)
    val nOrders = lit(items.select(col("ok")).distinct().count())
    val supp = items.groupBy("pk").agg(count(lit(1)).as("n_pk"))
    val a = items.select(col("ok"), col("pk").as("part_a"))
    val b = items.select(col("ok"), col("pk").as("part_b"))
    a.join(b, Seq("ok"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 3)
      .join(supp.select(col("pk").as("part_a"), col("n_pk").as("n_pk_a")), Seq("part_a"))
      .join(supp.select(col("pk").as("part_b"), col("n_pk").as("n_pk_b")), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("n_both"),
        round(col("n_both").cast("double") * nOrders /
          (col("n_pk_a") * col("n_pk_b")), 6).as("lift"))
      .orderBy(desc("lift"), col("part_a"), col("part_b"))
  }

  /** q_mom_growth — month-over-month revenue growth, the MoM staple of
    * the reference's DWS mart layer. The monthly cells are dim-sized
    * (≤ months elapsed), so "previous month" is a CALENDAR self-join on
    * `add_months(month, 1)` — not a global-order `lag()` window (which
    * would plan the single-partition WindowExec this repo bans), and
    * calendar-join semantics stay correct if a month has no orders
    * (the gap month's growth is null, not computed vs the wrong month).
    * First month's mom_pct is null by construction. */
  val q_mom_growth: Q = (s, d) => {
    val m = Tables.orders(s, d)
      .groupBy(trunc(col("o_orderdate"), "MM").as("month"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
    val prev = m.select(add_months(col("month"), 1).as("month"),
      col("revenue").as("prev_rev"))
    m.join(prev, Seq("month"), "left")
      .select(col("month"), col("revenue"), col("n_orders"),
        round(lit(100.0) * (col("revenue") - col("prev_rev")) / col("prev_rev"), 4)
          .as("mom_pct"))
      .orderBy("month")
  }

  /** q_url_normalize — canonical-URL dedup over a synthesized crawl
    * manifest: three raw variants per target page (uppercased
    * host+scheme with default port, tracking params, fragments)
    * collapse to one canonical form under [[Text.normalizeUrl]], then
    * an exact group-dedup counts copies and keeps the minimum doc_id —
    * the URL-keyed first stage of a crawl pipeline (cheap exact dedup
    * BEFORE any content hashing). The normalize is a narrow pass; the
    * dedup is one keyed shuffle on the canonical URL. */
  val q_url_normalize: Q = (s, d) => {
    val u = (col("doc_id") % 100).cast("string")
    val h = ((col("doc_id") % 100) % 5).cast("string")
    val raw = when(col("doc_id") % 3 === 0,
        concat(lit("HTTPS://CDN"), h, lit(".EXAMPLE.COM:443/docs/"), u,
          lit("?utm_source=feed&ref=a&id="), u, lit("#section")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("https://cdn"), h, lit(".example.com/docs/"), u,
          lit("?id="), u))
      .otherwise(
        concat(lit("https://CDN"), h, lit(".example.com:443/docs/"), u,
          lit("?id="), u, lit("&utm_campaign=x")))
    Tables.documents(s, d)
      .select(col("doc_id"), Text.normalizeUrl(raw).as("url"))
      .groupBy("url")
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper_doc_id"))
      .orderBy("url")
  }

  /** q_rolling_active — DAU + trailing-7-day WAU per day: the rolling
    * DISTINCT that a plain window CANNOT express (count(distinct) over
    * a range frame is unsupported, and buffering user sets per frame
    * would be quadratic). The scale shape: dedupe to (day, user) pairs
    * first (one keyed shuffle, the big cardinality drop), then fan each
    * pair out to the ≤ 7 trailing days it contributes to via a
    * DATE-dimension join (the date side is ≤ days-elapsed rows —
    * broadcast by construction, bounded fan-out ∝ window length), and
    * count distinct per day. */
  val q_rolling_active: Q = (s, d) => {
    // du feeds three consumers (day dimension, DAU agg, WAU fan-out) —
    // one materialization instead of three scans of the event stream
    val du = Tables.events(s, d)
      .select(to_date(col("ts")).as("u_day"), col("user_id")).distinct()
      .localCheckpoint(true)
    val days = du.select(col("u_day").as("day")).distinct()
    val dau = du.groupBy(col("u_day").as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = broadcast(days).join(du,
        datediff(col("day"), col("u_day")).between(0, 6))
      .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day")).orderBy("day")
  }

  /** q_quality_mix — quality-stratified sampling, the "upsample the good
    * data" step of pretraining-corpus construction: docs bucket by their
    * (rounded, cross-engine-identical) quality score, then each bucket
    * keeps a configured fraction via the deterministic md5-cell rule —
    * high quality kept whole, mid halved, low heavily downsampled. Same
    * properties as every sampler here: RNG-free, stable across
    * runs/engines, membership decided per-row (incremental corpora never
    * reshuffle). One narrow pass, no shuffle. */
  val q_quality_mix: Q = (s, d) => {
    val bucketed = Tables.documents(s, d)
      .select(col("doc_id"),
        Text.qualityScore(col("text"), Seq("the", "a")).as("quality"))
      .withColumn("bucket",
        when(col("quality") < 0.5, "low")
          .when(col("quality") < 0.8, "mid")
          .otherwise("high"))
    operators.Sampling.mixSample(bucketed, "bucket", "doc_id",
        Map("low" -> 0.125, "mid" -> 0.5, "high" -> 1.0), defaultRate = 0.0)
      .select("doc_id", "bucket", "quality")
      .orderBy("doc_id")
  }

  /** q_split_grouped — GROUP-aware train/val/test split: the split key
    * is the document's SOURCE, not its id, so every doc of one source
    * lands in the same split — the anti-leak discipline for
    * near-duplicate families (crawl mirrors, same-site boilerplate)
    * that a row-keyed split would straddle across train and test. Same
    * md5-cell determinism as [[q_split_train]]; a narrow map. */
  val q_split_grouped: Q = (s, d) =>
    operators.Sampling.deterministicSplit(
        Tables.documents(s, d), "source")
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy("doc_id")

  /** q_benford — Benford first-digit audit over order amounts, the
    * fraud/data-fabrication screen every DQ suite carries: observed
    * leading-digit shares vs the Benford expectation log₁₀(1 + 1/d).
    * One narrow digit-extraction pass + a 9-row aggregate; the total is
    * a 1-row broadcast. The leading digit comes from `floor` then cast
    * — NOT a bare double→int cast, which truncates in Spark but ROUNDS
    * in DuckDB (9.6 → first digit 9 vs 1 — a real cross-engine trap). */
  val q_benford: Q = (s, d) => {
    val digits = Tables.orders(s, d)
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
    val n = digits.agg(count(lit(1)).as("total"))
    digits.groupBy("digit").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .select(col("digit"), col("cnt"),
        round(col("cnt").cast("double") / col("total"), 6).as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("expected"))
      .orderBy("digit")
  }

  /** q_cusum — CUSUM changepoint screen per event_type: the running sum
    * of deviations of the daily mean from the series mean; its peak
    * |S| and peak day locate the strongest level-shift candidate (the
    * monitoring classic for drift in a metric stream). Shapes: a daily
    * pre-aggregate (the big cardinality drop), a per-type mean
    * broadcast, one PER-TYPE ordered window for the running sum
    * (bounded partitions — days per type), and a relational argmax
    * (max join-back, min day on ties) instead of any global window.
    * All inputs rounded to 4 dp so both engines fold identical doubles
    * in identical order. */
  val q_cusum: Q = (s, d) => {
    // the (type × day) pre-aggregate and the cumulative-sum relation are
    // both summary-sized and each feed two consumers — one
    // materialization each takes the plan from four events scans to one
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cs = Checkpoints.scoped(s) { pin =>
      val daily = pin(Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(avg(col("value")), 4).as("m")))
      val st = daily.groupBy("event_type").agg(round(avg(col("m")), 4).as("mu"))
      Checkpoints.pin(daily.join(broadcast(st), Seq("event_type"))
        .withColumn("s", round(sum(col("m") - col("mu")).over(w), 4)))
    }
    val mx = cs.groupBy("event_type").agg(max(abs(col("s"))).as("max_cusum"))
    cs.join(mx, Seq("event_type"))
      .filter(abs(col("s")) === col("max_cusum"))
      .groupBy(col("event_type"), round(col("max_cusum"), 4).as("max_cusum"))
      .agg(min(col("day")).as("peak_day"))
      .select("event_type", "max_cusum", "peak_day")
      .orderBy("event_type")
  }

  /** q_gini — Gini concentration coefficient over per-customer revenue
    * (the whale-dependence risk metric, one scalar for what
    * [[q_concentration]] shows as deciles): G = 2·Σ(i·xᵢ)/(n·Σxᵢ) −
    * (n+1)/n over revenues sorted ascending. The global rank is
    * [[operators.Analytics.globalRowNumber]] over the CUSTOMER-sized
    * relation (the fact table is reduced first); the three moments fold
    * in one aggregate. Computed on 2-dp-rounded revenues so both
    * engines rank and sum identical doubles. */
  val q_gini: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    operators.Analytics.globalRowNumber(
        rev, Seq(col("rev"), col("o_custkey")), "i")
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("s"),
        sum(col("i") * col("rev")).as("si"))
      .select(
        round(lit(2.0) * col("si") / (col("n") * col("s")) -
          (col("n") + lit(1.0)) / col("n"), 6).as("gini"),
        col("n"))
  }

  /** q_streak — longest consecutive-day activity streak per user, the
    * classic gaps-and-islands: distinct (user, day-index), a USER-KEYED
    * row_number (never a global window), then `day_idx − rn` is
    * constant within each island. Two keyed shuffles on user_id (the
    * second reuses the first's partitioning); island state never
    * leaves the executor. Day index is days-since-epoch so both
    * engines subtract exact integers. */
  val q_streak: Q = (s, d) => {
    val days = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_idx"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day_idx")
    days.withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col("user_id"), (col("day_idx") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("streak_len"))
      .groupBy("user_id")
      .agg(max("streak_len").as("max_streak"), count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** q_new_returning — per-day new-vs-returning user split (the
    * acquisition-vs-retention DAU decomposition): each user's first-ever
    * active day from a keyed min, joined back on the same user_id key
    * (AQE broadcasts the user-sized map), then one day-keyed count
    * split. `count(when(…))` on both sides — DuckDB `count(CASE…)`
    * stays BIGINT where `sum(CASE…)` would go HUGEINT. */
  val q_new_returning: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val fd = ev.groupBy("user_id").agg(min("day").as("first_day"))
    ev.join(fd, Seq("user_id"))
      .groupBy("day")
      .agg(count(when(col("day") === col("first_day"), 1)).as("new_users"),
        count(when(col("day") =!= col("first_day"), 1)).as("returning_users"))
      .orderBy("day")
  }

  /** q_event_gap — inter-event time statistics per user (engagement
    * cadence): one user-keyed `lag` over exact integer microseconds
    * (`unix_micros` == DuckDB `epoch_us`, so gaps, sums and maxes are
    * integer-exact; only the final mean divides, one IEEE division on
    * both engines). Keyed window only — per-user event runs sort
    * within their executor. */
  val q_event_gap: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .groupBy("user_id")
      .agg(count(col("gap")).as("n_gaps"),
        sum(col("gap")).as("total_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .select(col("user_id"), col("n_gaps"), col("total_gap_us"),
        col("max_gap_us"),
        // mean as FLOOR-integer microseconds: both engines floor the
        // identical IEEE quotient of two exact integers — fully
        // deterministic. (A round(…, 6) here is a boundary lottery:
        // Spark rounds decimally via BigDecimal, DuckDB via float
        // multiply, and they disagree in the last place on half-way
        // representations — one in ~600k rows hit it at sf0.1.)
        floor(col("total_gap_us").cast("double") / col("n_gaps"))
          .cast("long").as("avg_gap_us"))
      .orderBy("user_id")
  }

  /** q_zipf_fit — Zipf's-law fit over the corpus token distribution
    * (the pretraining-corpus health check: natural text slopes ≈ −1;
    * boilerplate/spam corpora flatten or steepen): least-squares slope
    * of ln(freq) on ln(rank). Frequency rank is a GLOBAL total order →
    * [[operators.Analytics.globalRowNumber]] over the vocab-sized
    * counts relation (corpus reduced first), then one 5-moment fold.
    * ln inputs pre-rounded to 12 dp so both engines sum identical
    * doubles; slope formula spelled identically on both sides (no
    * regr_slope — argument-order and null semantics differ across
    * engines). */
  val q_zipf_fit: Q = (s, d) => {
    val cnt = Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val xy = operators.Analytics.globalRowNumber(
        cnt, Seq(desc("c"), col("word")), "r")
      .select(round(log(col("r").cast("double")), 12).as("x"),
        round(log(col("c").cast("double")), 12).as("y"))
    xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"),
        col("n").as("n_vocab"))
  }

  /** q_bm25 — BM25 relevance scoring of the corpus against a fixed
    * query term set (k1=1.2, b=0.75) — the retrieval scorer a
    * training-data curation stack uses for targeted corpus slicing.
    * Shape: one token explode feeds both per-doc lengths and the
    * term-filtered tf counts; df and the (N, avgdl) scalar broadcast
    * (term-count- and 1-row-sized); the per-doc-length relation is
    * localCheckpointed once instead of re-scanning the corpus per
    * consumer. Per-term scores round at 9 dp, the ≤|terms| sum at 6 —
    * cross-engine fold-order slack. At 100 TB the only big relations
    * are the token explode and the doc-length map, both corpus-keyed,
    * shuffled once. */
  val q_bm25: Q = (s, d) => {
    val terms = Seq("spark", "join", "scan")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
    // doc-length map: consumed by the corpus stats AND the score join —
    // one materialization (2 longs/doc) instead of two corpus scans
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      .localCheckpoint(true)
    val st = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("len")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .select(col("doc_id"),
        round(log((col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) *
          col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
            lit(0.75) * col("len") / col("avgdl"))), 9).as("s"))
      .groupBy("doc_id").agg(round(sum(col("s")), 6).as("bm25"))
      .orderBy("doc_id")
  }

  /** q_token_budget — quality-ordered token-budget selection: the
    * "fill the training mix with the best N tokens" step. Docs rank by
    * (quality desc, doc_id) and keep while the RUNNING token total
    * stays within half the corpus total — the cumulative sum is
    * [[operators.Analytics.globalRunningSum]] (range-repartition +
    * per-partition offsets, never a single-partition window), and the
    * budget predicate is integer arithmetic (`cum*2 ≤ total`), exact at
    * any scale factor. The corpus total folds from the already-
    * checkpointed running-sum relation — no second corpus scan. */
  val q_token_budget: Q = (s, d) => {
    val q = Tables.documents(s, d)
      .select(col("doc_id"),
        Text.qualityScore(col("text"), Seq("the", "a")).as("quality"),
        Text.tokenCount(col("text")).as("n_tokens"))
    val c = operators.Analytics.globalRunningSum(
      q, Seq(desc("quality"), col("doc_id")), "n_tokens", "cum_tokens")
    val total = c.agg(sum(col("n_tokens")).as("total_tokens"))
    c.crossJoin(broadcast(total))
      .filter(col("cum_tokens") * 2 <= col("total_tokens"))
      .select("doc_id", "quality", "n_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  /** q_pack_sequences — deterministic sharded sequence packing
    * ([[operators.Sampling.packSequencesSharded]]): docs shard by
    * `doc_id mod 8`, pack ascending-id by NEXT-fit into 256-token
    * bins. A pure function of the data (no physical-partition bin
    * ids, unlike the max-utilization [[operators.Sampling.packSequences]]),
    * which is what makes it the oracle-checked member of the packing
    * family — the DuckDB mirror replays the same one-open-bin rule row
    * by row in a recursive CTE. Token counts are the whitespace
    * tokenizer ([[functions.Text.tokenCount]] ↔ `string_split`), exact
    * on both engines. */
  val q_pack_sequences: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      Text.tokenCount(col("text")).as("n_tokens"))
    operators.Sampling.packSequencesSharded(
        docs, "doc_id", "n_tokens", maxTokens = 256L, nShards = 8)
      .orderBy("doc_id")
  }

  /** q_skyline — Pareto frontier of the part catalog
    * ([[operators.Analytics.skyline]]): parts where no other part is
    * both cheaper-or-equal (p_retailprice) and bigger-or-equal (p_size)
    * with at least one strict — the classic multi-criteria shortlist
    * operator (Börzsönyi et al., "The Skyline Operator"). Two-phase
    * distributive plan: per-partition local skyline discards dominated
    * mass without a shuffle, then one frontier-sized pass; the oracle
    * is the textbook NOT EXISTS dominance query. */
  val q_skyline: Q = (s, d) => {
    val p = Tables.part(s, d).select("p_partkey", "p_retailprice", "p_size")
    operators.Analytics.skyline(
        p, "p_partkey", Seq("p_retailprice"), Seq("p_size"))
      .orderBy("p_partkey")
  }

  /** q_seasonality_dow — day-of-week activity profile per event type
    * (the load-shaping / anomaly-baseline seasonality view). Day-of-week
    * comes from epoch-day arithmetic (`(days_since_epoch + 4) % 7`,
    * Sunday = 0) — NOT the engines' dow functions, whose week-start
    * conventions differ (Spark Sunday=1, DuckDB Sunday=0). One keyed
    * aggregate over a 35-cell output domain. */
  val q_seasonality_dow: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"),
        ((datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) +
          lit(4)) % 7).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        round(sum(col("value")) / count(lit(1)), 6).as("avg_value"))
      .orderBy("event_type", "dow")

  /** q_ab_lift — A/B experiment readout: deterministic user-hash
    * assignment (`user_id % 2` — assignment IS a hash split, the same
    * RNG-free discipline as the samplers), conversion = any purchase
    * over 200, then the two-proportion comparison: per-variant rates,
    * relative lift, and the pooled two-proportion z statistic. Exact
    * integer counts all the way to four final IEEE expressions (each a
    * single rounded division chain, identical on both engines). One
    * user-keyed aggregate + a 2-row fold. */
  val q_ab_lift: Q = (s, d) => {
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 200, 1).otherwise(0)).as("converted"))
      .withColumn("variant", col("user_id") % 2)
    val v = u.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        count(when(col("converted") === 1, 1)).as("n_conv"))
    val na = col("na"); val ca = col("ca")
    val nb = col("nb"); val cb = col("cb")
    val pPool = (ca + cb).cast("double") / (na + nb)
    v.agg(max(when(col("variant") === 0, col("n_users"))).as("na"),
        max(when(col("variant") === 0, col("n_conv"))).as("ca"),
        max(when(col("variant") === 1, col("n_users"))).as("nb"),
        max(when(col("variant") === 1, col("n_conv"))).as("cb"))
      .select(na, ca, nb, cb,
        round(ca.cast("double") / na, 6).as("rate_a"),
        round(cb.cast("double") / nb, 6).as("rate_b"),
        round(cb.cast("double") * na / (ca.cast("double") * nb) - lit(1.0), 6)
          .as("lift"),
        round((cb.cast("double") / nb - ca.cast("double") / na) /
          sqrt(pPool * (lit(1.0) - pPool) *
            (lit(1.0) / na + lit(1.0) / nb)), 6).as("z_stat"))
  }

  /** q_survival — Kaplan–Meier survival curve for time-to-first-error
    * (the reliability twin of cohort retention; right-censored at a
    * user's last active day when no error ever occurs). The curve
    * relation is DURATION-DOMAIN-sized (≤ days observed), so at-risk
    * counts broadcast the time grid against the user-level relation
    * (bounded fan-out), and the cumulative product runs as a triangular
    * self-join over the tiny grid — never an ordered window, never a
    * driver loop. Product computed as exp(Σ ln(1−d/n)) with factors
    * pre-rounded at 12 dp (engine-identical sums); a saturated factor
    * (d = n_risk, where ln diverges: Spark yields null, DuckDB errors)
    * is handled explicitly — survival pins to 0 from that point on. */
  val q_survival: Q = (s, d) => {
    // lifespan and first-error fold in ONE user-keyed pass (a
    // conditional min instead of a second filtered scan), and the
    // user-sized duration relation materializes once for its two
    // consumers (time grid + at-risk counts) — census-verified single
    // events scan
    val u = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("dl"),
        min(when(col("event_type") === "error", col("day"))).as("de"))
      .select(
        when(col("de").isNull, datediff(col("dl"), col("d0")))
          .otherwise(datediff(col("de"), col("d0"))).cast("long").as("dur"),
        when(col("de").isNull, 0).otherwise(1).as("failed"))
      .localCheckpoint(true)
    val grid = u.filter(col("failed") === 1)
      .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
    val risk = u.join(broadcast(grid), col("dur") >= col("t"))
      .groupBy("t", "d").agg(count(lit(1)).as("n_risk"))
    val a = risk.select(col("t").as("at"), col("d").as("ad"),
      col("n_risk").as("an"))
    val b = risk.select(col("t").as("bt"), col("d").as("bd"),
      col("n_risk").as("bn"))
    a.join(broadcast(b), col("bt") <= col("at"))
      .groupBy("at", "ad", "an")
      .agg(max(when(col("bd") >= col("bn"), 1).otherwise(0)).as("dead"),
        sum(when(col("bd") < col("bn"),
          round(log(lit(1.0) - col("bd").cast("double") / col("bn")), 12))
          .otherwise(0.0)).as("lns"))
      .select(col("at").as("dur_days"), col("ad").as("n_failed"),
        col("an").as("n_risk"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(round(exp(col("lns")), 6)).as("survival"))
      .orderBy("dur_days")
  }

  /** q_pareto — concentration headline: the minimum number of users
    * covering ≥ 80 % of all events. The cumulative coverage is
    * [[operators.Analytics.globalRunningSum]] over the user-sized count
    * relation (fact reduced first); because the running sum is strictly
    * increasing along the total order, the answer needs no rank column —
    * it is `count(cum·5 < total·4) + 1`, an exact integer predicate
    * against the 1-row broadcast total. */
  val q_pareto: Q = (s, d) => {
    val c = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val o = operators.Analytics.globalRunningSum(
      c, Seq(desc("n"), col("user_id")), "n", "cum")
    val tot = c.agg(count(lit(1)).as("n_users"), sum(col("n")).as("total"))
    o.crossJoin(broadcast(tot))
      .groupBy("n_users")
      .agg((count(when(col("cum") * 5 < col("total") * 4, 1)) + lit(1))
        .as("users_to_80pct"))
      .select(col("users_to_80pct"), col("n_users"),
        round(col("users_to_80pct").cast("double") / col("n_users"), 6)
          .as("user_share"))
  }

  /** q_growth_accounting — the daily active-user ledger: every active
    * user-day classified as NEW (first-ever day), RETAINED (also active
    * yesterday) or RESURRECTED (seen before, gone yesterday), plus the
    * CHURNED count (active yesterday, gone today). First-day map and
    * yesterday-presence are user-keyed joins (the self-join is an
    * equi-join on (user, day+1) — hash-partitioned, no fan-out); the
    * max-day guard is a 1-row broadcast. At 100 TB every relation here
    * is (user × active-day)-sized and every shuffle is on the user
    * key. */
  val q_growth_accounting: Q = (s, d) => {
    // the distinct user-day relation feeds SIX plan branches (first-day
    // map, yesterday/tomorrow self-joins, max-day scalar, both ledger
    // sides) — materialize it once; every consumer then reads the
    // checkpoint instead of re-scanning events (census: was x6)
    val du = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .localCheckpoint(true)
    val fd = du.groupBy("user_id").agg(min("day").as("first_day"))
    val prev = du.select(col("user_id").as("p_uid"), col("day").as("pday"))
    val act = du.join(fd, Seq("user_id"))
      .join(prev, col("user_id") === col("p_uid") &&
        col("pday") === date_sub(col("day"), 1), "left")
      .groupBy("day")
      .agg(count(when(col("first_day") === col("day"), 1)).as("new_users"),
        count(when(col("pday").isNotNull, 1)).as("retained"),
        count(when(col("pday").isNull && col("first_day") < col("day"), 1))
          .as("resurrected"))
    val mx = du.agg(max("day").as("mxd"))
    val nxt = du.select(col("user_id").as("n_uid"), col("day").as("nday"))
    val ch = du.join(nxt, col("user_id") === col("n_uid") &&
        col("nday") === date_add(col("day"), 1), "left")
      .crossJoin(broadcast(mx))
      .filter(col("n_uid").isNull && col("day") < col("mxd"))
      .groupBy(date_add(col("day"), 1).as("day"))
      .agg(count(lit(1)).as("churned"))
    act.join(ch, Seq("day"), "left")
      .select(col("day"), col("new_users"), col("retained"),
        col("resurrected"), coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy("day")
  }

  /** q_target_encoding — smoothed mean target encoding of a categorical
    * feature (the leakage-safe ML-feature transform): segment encoding =
    * (Σ target + m·global_mean)/(n + m), m = 10 — shrinks small
    * categories toward the global mean. Per-customer spend reduces the
    * fact table first; the global mean is a 1-row broadcast. Both
    * intermediate sums 2-dp-rounded so the engines fold identical
    * cells. */
  val q_target_encoding: Q = (s, d) => {
    val cs = Tables.customer(s, d)
      .join(Tables.orders(s, d),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
    val g = cs.agg(round(sum(col("spend")) / count(lit(1)), 6).as("gmean"))
    cs.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum(col("spend")), 2).as("seg_sum"))
      .crossJoin(broadcast(g))
      .select(col("c_mktsegment"), col("n"),
        round((col("seg_sum") + lit(10.0) * col("gmean")) /
          (col("n") + lit(10)), 6).as("encoded"),
        round(col("seg_sum") / col("n"), 6).as("raw_mean"))
      .orderBy("c_mktsegment")
  }

  /** q_grouped_ols — per-group least-squares fit (price ~ quantity per
    * return flag): slope, intercept and R² from the five moments folded
    * in ONE keyed aggregate over 2-dp-rounded inputs — the grouped
    * regression an ML feature pipeline runs per segment. No regr_*
    * builtins (engine null/arg conventions differ); the formula is
    * spelled identically on both sides. Map-side partial aggregation
    * makes this a single shuffle of 5 doubles per group at any scale. */
  val q_grouped_ols: Q = (s, d) => {
    val xy = Tables.lineitem(s, d).select(
      col("l_returnflag").as("grp"),
      round(col("l_quantity"), 2).as("x"),
      round(col("l_extendedprice"), 2).as("y"))
    val slopeNum = col("n") * col("sxy") - col("sx") * col("sy")
    val slopeDen = col("n") * col("sxx") - col("sx") * col("sx")
    xy.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("grp"), col("n"),
        round(slopeNum / slopeDen, 6).as("slope"),
        round((col("sy") - slopeNum / slopeDen * col("sx")) / col("n"), 6)
          .as("intercept"),
        round(pow(slopeNum, 2) /
          (slopeDen * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
      .orderBy("grp")
  }

  /** q_percentile_rank — every order's global percentile position
    * (`percent_rank()` over the whole fact table): the one id that runs
    * [[operators.Analytics.globalRowNumber]] at FACT scale rather than
    * dim scale — range-repartition keeps each partition's slice
    * contiguous, so the numbering is a narrow pass and no single task
    * ever sees the full relation (the windowed form funnels the entire
    * table through one sort). Tie-broken to a total order; the rank→
    * percentile arithmetic is one division against the 1-row broadcast
    * count. */
  val q_percentile_rank: Q = (s, d) => {
    val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val ranked = operators.Analytics.globalRowNumber(
      o, Seq(col("o_totalprice"), col("o_orderkey")), "rnk")
    // r18: count from the ranked relation (globalRowNumber already
    // checkpointed it — a fold over the checkpoint, not a second orders
    // scan), folded to a driver SCALAR: one map-only job replaces the
    // one-row broadcast exchange + crossJoin the old plan rebuilt
    val nRows = lit(ranked.count())
    ranked
      .select(col("o_orderkey"), col("o_totalprice"),
        round((col("rnk") - 1).cast("double") / (nRows - 1), 6)
          .as("pct_rank"))
      .orderBy("o_orderkey")
  }

  /** q_winback — re-activation after absence: per user, the count and
    * longest of their 3-plus-day gaps between consecutive active days
    * (the audience a winback campaign targets; the flip side of
    * [[q_streak]]'s islands). Distinct user-days, one USER-KEYED lag,
    * one keyed aggregate — integer day arithmetic throughout. */
  val q_winback: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("day")
    Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("gap",
        datediff(col("day"), lag("day", 1).over(w)).cast("long"))
      .filter(col("gap") > 2)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_winbacks"), max("gap").as("max_absence_days"))
      .orderBy("user_id")
  }

  /** q_corr_matrix — pairwise Pearson correlation over three fact
    * measures, all ten moments folded in ONE pass (map-side partials:
    * the shuffle carries ten doubles total), then the three pair rows
    * derive from the 1-row moment relation. Inputs pre-rounded so both
    * engines fold identical cells; no corr() builtin (null/ordering
    * conventions differ across engines). */
  val q_corr_matrix: Q = (s, d) => {
    val x = Tables.lineitem(s, d).select(
      round(col("l_quantity"), 2).as("a"),
      round(col("l_extendedprice"), 2).as("b"),
      round(col("l_discount"), 4).as("c"))
    val m = x.agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("b")).as("sb"), sum(col("c")).as("sc"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"),
        sum(col("c") * col("c")).as("scc"),
        sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("c")).as("sac"),
        sum(col("b") * col("c")).as("sbc"))
      .localCheckpoint(true) // 1-row relation, three consumers
    def corrOf(pair: String, sxy: Column, sx: Column, sy: Column,
               sxx: Column, syy: Column) =
      m.select(lit(pair).as("pair"),
        round((col("n") * sxy - sx * sy) /
          sqrt((col("n") * sxx - sx * sx) * (col("n") * syy - sy * sy)), 6)
          .as("corr"))
    corrOf("quantity_extendedprice", col("sab"), col("sa"), col("sb"),
        col("saa"), col("sbb"))
      .unionByName(corrOf("quantity_discount", col("sac"), col("sa"),
        col("sc"), col("saa"), col("scc")))
      .unionByName(corrOf("extendedprice_discount", col("sbc"), col("sb"),
        col("sc"), col("sbb"), col("scc")))
      .orderBy("pair")
  }

  /** q_mode — deterministic grouped mode: the modal day-of-week per
    * event type, ties broken to the smallest bucket (engine mode()
    * builtins leave tie order unspecified — this spells the argmax).
    * Day-of-week via the same epoch-day arithmetic as
    * [[q_seasonality_dow]]; one keyed count, then the argmax as a
    * struct-max AGGREGATE — max(struct(cnt, −dow)) picks the highest
    * count and the smallest bucket on ties in one keyed fold (no window
    * partitioned on the ≤|types| key, no rank pass). */
  val q_mode: Q = (s, d) => {
    val b = Tables.events(s, d)
      .groupBy(col("event_type"),
        ((datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) +
          lit(4)) % 7).cast("long").as("dow"))
      .agg(count(lit(1)).as("cnt"))
    b.groupBy("event_type")
      .agg(max(struct(col("cnt"), (-col("dow")).as("ndow"))).as("m"))
      .select(col("event_type"), (-col("m.ndow")).cast("long").as("mode_dow"),
        col("m.cnt").as("cnt"))
      .orderBy("event_type")
  }

  /** q_ohlc — daily open/high/low/close candles per event type (the
    * time-series rollup every monitoring mart carries): open/close are
    * deterministic endpoint picks via two keyed row_numbers (ties
    * broken on event_id; never min_by/max_by, whose tie choice is
    * engine-undefined), fused with high/low/count into ONE grouped
    * pass — a single scan, two window sorts over the same keyed
    * partitioning, one aggregate. */
  val q_ohlc: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("event_type"),
      to_date(col("ts")).as("day"), col("ts"), col("event_id"), col("value"))
    val wo = Window.partitionBy("event_type", "day")
      .orderBy(col("ts"), col("event_id"))
    val wc = Window.partitionBy("event_type", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rno", row_number().over(wo))
      .withColumn("rnc", row_number().over(wc))
      .groupBy("event_type", "day")
      .agg(max(when(col("rno") === 1, col("value"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(when(col("rnc") === 1, col("value"))).as("close"),
        count(lit(1)).as("n"))
      .orderBy("event_type", "day")
  }

  /** q_string_agg — ordered string aggregation with a BOUNDED input set
    * (top-3 users per event type): the rank cut is what makes listagg
    * scale-safe — an unbounded string_agg over a group is a memory bomb
    * at 100 TB. The cut folds through the bounded-heap
    * [[graft.functions.TopKAggregator]] (cnt desc, user asc — counts
    * are exact in doubles), which hands the ids back ALREADY in rank
    * order, so the string is one array_join — no rank window partitioned
    * on the ≤|types| key, no re-sort. */
  val q_string_agg: Q = (s, d) => {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    Tables.events(s, d)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      .groupBy("event_type")
      .agg(topk(col("cnt").cast("double"), col("user_id")).as("ids"))
      .select(col("event_type"), array_join(
        transform(col("ids"), x => x.cast("string")), ",").as("top_users"))
      .orderBy("event_type")
  }

  /** q_unpivot — wide→long melt of three fact measures via `stack`:
    * ONE scan producing 3 rows per input (the oracle spells the same
    * relation as a UNION ALL; stack is the single-pass form — a
    * union-of-selects plan would scan the fact once per measure).
    * Codegen'd generator, no shuffle beyond the contract sort.
    *
    * r17 OPTIMIZATION NOTE (attempted, reverted): sorting the narrow
    * input first and stacking in alphabetical measure order would move
    * 1/3 of the rows through the range exchange (measured 2.45 → 0.81 s
    * at sf0.1) — but (l_orderkey, l_linenumber) is NOT unique in the
    * generated testdata (~20% dup pairs), and the contract's tie order
    * interleaves duplicate rows measure-major; sort-then-stack emits
    * them row-major and diverges (caught by the sf0.01 oracle re-run).
    * The melt must stay sort-after-explode. */
  val q_unpivot: Q = (s, d) =>
    // r17: fanOut BEFORE the stack (2.54 → 1.01 s, 5-run min) — the
    // single-row-group scan otherwise runs stack + the sort's sampling
    // pass + the sort's map side all on ONE core. Tie-order safety
    // (the sort keys are NOT total — ~20% dup (okey, lineno) pairs, and
    // every dup pair differs in measure values, so tie order is
    // hash-visible): the tie groups leave ONE map partition in file
    // order, equal keys land in one range partition, and the sort is
    // stable — ties emit in file order, the single-partition plan's
    // order. r18 (ADVICE r17): the spread is now fanOutFromSingle —
    // restricted to the exactly-one-partition input the argument covers;
    // with 2+ input partitions a tie group could span map partitions and
    // interleave nondeterministically, so the helper then does nothing
    // (the bench layout is one row group, so the measured win is kept).
    operators.Dedup.fanOutFromSingle(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount")),
        col("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("""stack(3,
          'quantity', round(l_quantity, 2),
          'extendedprice', round(l_extendedprice, 2),
          'discount', round(l_discount, 4)) AS (measure, val)"""))
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** q_attribution_linear — linear multi-touch attribution (the
    * equal-credit counterpart of [[q_attribution]]'s last-touch): every
    * touch strictly before a user's FIRST purchase shares that
    * purchase's value equally. First purchase = keyed row_number over
    * the purchase subset (ties broken by event_id, never a bare min);
    * touches pre-aggregate to (user, type) counts so the credit sums as
    * count × share — the formula the oracle mirrors termwise. Two
    * differently-filtered event scans (purchases, touches), user-keyed
    * joins, user-sized checkpoints. */
  val q_attribution_linear: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val wp = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wp)).filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("pts"), col("value").as("pval"))
      .localCheckpoint(true)
    val tc = ev.filter(col("event_type") =!= "purchase")
      .join(firstPurchase, Seq("user_id"))
      .filter(col("ts") < col("pts"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds the per-user total AND the credit join
    val nt = tc.groupBy("user_id").agg(sum(col("c")).as("n_touches"))
    tc.join(nt, Seq("user_id")).join(firstPurchase, Seq("user_id"))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n_credited"),
        round(sum(col("c") * col("pval") / col("n_touches")), 2)
          .as("credited_value"))
      .orderBy("event_type")
  }

  /** q_cumulative_users — the cumulative-distinct growth curve: per
    * first-active day, new users and the running total of all users
    * ever seen (an expanding COUNT DISTINCT a window cannot express at
    * scale — but first-day attribution turns it into a running SUM of
    * per-day news, done by [[operators.Analytics.globalRunningSum]]
    * over the day-sized relation). */
  val q_cumulative_users: Q = (s, d) => {
    val nd = Tables.events(s, d)
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    operators.Analytics.globalRunningSum(
        nd, Seq(col("day")), "new_users", "cum_users")
      .orderBy("day")
  }

  /** q_time_to_convert — signup→first-purchase latency distribution:
    * conditional mins fold both timestamps in ONE user-keyed pass (no
    * per-stage scans), latencies are exact integer microseconds scaled
    * once, and the percentile pair folds over the converted-user
    * relation. */
  val q_time_to_convert: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("s_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p_ts"))
      .filter(col("s_ts").isNotNull && col("p_ts").isNotNull &&
        col("p_ts") >= col("s_ts"))
      .select(((unix_micros(col("p_ts")) - unix_micros(col("s_ts"))) /
        lit(1000000.0)).as("dt_s"))
      .agg(count(lit(1)).as("n_converted"),
        round(percentile(col("dt_s"), lit(0.5)), 4).as("p50_s"),
        round(percentile(col("dt_s"), lit(0.9)), 4).as("p90_s"))

  /** q_ks_test — two-sample Kolmogorov–Smirnov statistic between two
    * event types' value distributions: D = max |F₁ − F₂| over the
    * combined support. The per-value conditional counts reduce the fact
    * first (distinct-value-sized); BOTH empirical CDFs come from ONE
    * [[operators.Analytics.globalRunningSums]] pass (one range shuffle,
    * two prefix columns — never an ordered window); totals fold from
    * the same checkpoint. Cumulative counts are exact integers; each
    * CDF value is one IEEE division on both engines. */
  val q_ks_test: Q = (s, d) => {
    val sCounts = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("value")
      .agg(count(when(col("event_type") === "click", 1)).as("c1"),
        count(when(col("event_type") === "purchase", 1)).as("c2"))
    val c = operators.Analytics.globalRunningSums(
      sCounts, Seq(col("value")), Seq("c1" -> "k1", "c2" -> "k2"))
    val t = c.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    c.crossJoin(broadcast(t))
      .groupBy("n1", "n2")
      .agg(round(max(abs(col("k1").cast("double") / col("n1") -
        col("k2").cast("double") / col("n2"))), 6).as("ks_d"))
      .select(col("ks_d"), col("n1"), col("n2"))
  }

  /** q_rolling_corr — trailing 7-day correlation between two series
    * (the co-movement drift monitor): daily conditional means, then the
    * five correlation moments over each day's trailing week via the
    * bounded date fan-out join (≤ 7×, the [[q_rolling_active]] shape —
    * never a global-order window). Daily means 4-dp-rounded so both
    * engines fold identical cells; windows shorter than 7 days are
    * suppressed (partial-window corr is noise). */
  val q_rolling_corr: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(avg(when(col("event_type") === "click", col("value"))), 4)
        .as("x"),
        round(avg(when(col("event_type") === "purchase", col("value"))), 4)
          .as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .localCheckpoint(true) // day-sized, feeds both join sides
    val p = daily.select(col("day").as("pday"), col("x"), col("y"))
    val slopeNum = col("n") * col("sxy") - col("sx") * col("sy")
    broadcast(daily.select("day")).join(p,
        datediff(col("day"), col("pday")).between(0, 6))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n") === 7)
      .select(col("day"), col("n"),
        round(slopeNum / sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr7"))
      .orderBy("day")
  }

  /** q_psi — Population Stability Index per event type between the two
    * month halves (the ML-monitoring drift score): quintile fences from
    * the OVERALL distribution (broadcast, ≤ types rows), one classify
    * pass with conditional period counts, PSI = Σ (pₐ−p_b)·ln(pₐ/p_b)
    * folded termwise (12-dp terms, 6-dp sum — the engines' ln/÷ agree
    * per term, only fold order needs slack). */
  val q_psi: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val fences = ev.groupBy("event_type")
      .agg(percentile(col("value"), lit(0.2)).as("q1"),
        percentile(col("value"), lit(0.4)).as("q2"),
        percentile(col("value"), lit(0.6)).as("q3"),
        percentile(col("value"), lit(0.8)).as("q4"))
    val binned = ev.join(broadcast(fences), Seq("event_type"))
      .select(col("event_type"),
        when(col("value") <= col("q1"), 1)
          .when(col("value") <= col("q2"), 2)
          .when(col("value") <= col("q3"), 3)
          .when(col("value") <= col("q4"), 4).otherwise(5).as("bin"),
        when(to_date(col("ts")) < lit("2024-01-16").cast("date"), "a")
          .otherwise("b").as("period"))
      .groupBy("event_type", "bin")
      .agg(count(when(col("period") === "a", 1)).as("ca"),
        count(when(col("period") === "b", 1)).as("cb"))
      .localCheckpoint(true) // (type × 5)-sized, feeds totals + PSI fold
    val t = binned.groupBy("event_type")
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val pa = col("ca").cast("double") / col("na")
    val pb = col("cb").cast("double") / col("nb")
    // empty-cell guard: a bin with zero rows in one period makes
    // ln(pa/pb) diverge — Spark's log returns null (term silently
    // dropped) where DuckDB ERRORS, so the skip must be explicit and
    // identical on both sides. Standard PSI practice: empty cells
    // contribute nothing.
    val term = when(col("ca") > 0 && col("cb") > 0,
      round((pa - pb) * log(pa / pb), 12)).otherwise(0.0)
    binned.join(t, Seq("event_type"))
      .groupBy("event_type")
      .agg(round(sum(term), 6).as("psi"))
      .orderBy("event_type")
  }

  /** q_pareto_by_group — per-group concentration: the minimum number of
    * users covering half of EACH event type's volume (the grouped twin
    * of [[q_pareto]]): the cumulative sum runs through
    * [[operators.Analytics.groupedRunningSums]] — event_type has ≤5
    * values, so a window partitioned on it would fold every type's full
    * user list in one serial task each; the grouped prefix-sum
    * range-repartitions on (type, −n, user) for full parallelism and
    * hands back per-type grand totals for free. The
    * strictly-increasing-sum counting trick then gives the answer
    * without a rank predicate. Integer arithmetic throughout. */
  val q_pareto_by_group: Q = (s, d) => {
    val c = Tables.events(s, d)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
    val o = operators.Analytics.groupedRunningSums(c, Seq("event_type"),
      Seq(desc("n"), col("user_id")), Seq("n" -> "cum"),
      totalSuffix = Some("_total"))
    o.groupBy("event_type")
      .agg((count(when(col("cum") * 2 < col("cum_total"), 1)) + lit(1))
        .as("users_to_half"),
        count(lit(1)).as("n_users"))
      .select("event_type", "users_to_half", "n_users")
      .orderBy("event_type")
  }

  /** q_lag_features — forecasting feature build: per user-day purchase
    * totals joined with their own 1-day and 7-day lags via CALENDAR
    * self-joins on (user, day−k) — gap-correct where an offset window
    * would silently read the previous ROW (the [[q_mom_growth]]
    * discipline), missing lags fill 0. The user-day relation
    * materializes once for its three join roles. */
  val q_lag_features: Q = (s, d) => {
    val dd = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("v"))
      .localCheckpoint(true)
    val l1 = dd.select(col("user_id").as("u1"), col("day").as("d1"),
      col("v").as("v1"))
    val l7 = dd.select(col("user_id").as("u7"), col("day").as("d7"),
      col("v").as("v7"))
    dd.join(l1, col("user_id") === col("u1") &&
        col("d1") === date_sub(col("day"), 1), "left")
      .join(l7, col("user_id") === col("u7") &&
        col("d7") === date_sub(col("day"), 7), "left")
      .select(col("user_id"), col("day"), col("v"),
        coalesce(col("v1"), lit(0.0)).as("v_1d"),
        coalesce(col("v7"), lit(0.0)).as("v_7d"))
      .orderBy("user_id", "day")
  }

  /** q_abandonment — click-without-purchase within 24 h: each user's
    * FIRST click, anti-joined against their purchases inside the
    * following day (equi-key on user + a time-range residual — the
    * interval ANTI-join shape; the purchase side never shuffles more
    * than its user-keyed exchange). Exact integer-µs window
    * arithmetic. */
  val q_abandonment: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val fc = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("pts"))
    fc.join(p, col("user_id") === col("p_uid") &&
        col("pts") >= col("cts") &&
        unix_micros(col("pts")) - unix_micros(col("cts")) <= 86400000000L,
        "left_anti")
      .select("user_id")
      .orderBy("user_id")
  }

  /** q_interp_linear — LINEAR interpolation over each user's daily gap
    * days (the smoothing twin of [[q_resample_ffill]]'s step fill):
    * dense per-user grid from `sequence` (bounded by the calendar
    * horizon), previous/next OBSERVED day via keyed conditional
    * min/max windows, endpoint values joined back from the observed
    * relation (checkpointed once for its four roles), then one exact
    * per-row interpolation expression. Interior gaps only — the grid
    * spans each user's own [first, last] observed days, so every gap
    * day has both endpoints by construction. */
  val q_interp_linear: Q = (s, d) => {
    val dd = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("v"))
      .localCheckpoint(true)
    val sp = dd.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
    val grid = sp.select(col("user_id"),
      explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"))
    val g = grid.join(dd, Seq("user_id", "day"), "left")
    val wAsc = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val f = g
      .withColumn("pd", max(when(col("v").isNotNull, col("day"))).over(wAsc))
      .withColumn("nd", min(when(col("v").isNotNull, col("day"))).over(wDesc))
    val dp = dd.select(col("user_id").as("pu"), col("day").as("pdd"),
      col("v").as("vp"))
    val dn = dd.select(col("user_id").as("nu"), col("day").as("ndd"),
      col("v").as("vn"))
    f.join(dp, col("user_id") === col("pu") && col("pd") === col("pdd"))
      .join(dn, col("user_id") === col("nu") && col("nd") === col("ndd"))
      .select(col("user_id"), col("day"),
        // per-row arithmetic deliberately UNROUNDED (FIXTURES.md rule):
        // identical expression order → bit-identical IEEE doubles on
        // both engines. Rounding here is a half-way lottery — midpoints
        // of 2-dp endpoints land on exact x.xxx5 values constantly, and
        // the engines' round() implementations disagree there.
        when(col("v").isNotNull, col("v"))
          .otherwise(col("vp") + (col("vn") - col("vp")) *
            datediff(col("day"), col("pd")).cast("double") /
            datediff(col("nd"), col("pd"))).as("v_interp"),
        when(col("v").isNotNull, 0).otherwise(1).as("interpolated"))
      .orderBy("user_id", "day")
  }

  /** q_weighted_median — exact weighted median per group (price
    * weighted by integer quantity): keyed cumulative weight vs the
    * group total, first value where the running weight crosses half.
    * Weights floored to exact integers so the crossing predicate
    * `cum·2 ≥ total` never rides a double-sum boundary; order
    * tie-broken to the primary key.
    *
    * The cumulative pass is [[operators.Analytics.groupedWeightedMedian]],
    * NOT `Window.partitionBy("grp")`: `grp` = l_returnflag has 3
    * distinct values, so the window form would run 3 serial tasks, each
    * sorting and folding a third of the fact table — a guaranteed
    * straggler at scale. The fused grouped prefix-sum range-repartitions
    * on (grp, v) for full parallelism, locates each group's crossing
    * partition from the per-(partition, group) weight totals, and
    * rescans ONLY those partitions — one shuffle, no window, no
    * downstream aggregate. */
  val q_weighted_median: Q = (s, d) => {
    val x = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 1)
      .select(col("l_returnflag").as("grp"),
        round(col("l_extendedprice"), 2).as("v"),
        floor(col("l_quantity")).cast("long").as("w"))
    operators.Analytics.groupedWeightedMedian(x, Seq("grp"), "v", "w")
      .orderBy("grp")
  }

  /** q_weighted_p90 — grouped weighted 90th percentile (the tail-price
    * statistic): the same histogram-selection machinery as
    * [[q_weighted_median]] at φ=0.9, over l_linestatus — a 2-value
    * group key, the degenerate case where a partitioned window would
    * collapse to 2 serial tasks. The crossing target `ceil(0.9·total)`
    * is the identical IEEE expression on both engines, so the integer
    * targets agree exactly. */
  val q_weighted_p90: Q = (s, d) => {
    val x = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 1)
      .select(col("l_linestatus").as("grp"),
        round(col("l_extendedprice"), 2).as("v"),
        floor(col("l_quantity")).cast("long").as("w"))
    operators.Analytics.groupedWeightedQuantile(x, Seq("grp"), "v", "w",
        phi = 0.9, outCol = "weighted_p90")
      .orderBy("grp")
  }

  /** q_hhi — Herfindahl–Hirschman concentration per event type over
    * user shares, with the effective participant count 1/HHI (the
    * econometric twin of [[q_gini]]/[[q_pareto]]): share² terms round
    * at 12 dp (each is one IEEE divide+square from exact integers),
    * the per-type fold at 6. User-count-sized relations, one keyed
    * join. */
  val q_hhi: Q = (s, d) => {
    val c = Tables.events(s, d)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // feeds totals AND the share fold
    val t = c.groupBy("event_type").agg(sum(col("n")).as("total"))
    val term = round(pow(col("n").cast("double") / col("total"), 2), 12)
    c.join(t, Seq("event_type"))
      .groupBy("event_type")
      .agg(round(sum(term), 6).as("hhi"),
        round(lit(1.0) / sum(term), 4).as("effective_n"))
      .orderBy("event_type")
  }

  /** q_vocab_coverage — corpus token coverage by top-k vocabulary (the
    * truncation-loss curve that sizes a tokenizer vocab): rank AND
    * cumulative token mass come from ONE
    * [[operators.Analytics.globalRunningSums]] pass (the rank is the
    * prefix sum of a ones column — no second shuffle), coverage read at
    * k ∈ {10, 20, 30} against the 1-row broadcast totals. Exact
    * integer cumulatives; one division per output row. */
  val q_vocab_coverage: Q = (s, d) => {
    val cnt = Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .withColumn("one", lit(1L))
    val ranked = operators.Analytics.globalRunningSums(
      cnt, Seq(desc("c"), col("word")), Seq("c" -> "cum", "one" -> "r"))
    val t = ranked.agg(sum(col("c")).as("total"),
      count(lit(1)).as("n_vocab"))
    val base = ranked.crossJoin(broadcast(t))
    def covAt(k: Int) = base.agg(lit(k.toLong).as("k"),
      max(when(col("r") <= k, col("cum"))).as("cov"),
      max(col("total")).as("total"), max(col("n_vocab")).as("n_vocab"))
    covAt(10).unionByName(covAt(20)).unionByName(covAt(30))
      .select(col("k"),
        round(col("cov").cast("double") / col("total"), 6).as("coverage"),
        col("n_vocab"))
      .orderBy("k")
  }

  /** q_bpe_merges — LEARNED BPE merge rules over the corpus vocabulary
    * ([[Text.bpeTrainMerges]]): the head-4096 vocabulary by (count,
    * word) — training state is vocabulary-sized, never corpus-sized —
    * 12 merge rounds, one keyed pair-aggregate + bounded argmax per
    * round. Oracle-checked since round 11: the 12 rounds unroll as
    * chained MATERIALIZED CTEs over chr(31)-delimited symbol strings —
    * pair counts via list_zip (the zip(syms, tail) convention), the
    * argmax the same (cnt DESC, a, b) binary order, merge application
    * a left-to-right non-overlapping replace() ≡ mergePair; the
    * classic-corpus golden stays in FunctionsSpec. */
  val q_bpe_merges: Q = (s, d) => {
    // train on the HEAD vocabulary (top 4096 words by count, ties to
    // the word — a bounded TakeOrdered): standard BPE practice, and it
    // pins the per-round pair-aggregate to a fixed-size state no
    // matter the corpus scale
    val words = Tables.documents(s, d)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("word")).limit(4096)
    val merges = Text.bpeTrainMerges(words, "word", "cnt", k = 12)
    val spark = s
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i + 1L, a, b) }
      .toDF("merge_rank", "left_sym", "right_sym")
      .orderBy("merge_rank")
  }

  /** Edge list shared by the graph-analytics ids: the nation-level trade
    * graph. src = the ordering customer's nation, dst = the supplying
    * nation, weight = discounted revenue in INTEGER CENTS: the per-line
    * product is a bit-identical IEEE double on both engines, and
    * `round(rev*100)` rounds that same double on both sides (Spark's
    * BigDecimal half-up and DuckDB's away-from-zero agree on every
    * non-boundary double, and a true half boundary never lands exactly
    * on a binary double) — from there every fold at every level is
    * exact long arithmetic, immune to the fold-order ulp drift that a
    * `round(sum(double),2)` cascade suffers (observed live: two-level
    * rounding diverged by 0.01 on 2 of 50 cells at sf0.001). One edge
    * per (src,dst) — at most 25×25 rows no matter the fact-table scale.
    * Built by ONE fact scan and keyed joins; customer/supplier carry NO
    * broadcast hint — they are fact-PROPORTIONAL tables (unlike the
    * 25-row nation dim), so the strategy is left to Catalyst/AQE:
    * broadcast at test SFs, shuffle join at cluster scale. Everything
    * downstream (degree, PageRank state) is node/edge-sized, so the
    * graph ids cost one aggregation of the fact table plus arithmetic
    * on a ≤625-row relation at any SF. */
  // private[graft]: PlanAuditSpec pins the UN-checkpointed plan's join
  // strategy (the eager localCheckpoint in callers hides it from Explain)
  private[graft] def nationTradeEdges(s: SparkSession, d: String): DataFrame = {
    // r17 note: a fanOut on the lineitem probe side A/B-measured WORSE on
    // all five sampled graph ids (+0.1-0.15 s — the 3-dim broadcast probe
    // is cheaper than the spreading exchange); kept on the direct scan
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(sum(round(col("rev") * lit(100.0)).cast("long")).as("wc"),
        count(lit(1)).as("n_lines"))
  }

  /** q_graph_degree — weighted degree centrality on the nation trade
    * graph: per nation, out-strength (revenue it ORDERS, as the customer
    * side) and in-strength (revenue it SUPPLIES), plus line counts, left-
    * joined onto the full nation dim so isolated nations report zeros.
    * All folds are exact cent-longs (see [[nationTradeEdges]]); the
    * displayed doubles are `cents/100` — an exact 2-dp quantity, so the
    * output round is boundary-free on both engines. */
  val q_graph_degree: Q = (s, d) => {
    val e = nationTradeEdges(s, d).localCheckpoint(eager = true)
    val out = e.groupBy(col("src").as("nk_out"))
      .agg(round(sum(col("wc")).cast("double") / lit(100.0), 2).as("out_w"),
        sum(col("n_lines")).as("out_lines"))
    val inn = e.groupBy(col("dst").as("nk_in"))
      .agg(round(sum(col("wc")).cast("double") / lit(100.0), 2).as("in_w"),
        sum(col("n_lines")).as("in_lines"))
    Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      .join(out, col("n_nationkey") === col("nk_out"), "left")
      .join(inn, col("n_nationkey") === col("nk_in"), "left")
      .select(col("n_name").as("nation"),
        coalesce(col("out_w"), lit(0.0)).as("out_w"),
        coalesce(col("out_lines"), lit(0L)).as("out_lines"),
        coalesce(col("in_w"), lit(0.0)).as("in_w"),
        coalesce(col("in_lines"), lit(0L)).as("in_lines"))
      .orderBy("nation")
  }

  /** q_pagerank — weighted PageRank over the nation trade graph
    * ([[operators.Graph.pagerank]]: 15 power-iteration rounds, one
    * edge-keyed join + one dst-keyed aggregate per round, rank state
    * node-sized, pico-long pre-rounded contributions for
    * fold-order-free determinism). Oracle-checked since round 11: the
    * fixed 15-round loop UNROLLS as chained CTEs, and because the
    * operator quantizes every cross-engine-sensitive fold (exact
    * pico-long contribution sums, one 12-dp round per rank update)
    * each unrolled step reproduces the iteration bit-exactly at every
    * SF; GraphSpec keeps the driver-reference golden and the
    * multi-edge/mass laws. */
  val q_pagerank: Q = (s, d) => {
    val ranks = operators.Graph.pagerank(nationTradeEdges(s, d), "src", "dst", "wc")
    ranks.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("rank"))
      .orderBy(desc("rank"), col("nation"))
  }

  /** q_graph_triangles — triangle census of the (undirected) nation
    * trade graph via [[operators.Graph.triangleCensus]]: degree-ordered
    * orientation caps the wedge fan-out at O(√m) per node — the
    * formulation that survives data-proportional graphs — and every
    * count is exact integer arithmetic. The oracle closes triangles by
    * the numeric a&lt;b&lt;c convention; both count each triangle exactly
    * once, so the censuses agree. */
  val q_graph_triangles: Q = (s, d) =>
    operators.Graph.triangleCensus(nationTradeEdges(s, d), "src", "dst", "wc")

  /** q_graph_clustering — global clustering coefficient of the nation
    * trade graph ([[operators.Graph.clusteringCensus]]): 3·triangles /
    * wedges, both exact integer counts (wedges fold node-sized
    * deg·(deg−1)/2 longs; triangles come from the degree-ordered
    * closure). The single double is one division of identical BIGINTs
    * on both engines, rounded at 6 dp. */
  val q_graph_clustering: Q = (s, d) =>
    operators.Graph.clusteringCensus(nationTradeEdges(s, d), "src", "dst", "wc")

  /** q_graph_local_clustering — per-nation local clustering coefficient
    * ([[operators.Graph.localClustering]]): how tightly each nation's
    * trade partners trade among themselves. Left-joined onto the full
    * nation dim (isolated nations report zeros); counts exact longs,
    * the coefficient one division of exact integers at 6 dp. */
  val q_graph_local_clustering: Q = (s, d) => {
    val lc = operators.Graph.localClustering(
      nationTradeEdges(s, d), "src", "dst", "wc")
    Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      .join(lc, col("n_nationkey") === col("node"), "left")
      .select(col("n_name").as("nation"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        coalesce(col("local_clustering"), lit(0.0)).as("local_clustering"))
      .orderBy("nation")
  }

  /** q_graph_reciprocity — share of directed trade edges with a reverse
    * edge (nations that buy from nations that buy from them). Exact
    * integer counts; the one double (the ratio) is a single division
    * rounded at 6 dp, identical on both engines. */
  val q_graph_reciprocity: Q = (s, d) => {
    val e = nationTradeEdges(s, d)
      .select("src", "dst").where(col("src") =!= col("dst"))
      .distinct().localCheckpoint(eager = true)
    val rev = e.select(col("src").as("rs"), col("dst").as("rd"))
    e.join(rev, col("src") === col("rd") && col("dst") === col("rs"), "left")
      .agg(count(lit(1)).as("n_edges"),
        count(col("rs")).as("n_reciprocal"),
        round(count(col("rs")).cast("double") / count(lit(1)), 6).as("reciprocity"))
  }

  /** q_graph_communities — label-propagation communities on the nation
    * trade graph ([[operators.Graph.labelPropagation]]: 10 fixed
    * synchronous rounds, incident weights folded as exact cent-longs,
    * argmax ties to the smallest label — integer-deterministic end to
    * end). Oracle-checked since round 11: integer determinism makes
    * the fixed 10-round loop replayable as chained MATERIALIZED CTEs,
    * the (weight, −label) argmax encoded as one HUGEINT composite key;
    * the toy-graph golden vs a driver-side reference stays in
    * GraphSpec. */
  val q_graph_communities: Q = (s, d) => {
    val labels = operators.Graph.labelPropagation(
      nationTradeEdges(s, d), "src", "dst", "wc")
    labels.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("community").cast("long").as("community"))
      .orderBy("nation")
  }

  /** q_graph_components — connected components of the (undirected)
    * nation trade graph: every nation labeled with the minimum nationkey
    * reachable through trade edges, isolated nations labeling
    * themselves. Reuses [[operators.Dedup.connectedComponents]] (the
    * near-dup cluster machinery — min-label propagation + pointer
    * jumping, O(log diameter) rounds, large-star/small-star fallback)
    * over the ≤625-row edge list; the oracle walks the same edges with
    * a recursive CTE (the q_dedup_cluster pattern). Exact integer
    * labels end to end. */
  val q_graph_components: Q = (s, d) => {
    val e = nationTradeEdges(s, d)
      .select(col("src").as("id_a"), col("dst").as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    val comp = operators.Dedup.connectedComponents(e)
    Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      .join(comp, col("n_nationkey") === col("id"), "left")
      .select(col("n_name").as("nation"),
        coalesce(col("label"), col("n_nationkey")).cast("long").as("component"))
      .orderBy("nation")
  }

  /** q_graph_sssp — weighted single-source shortest paths from nation 0
    * over the trade graph ([[operators.Graph.shortestPaths]]:
    * distributed Bellman–Ford relaxation, one incidence join + one
    * keyed min per round, node-sized distance state, exact cent-long
    * distances — reduce-order-free). Oracle-checked since round 11:
    * any simple shortest path on the 25-nation graph uses ≤ 24 edges,
    * so 24 Bellman–Ford rounds unrolled as chained MATERIALIZED CTEs
    * reach the fixed point without recursion — exact integer mins end
    * to end, bit-parity by construction. The golden vs a driver-side
    * Dijkstra stays in GraphSpec. Distances display as 2-dp revenue
    * (`cents/100` — exact). Only reachable nations appear. */
  val q_graph_sssp: Q = (s, d) => {
    val dist = operators.Graph.shortestPaths(
      nationTradeEdges(s, d), "src", "dst", "wc", source = 0L)
    dist.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        round(col("dist").cast("double") / lit(100.0), 2).as("dist_w"))
      .orderBy("dist_w", "nation")
  }

  /** q_graph_sssp_hops — HOP-COUNT single-source shortest paths from
    * nation 0: the SAME distributed Bellman–Ford relaxation loop as
    * [[q_graph_sssp]] ([[operators.Graph.shortestPaths]]) driven with
    * unit weights over the deduplicated undirected edge set, so dist =
    * BFS depth. Exists to put the multi-round relaxation FIXPOINT under
    * the driver's hard rows+schema+hash oracle: hop distances ARE
    * DuckDB-1.0-expressible (a depth-pruned recursive closure whose
    * (node, depth) state is ≤ n·(n+1) rows, so it terminates) via a
    * simpler oracle than the weighted min-plus twin, which converted
    * later in round 11 by bounded unrolling (an n-node fixpoint
    * finishes within n−1 rounds — no in-recursion aggregation needed).
    * Only nations reachable from the source appear. */
  /** The trade graph as UNIT-weight undirected edges — symmetrized and
    * deduplicated BEFORE assigning weight 1 (undirect SUMS parallel
    * edges, so a bidirectional trade pair would otherwise cost 2 hops).
    * Shared by the hop-count graph ids, whose point is putting the
    * distance fixpoints under the driver's hard oracle. */
  private def unitTradeEdges(s: SparkSession, d: String): DataFrame =
    nationTradeEdges(s, d)
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .withColumn("w1", lit(1L))

  val q_graph_sssp_hops: Q = (s, d) => {
    val dist = operators.Graph.shortestPaths(unitTradeEdges(s, d),
      "src", "dst", "w1", source = 0L)
    dist.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("dist").cast("long").as("hops"))
      .orderBy("hops", "nation")
  }

  /** q_graph_ecc_hops — HOP-COUNT eccentricity of every nation: max BFS
    * depth over reachable nations, exact integers end to end, riding
    * the SAME shared multi-source distance fixpoint as the weighted
    * q_graph_eccentricity ([[operators.Graph.eccentricity]] over
    * [[unitTradeEdges]]) — which puts that fixpoint under the driver's
    * hard rows+schema+hash oracle via an all-pairs depth-pruned BFS
    * closure (the weighted twin converted later in round 11 via
    * bounded min-plus unrolling; both lanes are oracle-checked). */
  val q_graph_ecc_hops: Q = (s, d) => {
    val e = operators.Graph.eccentricity(unitTradeEdges(s, d),
      "src", "dst", "w1")
    e.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_reached"),
        col("ecc_cents").cast("long").as("ecc_hops"))
      .orderBy("ecc_hops", "nation")
  }

  /** q_graph_closeness_hops — CLASSIC closeness surface in hop units:
    * per nation, nations reached and the exact TOTAL hop distance to
    * them ([[operators.Graph.closenessTotals]] — the un-divided
    * numerator/denominator pair, so the whole fold is exact longs on
    * both engines; no harmonic 1/d variant is registered because its
    * reciprocal sum is reduce-order double math). Same shared
    * multi-source fixpoint, same BFS-closure oracle. */
  val q_graph_closeness_hops: Q = (s, d) => {
    val c = operators.Graph.closenessTotals(unitTradeEdges(s, d),
      "src", "dst", "w1")
    c.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_reached"),
        col("total_dist").cast("long").as("total_hops"))
      .orderBy("total_hops", "nation")
  }

  /** q_graph_assortativity — degree assortativity of the nation trade
    * graph ([[operators.Graph.assortativityCensus]]): do high-degree
    * nations trade with other high-degree nations (r > 0) or with the
    * periphery (r < 0)? All sums exact integers (Decimal(38,0) folds ↔
    * DuckDB HUGEINT); one rounded division; regular-graph degeneracy
    * reports 0.0 on both engines. */
  val q_graph_assortativity: Q = (s, d) =>
    operators.Graph.assortativityCensus(
      nationTradeEdges(s, d), "src", "dst", "wc")

  /** q_graph_kcore — k-core decomposition of the nation trade graph
    * ([[operators.Graph.coreness]]: distributed h-index fixpoint, one
    * incidence join + one node-partitioned window per round, node-sized
    * integer state, observe-metric convergence). Core number per nation
    * = the deepest k-core it survives — the standard "dense hub vs
    * periphery" split a trade/social pack leads with. Oracle-checked
    * since round 11: the integer h-index rounds unroll as chained
    * MATERIALIZED CTEs with a self-checking fixpoint guard (a poison
    * row if one more round would still change an estimate — the
    * converged-or-loud-failure contract of the operator's own maxIter
    * throw); GraphSpec keeps the driver-side peeling reference golden
    * plus the one-task/distributed parity law. */
  val q_graph_kcore: Q = (s, d) => {
    val core = operators.Graph.coreness(
      nationTradeEdges(s, d), "src", "dst", "wc")
    core.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("coreness"))
      .orderBy(desc("coreness"), col("nation"))
  }

  /** q_graph_closeness — harmonic closeness centrality of the nation
    * trade graph ([[operators.Graph.harmonicCloseness]]): Σ 1/d(s,v)
    * over all sources, the disconnection-robust centrality. Runs the
    * EXACT all-sources form because the node set is nation-sized; at
    * 100 TB the same operator takes a landmark sample (closeness folds
    * linearly over sources). Oracle-checked since round 11: the
    * operator pre-rounds each 100/d term to exact pico-longs before
    * the sum (reduce-order-free by design), so the unrolled
    * multi-source min-plus chain plus one exact-long sum reproduces it
    * bit-exactly; GraphSpec keeps the golden vs a driver-side
    * all-pairs Dijkstra plus the one-task/distributed parity law. */
  val q_graph_closeness: Q = (s, d) => {
    val c = operators.Graph.harmonicCloseness(
      nationTradeEdges(s, d), "src", "dst", "wc")
    c.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_reached"), col("closeness"))
      .orderBy(desc("closeness"), col("nation"))
  }

  /** q_graph_betweenness — betweenness centrality of the nation trade
    * graph ([[operators.Graph.betweenness]]: distributed Brandes —
    * multi-source BFS wave forward, dependency sweep backward by
    * descending level, exact long path counts, pico-quantized δ folds).
    * Unweighted (hop-count) betweenness over the undirected simple
    * graph; exact all-sources here (node-small), landmark sample at
    * scale (Brandes–Pich). Oracle-checked since round 11: both phases
    * unroll — the BFS σ wave within |V|−1 levels, the backward sweep
    * as 24 levels of the operator's own pico-quantized δ fold (extra
    * levels are empty no-ops, so no convergence guard is needed);
    * GraphSpec keeps the structural goldens (path/star/diamond) and
    * the one-task/distributed parity law. */
  val q_graph_betweenness: Q = (s, d) => {
    val bt = operators.Graph.betweenness(
      nationTradeEdges(s, d), "src", "dst", "wc")
    bt.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("betweenness"))
      .orderBy(desc("betweenness"), col("nation"))
  }

  /** q_graph_eccentricity — weighted eccentricity of each nation in
    * the trade graph ([[operators.Graph.eccentricity]]): the cost of
    * the WORST trade route from each nation — min = the graph center,
    * max = the diameter endpoints. Rides the same multi-source
    * distance fixpoint as closeness/weighted-betweenness (one loop,
    * three folds). Oracle-checked since round 11 off the same
    * unrolled 24-round multi-source min-plus chain as the q_graph_sssp
    * oracle — exact cent-long mins, per-source max + reach count;
    * GraphSpec keeps the driver all-pairs-Dijkstra golden, the
    * landmark-subset contract and path parity. Distances display as
    * exact 2-dp revenue (cents/100). */
  val q_graph_eccentricity: Q = (s, d) => {
    val e = operators.Graph.eccentricity(
      nationTradeEdges(s, d), "src", "dst", "wc")
    e.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_reached"),
        round(col("ecc_cents").cast("double") / lit(100.0), 2).as("ecc_w"))
      .orderBy("ecc_w", "nation")
  }

  /** q_graph_betweenness_weighted — betweenness over the trade graph's
    * ACTUAL weights ([[operators.Graph.betweennessWeighted]]: Dijkstra-
    * wave Brandes — exact cent-long shortest-WEIGHT paths, σ counts
    * minimum-weight paths, δ via the chained distance/σ/δ fixpoints,
    * pico-quantized folds). The hop-count twin treats every trade lane
    * as equal; this one routes centrality along cheap corridors — the
    * form that matters when weights ARE the semantics (latency, cost,
    * trade volume). Oracle-checked since round 11: all three chained
    * fixpoints are bounded by |V|−1 on the nation graph and unroll —
    * min-plus distances, DAG-predecessor σ, DAG-successor δ with the
    * operator's pico-quantized fold; GraphSpec keeps the
    * weight-reroute structural golden, the uniform-weights ==
    * hop-count law, an independent driver-side Dijkstra–Brandes
    * reference on random weighted graphs, and one-task/distributed
    * parity. */
  val q_graph_betweenness_weighted: Q = (s, d) => {
    val bt = operators.Graph.betweennessWeighted(
      nationTradeEdges(s, d), "src", "dst", "wc")
    bt.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        col("betweenness").as("betweenness_w"))
      .orderBy(desc("betweenness_w"), col("nation"))
  }

  /** q_graph_betweenness_landmark — the 100 TB form of
    * [[q_graph_betweenness]]: landmark-sampled Brandes (Brandes–Pich
    * 2007) over K = 12 deterministically md5-picked source nations,
    * δ sums extrapolated by n/K. This is the betweenness you actually
    * run on a billion-node graph — sweep state is K·n rows instead of
    * n² — registered so the estimator itself (not just the exact
    * machinery) is exercised end-to-end at every SF. Oracle-checked
    * since round 11 like its exact twin: the unrolled Brandes chains
    * seeded from the same md5-picked landmarks, the n/K extrapolation
    * one double multiply in the operator's operand order; GraphSpec
    * keeps the K = n degenerate-equality law, the accuracy band vs the
    * exact fixture values, the one-task/distributed parity, and the
    * forward-state ∝ K cost bound. */
  val q_graph_betweenness_landmark: Q = (s, d) => {
    val bt = operators.Graph.betweenness(
      nationTradeEdges(s, d), "src", "dst", "wc", landmarkK = Some(12))
    bt.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        col("betweenness").as("betweenness_est"))
      .orderBy(desc("betweenness_est"), col("nation"))
  }

  /** q_graph_closeness_landmark — the 100 TB form of
    * [[q_graph_closeness]]: harmonic closeness from K = 12
    * deterministically md5-picked landmark sources, the per-node 1/d
    * sums extrapolated by n/K (closeness folds linearly over sources,
    * so the uniform sample is unbiased). `n_reached` stays the RAW
    * reached-landmark count (≤ K — the visible cost witness that the
    * sweep touched K sources, not n). Oracle-checked since round 11
    * like its exact twin: the unrolled weighted multi-source chain
    * restricted to the md5-picked seeds (DuckDB md5 == Spark md5),
    * n/K as one double multiply before the single 6-dp round;
    * GraphSpec keeps the K = n degenerate equality, the accuracy
    * band, and n_reached ≤ K. */
  val q_graph_closeness_landmark: Q = (s, d) => {
    val c = operators.Graph.harmonicCloseness(
      nationTradeEdges(s, d), "src", "dst", "wc", landmarkK = Some(12))
    c.join(
        broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_reached"),
        col("closeness").as("closeness_est"))
      .orderBy(desc("closeness_est"), col("nation"))
  }

  /** q_mutual_info — mutual information between market segment and
    * nation over the customer dim: the feature-selection screen
    * (I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y)))), the information-
    * theoretic sibling of [[q_chisq]]. ONE scan: the joint contingency
    * is the only aggregate over the data — both marginals and the
    * grand total fold FROM the checkpointed joint (domain-sized, not
    * data-sized), so at 100 TB this is one shuffle over (x,y) pairs
    * and then arithmetic on a |X|·|Y| relation. Counts are exact
    * longs; log args are single-rounding-free double ratios built the
    * same way on both engines; per-term 12-dp round + 6-dp final (the
    * [[q_theil]] ln-determinism discipline). */
  val q_mutual_info: Q = (s, d) => {
    val joint = Tables.customer(s, d)
      .select(col("c_mktsegment").as("x"), col("c_nationkey").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("nxy"))
      .localCheckpoint(eager = true)
    val mx = joint.groupBy("x").agg(sum(col("nxy")).as("nx"))
    val my = joint.groupBy("y").agg(sum(col("nxy")).as("ny"))
    val tot = joint.agg(sum(col("nxy")).as("n"))
    joint.join(mx, Seq("x")).join(my, Seq("y")).crossJoin(broadcast(tot))
      .select(col("n"),
        round(col("nxy").cast("double") / col("n") *
          log(col("nxy").cast("double") * col("n") /
            (col("nx").cast("double") * col("ny"))), 12).as("term"))
      .groupBy("n").agg(round(sum(col("term")), 6).as("mi"))
      .select(col("mi"), col("n").cast("long").as("n_rows"))
  }

  /** q_theil — Theil T inequality index over customer revenue
    * ((1/n)·Σ (x/μ)·ln(x/μ), the information-theoretic twin of
    * [[q_gini]] — decomposable across subgroups where Gini is not):
    * customer-sized relation materialized once for the moment fold and
    * the term pass; terms 12-dp-rounded (built from the 1-row broadcast
    * (n, Σx)), final 6. */
  val q_theil: Q = (s, d) => {
    val r = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(round(sum(col("o_totalprice")), 2).as("x"))
      .localCheckpoint(true)
    val m = r.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val mu = col("s") / col("n")
    r.crossJoin(broadcast(m))
      .groupBy("n")
      .agg(round(sum(round(col("x") / mu * log(col("x") / mu), 12)) /
        col("n"), 6).as("theil"))
      .select(col("theil"), col("n").as("n_customers"))
  }

  /** q_user_features — the wide per-user ML feature table (churn-model
    * input): event/purchase counts, spend, active days, span, recency
    * and intensity — ALL folded in ONE user-keyed conditional-aggregate
    * pass plus the 1-row max-day broadcast. The capstone shape: at
    * 100 TB this is a single shuffle of one row per user. */
  val q_user_features: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    val base = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 2).as("total_spend"),
        countDistinct(col("day")).as("active_days"),
        min("day").as("first_day"), max("day").as("last_day"))
    val mx = ev.agg(max("day").as("ref"))
    base.crossJoin(broadcast(mx))
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("total_spend"), col("active_days"),
        datediff(col("last_day"), col("first_day")).cast("long")
          .as("span_days"),
        datediff(col("ref"), col("last_day")).cast("long").as("recency_days"),
        round(col("n_events").cast("double") / col("active_days"), 6)
          .as("events_per_active_day"))
      .orderBy("user_id")
  }

  /** q_abc — ABC inventory classification (A = parts making the first
    * 80 % of revenue, B = next 15, C = tail): revenue in CENTS-exact
    * integers (`round(Σ·100)` — double revenue sums would put class
    * boundaries on a fold-order lottery), cumulative share via
    * [[operators.Analytics.globalRunningSum]] over the part-sized
    * relation, class thresholds as pure integer predicates. */
  val q_abc: Q = (s, d) => {
    val r = Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(round(sum(col("l_extendedprice")) * 100, 0).cast("long")
        .as("cents"))
    val o = operators.Analytics.globalRunningSum(
      r, Seq(desc("cents"), col("l_partkey")), "cents", "cum")
    val t = o.agg(sum(col("cents")).as("total"))
    o.crossJoin(broadcast(t))
      .select(col("l_partkey"),
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise("C").as("cls"))
      .groupBy("cls").agg(count(lit(1)).as("n_parts"))
      .orderBy("cls")
  }

  /** q_segment_migration — customer spend-quintile transition matrix
    * between two years (the segment-drift view a CRM mart carries):
    * per-year revenue quintiles via YEAR-KEYED `ntile` windows (groups
    * sort inside their partitions), then a customer-keyed self-join
    * counts the 25 (from, to) cells. */
  val q_segment_migration: Q = (s, d) => {
    val y = Tables.orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val w = Window.partitionBy("yr").orderBy(desc("rev"), col("o_custkey"))
    val r = y.withColumn("q", ntile(5).over(w).cast("long")).localCheckpoint(true)
    val a = r.filter(col("yr") === 1996)
      .select(col("o_custkey"), col("q").as("q_from"))
    val b = r.filter(col("yr") === 1997)
      .select(col("o_custkey"), col("q").as("q_to"))
    a.join(b, Seq("o_custkey"))
      .groupBy("q_from", "q_to").agg(count(lit(1)).as("n"))
      .orderBy("q_from", "q_to")
  }

  /** q_auc — grouped ROC-AUC by the rank-sum (Mann–Whitney) identity,
    * computed WINDOWLESS from the per-(group, score) class histogram:
    * AUC = Σ_{i,j} pos_i·neg_j·([s_i>s_j] + ½[s_i=s_j]) / (P·N). The
    * label is a return (R vs A among finished lines), the score the
    * line quantity, grouped by ship year — the model-eval shape an ML
    * mart runs per segment. The histogram is SCORE-DOMAIN-sized (the
    * standard at-scale AUC form: continuous scores get bucketed first;
    * here the domain is the 50 integral quantities), so the pairwise
    * self-join is bounded arithmetic independent of data rows — no
    * low-cardinality window, no global sort, and the one data-
    * proportional stage is the histogram aggregate itself. Counts are
    * exact longs; the pair products fold in Decimal(38,0) (pos·neg per
    * cell can pass 2⁶³ at petabyte group sizes; DuckDB mirrors with
    * HUGEINT); the single double is one division, rounded at 6 dp.
    * Degenerate one-class groups are filtered on BOTH engines. */
  val q_auc: Q = (s, d) => {
    val base = Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F" &&
        col("l_returnflag").isin("R", "A"))
      .select(year(col("l_shipdate")).cast("long").as("grp"),
        col("l_quantity").as("score"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val h = base.groupBy("grp", "score")
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      .localCheckpoint(eager = true)
    operators.Analytics.aucFromHistogram(h, Seq("grp"))
      .select(col("grp").as("ship_year"), col("n_pos"), col("n_neg"),
        col("auc"))
      .orderBy("ship_year")
  }

  /** q_pr_curve — grouped precision/recall/F1 at EVERY score threshold,
    * from the same per-(group, score) class histogram as [[q_auc]] (the
    * eval-pack sibling): tp(t) = Σ_{s ≥ t} pos and fp(t) = Σ_{s ≥ t}
    * neg fold by a within-group histogram self-join — score-DOMAIN²
    * arithmetic, independent of data rows, hash-joined on the group key
    * (no low-cardinality window, no global sort; the one
    * data-proportional stage is the histogram aggregate). Counts exact
    * longs; F1 = 2·tp/(2·tp+fp+fn) folds from integers in one rounded
    * division (never composed from two rounded doubles). */
  val q_pr_curve: Q = (s, d) => {
    val base = Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F" &&
        col("l_returnflag").isin("R", "A"))
      .select(year(col("l_shipdate")).cast("long").as("grp"),
        col("l_quantity").cast("long").as("score"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val h = base.groupBy("grp", "score")
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      .localCheckpoint(eager = true)
    operators.Analytics.prCurveFromHistogram(h, Seq("grp"))
      .withColumnRenamed("grp", "ship_year")
      .orderBy("ship_year", "threshold")
  }

  /** q_avg_precision — grouped AVERAGE PRECISION (the area under the
    * precision-recall curve by the step rule: AP = Σ_t ΔR(t)·P(t) =
    * Σ_t pos_t·prec(t)/P), folded entirely from the [[q_auc]] class
    * histogram: the per-threshold precision comes from the same
    * within-group domain² cumulative self-join as [[q_pr_curve]], each
    * threshold's term pos_t·tp/(tp+fp) is quantized to an exact
    * 1e-6-grain long BEFORE the group sum (term ≤ pos_t, so micro-longs
    * stay inside double-exact range at any data scale), and AP is one
    * rounded division by the positive total. The AUC-PR companion of
    * q_auc — the metric of record under class imbalance. */
  val q_avg_precision: Q = (s, d) => {
    val base = Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F" &&
        col("l_returnflag").isin("R", "A"))
      .select(year(col("l_shipdate")).cast("long").as("grp"),
        col("l_quantity").cast("long").as("score"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val h = base.groupBy("grp", "score")
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      .localCheckpoint(eager = true)
    operators.Analytics.avgPrecisionFromHistogram(h, Seq("grp"))
      .withColumnRenamed("grp", "ship_year")
      .orderBy("ship_year")
  }

  /** q_kendall_tau — grouped Kendall rank correlation (τ-b, the
    * tie-corrected form) between quantity and discount, folded from a
    * 2-D CONTINGENCY table — the rank-correlation shape that actually
    * runs at 100 TB: both variables live on bounded integral domains
    * (quantity 1..50, discount-cents 0..10 — continuous inputs get
    * quantized upstream, the histogram contract), so concordant /
    * discordant pair mass is domain⁴ cell-pair arithmetic (≤ 550² rows
    * per group) over counts, never an O(N²) row join or a global sort.
    * Doubled-form folds avoid halving: num2 = 2(C−D), D0 = N(N−1),
    * T1 = Σ t_x(t_x−1), T2 = Σ t_y(t_y−1), τ = num2/√((D0−T1)(D0−T2))
    * — every count Decimal(38,0) (pair masses pass 2⁶³ at petabyte N;
    * DuckDB mirrors with HUGEINT), one IEEE sqrt (correctly rounded on
    * both engines) and one rounded division. All-tied degenerate
    * groups (zero denominator) are filtered on both engines. */
  val q_kendall_tau: Q = (s, d) => {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = Tables.lineitem(s, d)
      .select(year(col("l_shipdate")).cast("long").as("grp"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_discount") * lit(100.0)).cast("long").as("y"))
    val cells = base.groupBy("grp", "x", "y").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val c1 = cells.select(col("grp"), col("x").as("x1"), col("y").as("y1"),
      col("n").as("n1"))
    val c2 = cells.select(col("grp"), col("x").as("x2"), col("y").as("y2"),
      col("n").as("n2"))
    val cd = c1.join(c2, Seq("grp")).where(col("x2") > col("x1"))
      .select(col("grp"),
        when(col("y2") > col("y1"),
          col("n1").cast(dec) * col("n2").cast(dec))
          .otherwise(lit(0L).cast(dec)).as("c"),
        when(col("y2") < col("y1"),
          col("n1").cast(dec) * col("n2").cast(dec))
          .otherwise(lit(0L).cast(dec)).as("dd"))
      .groupBy("grp").agg(sum(col("c")).as("cc"), sum(col("dd")).as("dsc"))
    val tx = cells.groupBy("grp", "x").agg(sum(col("n")).as("t"))
      .groupBy("grp").agg(
        sum(col("t").cast(dec) * (col("t") - lit(1L)).cast(dec)).as("t1"))
    val ty = cells.groupBy("grp", "y").agg(sum(col("n")).as("t"))
      .groupBy("grp").agg(
        sum(col("t").cast(dec) * (col("t") - lit(1L)).cast(dec)).as("t2"))
    val nn = cells.groupBy("grp").agg(sum(col("n")).as("nr"))
      .select(col("grp"), col("nr"),
        (col("nr").cast(dec) * (col("nr") - lit(1L)).cast(dec)).as("d0"))
    cd.join(tx, Seq("grp")).join(ty, Seq("grp")).join(nn, Seq("grp"))
      .where(col("d0") > col("t1") && col("d0") > col("t2"))
      .select(col("grp").as("ship_year"), col("nr").as("n_rows"),
        round((lit(2L).cast(dec) * (col("cc") - col("dsc"))).cast("double") /
          sqrt((col("d0") - col("t1")).cast("double") *
            (col("d0") - col("t2")).cast("double")), 6).as("tau"))
      .orderBy("ship_year")
  }

  /** q_holt_winters — weekly-seasonal forecast of daily event volume
    * per event type ([[operators.Analytics.holtWintersForecast]]:
    * additive Holt–Winters, trend-adjusted init, period 7, 7-day
    * horizon). The data-proportional work is ONE (type, day) count
    * aggregate; the triple recurrence runs per key on the bounded
    * calendar-length series in a single task. Oracle-checked since
    * round 11: the fold is one deterministic left-to-right double
    * recurrence, so a DuckDB recursive CTE stepping the same IEEE
    * operations in the same operand order reproduces it bit-exactly
    * (verified to the last ulp at sf0.01 and sf0.1 before wiring).
    * LawsSpec additionally pins the exact-fit law (linear + seasonal
    * input ⇒ zero residual for ANY smoothing constants) and a
    * driver-side recurrence reference. */
  val q_holt_winters: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .select(col("event_type"),
        unix_date(to_date(col("ts"))).cast("long").as("day_i"))
      .groupBy("event_type", "day_i")
      .agg(count(lit(1)).cast("double").as("n"))
    // fillValue = 0: a day with zero events is a real observation of 0
    // on the calendar grid, not a skippable row — without it the weekly
    // seasonal phase of everything after a gap day shifts by one
    operators.Analytics.holtWintersForecast(daily, Seq("event_type"),
        "day_i", "n", period = 7, horizon = 7, fillValue = Some(0.0))
      .orderBy("event_type", "h")
  }

  /** q_lift_curve — grouped lift / cumulative-gains sweep
    * ([[operators.Analytics.liftFromHistogram]]): at each score
    * threshold, what fraction of the population is flagged, what
    * fraction of positives that captures (gain) and how many times
    * better than random the slice is (lift = precision/prevalence).
    * The campaign-targeting twin of [[q_pr_curve]], same domain²
    * histogram fold, every ratio ONE rounded division of exact longs. */
  val q_lift_curve: Q = (s, d) => {
    val base = Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F" &&
        col("l_returnflag").isin("R", "A"))
      .select(year(col("l_shipdate")).cast("long").as("grp"),
        col("l_quantity").cast("long").as("score"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val h = base.groupBy("grp", "score")
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      .localCheckpoint(eager = true)
    operators.Analytics.liftFromHistogram(h, Seq("grp"))
      .withColumnRenamed("grp", "ship_year")
      .orderBy("ship_year", "threshold")
  }

  /** q_mrr — grouped MEAN RECIPROCAL RANK: each order is a "query"
    * whose lineitems rank by (extendedprice DESC, linenumber); the
    * reciprocal rank of the FIRST returned item (returnflag R) scores
    * the ranking, orders with no returned item score 0 (the standard
    * MRR convention). Per-order work is a high-cardinality window +
    * one keyed min — never a global sort; the cross-order mean folds
    * exact 1e-6-grain micro-longs (round(1e6/rank) is identical on
    * both engines — integral inputs, one rounding), one division per
    * group. Completes the ranking-metric trio with [[q_ndcg]] and
    * [[q_avg_precision]]. */
  val q_mrr: Q = (s, d) => {
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey")
      .orderBy(desc("l_extendedprice"), col("l_linenumber"))
    val firstRel = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_returnflag"))
      .withColumn("r", row_number().over(byScore))
      .where(col("l_returnflag") === "R")
      .groupBy("l_orderkey").agg(min(col("r")).as("first_rel"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .join(firstRel, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderpriority"),
        coalesce(round(lit(1e6) / col("first_rel")).cast("long"), lit(0L))
          .as("rr_micro"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum(col("rr_micro")).as("m"))
      .select(col("o_orderpriority").as("priority"), col("n_orders"),
        round(col("m").cast("double") / col("n_orders") / lit(1e6), 6)
          .as("mrr"))
      .orderBy("priority")
  }

  /** q_isotonic_calibration — the monotone probability calibrator
    * ([[operators.Analytics.isotonicFromHistogram]]: pool-adjacent-
    * violators over the q_auc class histogram, per ship-year group).
    * Where [[q_calibration]] DIAGNOSES miscalibration, this FITS the
    * correction: fitted(score) is the isotonic regression of the
    * empirical positive rate — the post-hoc calibration map a serving
    * layer applies. Oracle-checked since round 11 via the PAV minimax
    * closed form — fitted(i) = max over j≤i of min over k≥i of the
    * weighted segment mean, exact (P, N) pairs carried through
    * min_by/max_by so the 6-dp division is integer HALF_UP on both
    * engines (bit-exact at sf0.01 and sf0.1 before wiring); LawsSpec
    * additionally pins monotonicity, the pooled-mass ledger,
    * idempotence and an independent driver-side PAV reference. */
  val q_isotonic_calibration: Q = (s, d) => {
    val base = Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F" &&
        col("l_returnflag").isin("R", "A"))
      .select(year(col("l_shipdate")).cast("long").as("grp"),
        col("l_quantity").cast("long").as("score"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val h = base.groupBy("grp", "score")
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
    operators.Analytics.isotonicFromHistogram(h, Seq("grp"))
      .withColumnRenamed("grp", "ship_year")
      .orderBy("ship_year", "score")
  }

  /** q_calibration — reliability diagram + per-bin Brier score over the
    * eval pack's (score, label) pairs: predicted probability p̂ =
    * score/50 (the bounded-score contract — continuous scores get
    * quantized upstream exactly like the AUC histogram), 10 equi-width
    * bins, per bin the count, mean p̂, empirical positive rate, their
    * gap and the Brier contribution. EVERY numerator is an exact
    * integer fold (score and 50·y are longs, so Σ(score−50y)² is
    * exact); each output is ONE rounded division — no composed rounded
    * doubles, no window, one data-proportional aggregate. */
  val q_calibration: Q = (s, d) => {
    val base = Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F" &&
        col("l_returnflag").isin("R", "A"))
      .select(col("l_quantity").cast("long").as("score"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val h = base.groupBy("score")
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
    operators.Analytics.calibrationFromHistogram(h, Seq.empty)
      .orderBy("bin")
  }

  /** q_ndcg — grouped ranking quality (NDCG@10): each order is a
    * "query" whose lineitems rank by (extendedprice DESC, linenumber)
    * — the retrieval-order proxy — against graded relevance
    * l_quantity; mean NDCG folds per order priority (the
    * search/RAG-eval shape: millions of bounded ranking groups, one
    * high-cardinality window partition per group — never a global
    * sort). Determinism discipline: each DCG term rel/log₂(rank+1) is
    * quantized to an exact pico-long BEFORE its sum (log₂ spelled
    * ln(r+1)/ln(2) identically on both engines — 10 distinct ln inputs
    * at k = 10), per-order NDCG is one 6-dp division of exact longs,
    * and the cross-order mean folds 1e-6-grain micro-longs (the
    * [[q_pagerank]] exact-fold rule) so no engine ever sums raw
    * doubles. */
  val q_ndcg: Q = (s, d) => {
    val ranked = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_quantity").cast("long").as("rel"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey")
      .orderBy(desc("l_extendedprice"), col("l_linenumber"))
    val byRel = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey")
      .orderBy(desc("rel"), col("l_linenumber"))
    def picoTerm(rankCol: Column): Column =
      round(col("rel").cast("double") /
        (log(rankCol.cast("double") + lit(1.0)) / log(lit(2.0))) * lit(1e12))
        .cast("long")
    val terms = ranked
      .withColumn("r_score", row_number().over(byScore))
      .withColumn("r_ideal", row_number().over(byRel))
      .select(col("l_orderkey"),
        when(col("r_score") <= 10, picoTerm(col("r_score")))
          .otherwise(lit(0L)).as("dcg_t"),
        when(col("r_ideal") <= 10, picoTerm(col("r_ideal")))
          .otherwise(lit(0L)).as("idcg_t"))
    val perOrder = terms.groupBy("l_orderkey")
      .agg(sum(col("dcg_t")).as("dcg_p"), sum(col("idcg_t")).as("idcg_p"))
      .where(col("idcg_p") > 0L)
      .select(col("l_orderkey"),
        round(col("dcg_p").cast("double") / col("idcg_p"), 6).as("ndcg"))
    perOrder
      .join(Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("ndcg") * lit(1e6)).cast("long")).as("micro"))
      .select(col("o_orderpriority").as("priority"), col("n_orders"),
        round(col("micro").cast("double") / col("n_orders") / lit(1e6), 6)
          .as("mean_ndcg"))
      .orderBy("priority")
  }

  /** q_graph_modularity — Newman–Girvan modularity of the REGION
    * partition over the weighted nation trade graph
    * ([[operators.Graph.modularity]]): how much trade stays inside a
    * region versus what a degree-preserving random graph would put
    * there. The partition is a dim attribute (nation → region), so the
    * score is oracle-checkable in closed form — unlike the LPA labels
    * of q_graph_communities, which need the iterative fixpoint. Exact
    * cent-long folds promoted to Decimal(38,0) for the squared
    * strengths (↔ DuckDB HUGEINT); one final division rounded at 6 dp;
    * w_total displayed as exact 2-dp dollars. */
  val q_graph_modularity: Q = (s, d) => {
    val comm = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_regionkey"))
    operators.Graph.modularity(nationTradeEdges(s, d), "src", "dst", "wc",
        comm, "n_nationkey", "n_regionkey")
      .select(col("n_communities"),
        round(col("w_sum").cast("double") / lit(100.0), 2).as("w_total"),
        col("modularity"))
  }

  /** q_graph_ktruss — 4-truss of the STRONG trade graph
    * ([[operators.Graph.ktruss]]): edges above the mean edge weight
    * (the thresholding that makes cohesion non-trivial on a near-
    * complete graph), peeled until every surviving edge sits on ≥ 2
    * triangles of survivors — the standard cohesive-subgraph cut above
    * k-core (k-truss bounds EDGE embeddedness, not node degree).
    * Reports each surviving edge with its support, nation-named.
    * Oracle-checked since round 11: the integer peel unrolls as
    * chained MATERIALIZED CTEs behind a self-checking guard (the
    * final support pass poisons the output if any surviving edge is
    * still below k−2 — the operator's converged-or-throw contract in
    * oracle form); the reference golden (driver-side peeling on
    * pseudorandom graphs) and the one-task/distributed parity law
    * stay in GraphSpec. The mean
    * threshold folds IN-PLAN: the 1-row aggregate broadcast-cross-joins
    * back onto the edges (the q_theil/q_abc discipline — the registry
    * never blocks the driver mid-plan for a scalar). */
  val q_graph_ktruss: Q = (s, d) => {
    // the edge pin is released once the truss has pinned its edge list
    val truss = Checkpoints.scoped(s) { pin =>
      val e = pin(nationTradeEdges(s, d))
      val meanDf = e.agg((sum(col("wc")) / count(lit(1))).as("__mean_wc"))
      val strong = e.crossJoin(broadcast(meanDf))
        .where(col("wc").cast("double") > col("__mean_wc"))
        .drop("__mean_wc")
      operators.Graph.ktruss(strong, "src", "dst", "wc", k = 4)
    }
    val names = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    truss
      .join(broadcast(names.select(col("n_nationkey").as("ka"),
        col("n_name").as("nation_a"))), col("a") === col("ka"))
      .join(broadcast(names.select(col("n_nationkey").as("kb"),
        col("n_name").as("nation_b"))), col("b") === col("kb"))
      .select(col("nation_a"), col("nation_b"), col("support"))
      .orderBy("nation_a", "nation_b")
  }

  /** q_bpe_encode — ENCODE the corpus with the learned BPE merges (the
    * apply side of [[q_bpe_merges]]): per document, the word count,
    * subword count and fertility (subwords per word) under the 12-rule
    * merge table — the tokenizer-budget planning view. The encode is
    * DICTIONARY-ENCODED (the q_jaro_match discipline): merges replay
    * once per DISTINCT word (vocabulary-sized work — Heaps' law), then
    * a word-keyed join expands to per-document counts; per-word state
    * is the merge table riding the closure (12 pairs, KBs). The merges
    * come from the PERSISTED artifact ([[Text.bpeWriteMerges]] →
    * [[Text.bpeReadMerges]] — the write/apply lifecycle every encode
    * job at scale runs: train once, read the k-row table, never
    * retrain per query; the extend law lives in ScalePathSpec).
    * Oracle-checked since round 11: the oracle re-derives the same 12
    * merges (write == train) and applies them in rank order to every
    * vocab word via the q_bpe_merges delimited-string replaces;
    * encode-law goldens stay in FunctionsSpec. */
  val q_bpe_encode: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val vocab = docs.select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true)
    val head = vocab.orderBy(desc("cnt"), col("word")).limit(4096)
    val idxDir = scratchDir("graft_bpe_idx", d)
    Text.bpeWriteMerges(head, "word", "cnt", k = 12, idxDir)
    val merges = Text.bpeReadMerges(s, idxDir)
    val enc = Text.bpeEncode(merges)
    val wordLen = vocab.select(col("word"))
      .withColumn("n_sub", size(enc(col("word"))).cast("long"))
    val docWords = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
    docWords.join(wordLen, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sub")).as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 6)
          .as("subwords_per_word"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // round 13: corpus-audit + mixture-planning pack
  // -------------------------------------------------------------------

  /** q_contamination_frac — GRADED benchmark-contamination census, the
    * diagnostic sibling of [[q_decontaminate]]'s drop-or-keep verdict:
    * per corpus doc (id ≥ 10), how many of its distinct 5-gram shingles
    * appear anywhere in the held-out set (docs 0–9, the same fixture
    * carve), as exact integer HALF_UP parts-per-million. A pipeline
    * wants this graded view before choosing a drop threshold — a doc
    * quoting one benchmark sentence and a doc that IS a benchmark copy
    * both fail the boolean test, but only one should survive a 5% cut.
    * Probe shingles broadcast (benchmark-sized — the [[q_decontaminate]]
    * boundedness argument); the corpus explode aggregates straight back
    * to doc_id — one shuffle, no corpus-side join or re-scan. The ppm
    * numerator stays ≤ 2·10⁶·|shingles| so the double floor-division is
    * exact on both engines. */
  val q_contamination_frac: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sh = docs.select(col("doc_id"),
      explode(Dedup.shingleSet(5)(Text.tokens(col("text")))).as("sh"))
    val probe = sh.filter(col("doc_id") < 10).select("sh").distinct()
      .withColumn("__hit", lit(1))
    sh.filter(col("doc_id") >= 10)
      .join(broadcast(probe), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("contam_ppm",
        operators.Analytics.halfUpPpm(col("n_hit"), col("n_shingles")))
      .select("doc_id", "n_shingles", "n_hit", "contam_ppm")
      .orderBy("doc_id")
  }

  /** q_spearman — Spearman rank correlation (ties by average rank)
    * between per-customer order count and lifetime spend — the rank twin
    * of [[q_kendall_tau]] and the monotone-association check a feature
    * pipeline runs before trusting a linear correlation. Ranks are
    * computed scale-safe: per-VALUE counts (bounded by the distinct
    * domain, never a per-row window), then
    * [[operators.Analytics.globalRunningSum]] turns them into exclusive
    * prefix counts without a single-partition window; the doubled
    * average rank 2r̄ = 2·#{<v} + #{=v} + 1 stays integer. The final ρ
    * is ONE double expression over exact integer sums (cent-long spend,
    * Decimal(38,0) folds — the q_kendall_tau overflow discipline; the
    * per-row products r̄²∈long hold to n ≈ 1.5·10⁹ rows, the sums
    * beyond), so both engines round the identical value. */
  val q_spearman: Q = (s, d) => {
    val per = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("y"))
      .localCheckpoint(eager = true) // feeds two rank derivations + fold
    def ranks2(vCol: String, out: String): DataFrame = {
      val cnts = per.groupBy(col(vCol)).agg(count(lit(1)).as("cnt"))
      operators.Analytics.globalRunningSum(
          cnts, Seq(col(vCol)), "cnt", "cum_incl")
        .select(col(vCol),
          (col("cum_incl") * 2 - col("cnt") + 1).as(out))
    }
    val dec = "decimal(38,0)"
    per
      .join(ranks2("x", "rx2"), Seq("x"))
      .join(ranks2("y", "ry2"), Seq("y"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("rx2")).cast(dec).as("sx"),
        sum(col("ry2")).cast(dec).as("sy"),
        sum((col("rx2") * col("rx2")).cast(dec)).as("sxx"),
        sum((col("ry2") * col("ry2")).cast(dec)).as("syy"),
        sum((col("rx2") * col("ry2")).cast(dec)).as("sxy"))
      .select(col("n").cast("long").as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("rho"))
  }

  /** q_cohen_kappa — inter-rater agreement (Cohen's κ) between two
    * quality heuristics, per language: rater A flags length
    * (n_chars ≥ 280), rater B flags short mean word length
    * (10·nonspace_chars ≤ 45·tokens — integer-exact, no float
    * threshold). A pipeline comparing two quality classifiers needs κ,
    * not raw agreement: both raters pass most docs, so agreement is
    * inflated by chance and κ corrects for it. One narrow pass builds
    * the 2×2 confusion per lang; κ = 2(n₁₁n₀₀ − n₁₀n₀₁) /
    * ((n₁₁+n₁₀)(n₁₀+n₀₀) + (n₁₁+n₀₁)(n₀₁+n₀₀)) is exact-integer until
    * the single rounded division (null if the denominator degenerates —
    * a one-cell language has no chance-agreement to correct). */
  val q_cohen_kappa: Q = (s, d) => {
    val t = Tables.documents(s, d).select(col("lang"),
      when(col("n_chars") >= 280, 1L).otherwise(0L).as("a"),
      when(length(regexp_replace(col("text"), " ", "")) * 10 <=
        Text.tokenCount(col("text")) * 45, 1L).otherwise(0L).as("b"))
    t.groupBy("lang")
      .agg(sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .withColumn("kappa",
        round((lit(2L) * (col("n11") * col("n00") - col("n10") * col("n01")))
            .cast("double") /
          nullif(((col("n11") + col("n10")) * (col("n10") + col("n00")) +
            (col("n11") + col("n01")) * (col("n01") + col("n00")))
            .cast("double"), lit(0.0)), 6))
      .select("lang", "n11", "n10", "n01", "n00", "kappa")
      .orderBy("lang")
  }

  /** q_mixture_epochs — α=0.5 temperature-sampled data-mixture plan:
    * per source, its token count, its sqrt-scaled share of a
    * 10×-total-tokens training budget, and the repeat factor (epochs)
    * that share implies — the standard multilingual/multi-source
    * rebalancing that upsamples small sources without letting any
    * source dominate. The sqrt weight is quantized to an exact
    * micro-long (IEEE sqrt is correctly rounded on both engines, so the
    * quantized weight — and the integer total it sums to — is
    * deterministic); share and epochs are then single double
    * expressions over exact integers with identical operand order on
    * both engines. One groupBy over sources plus a broadcast scalar —
    * no second corpus pass. */
  val q_mixture_epochs: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(Text.tokenCount(col("text"))).as("tokens"))
      .withColumn("sw",
        floor(sqrt(col("tokens").cast("double")) * 1000000.0 + 0.5)
          .cast("long"))
      .localCheckpoint(eager = true) // feeds the scalar fold + final map
    val tot = toks.agg(sum(col("tokens")).as("total_tokens"),
      sum(col("sw")).as("total_sw"))
    toks.crossJoin(broadcast(tot))
      .withColumn("share_ppm",
        floor(col("sw").cast("double") * 1000000.0 /
          col("total_sw").cast("double") + 0.5).cast("long"))
      .withColumn("epochs_dp4",
        floor(col("sw").cast("double") * (col("total_tokens") * 10L)
            .cast("double") * 10000.0 /
          (col("total_sw").cast("double") * col("tokens").cast("double")) +
          0.5).cast("long"))
      .select("source", "tokens", "share_ppm", "epochs_dp4")
      .orderBy("source")
  }

  /** q_curriculum_bins — curriculum staging: docs ranked by length
    * (n_chars, doc_id-tiebroken) into 4 exact quartile stages, each
    * stage's doc count, token budget and length span — the
    * shortest-first schedule a curriculum loader feeds from. The global
    * ranking is scale-safe ([[operators.Analytics.globalRowNumber]]
    * range-repartitions and numbers by partition offsets — the
    * q_concentration discipline) and the stage is the exact ntile
    * ARITHMETIC on (rank, n), reproducing SQL ntile bit-for-bit. */
  val q_curriculum_bins: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      Text.tokenCount(col("text")).as("n_tokens"))
    val ranked = operators.Analytics.globalRowNumber(
      docs, Seq(col("n_chars"), col("doc_id")), "rank")
    val n = ranked.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(n))
      .withColumn("stage",
        operators.Analytics.ntileOfRank(col("rank"), col("n_total"), 4))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("stage")
  }

  // -------------------------------------------------------------------
  // round 13: privacy-audit + containment pack
  // -------------------------------------------------------------------

  /** q_k_anonymity — k-anonymity census over the release-candidate
    * quasi-identifier (c_nationkey, c_mktsegment, acctbal bucketed to
    * 1000): for each equivalence-class SIZE, how many classes and rows
    * sit at that size. The census — not a per-class dump — is what an
    * anonymization review reads: rows in size-1 classes are uniquely
    * re-identifiable, and the k at which the cumulative row mass
    * crosses the policy line picks the generalization
    * ([[q_generalize_ladder]] is the planning twin). Two narrow
    * groupBys (classes, then sizes), no joins; the class relation is
    * bounded by the quasi-id domain, far below corpus cardinality at
    * any SF. The bucket edge is floor over ONE IEEE division of the
    * raw double — bit-identical across engines. */
  val q_k_anonymity: Q = (s, d) => {
    val cls = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .agg(count(lit(1)).as("class_size"))
    cls.groupBy("class_size")
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).as("n_rows"))
      .orderBy("class_size")
  }

  /** q_l_diversity — distinct-l diversity audit: k-anonymity alone
    * leaves a homogeneity attack open (a size-50 class whose SENSITIVE
    * value is constant discloses it for all 50), so per equivalence
    * class (c_nationkey, c_mktsegment) count the distinct sensitive
    * values (acctbal tier, width 2000 — an attribute OUTSIDE the
    * quasi-id) alongside the class size, and flag classes below l=3.
    * One exact groupBy with a distinct-count — Spark's partial
    * aggregation dedups (key, sensitive) map-side, so the shuffle
    * carries the bounded distinct domain, not the row count. */
  val q_l_diversity: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(floor(col("c_acctbal") / 2000.0).cast("long")).as("l"),
        (countDistinct(floor(col("c_acctbal") / 2000.0).cast("long")) >= 3)
          .cast("long").as("diverse_ok"))
      .orderBy("c_nationkey", "c_mktsegment")

  /** q_generalize_ladder — generalization planning for
    * [[q_k_anonymity]]: replay the equivalence-class census at each
    * rung of a bucket-width ladder (500 → 20000 on acctbal) and report,
    * per width, the class count, the minimum class size, the rows in
    * classes below k=5 (the at-risk mass) and whether the rung clears
    * k≥5 — the table an anonymization pass reads to pick the COARSEST
    * width that still meets policy. One corpus scan exploded ×5 rungs
    * into a single groupBy (the rung is just another grouping key — no
    * per-rung re-scan, no union of 5 jobs), then a 5-row fold. Class
    * relation stays quasi-id-bounded at every rung. */
  val q_generalize_ladder: Q = (s, d) => {
    val widths = array(Seq(500.0, 1000.0, 2500.0, 5000.0, 20000.0)
      .map(lit): _*)
    val cls = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"),
        explode(widths).as("w"))
      .groupBy(col("w"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / col("w")).as("bucket"))
      .agg(count(lit(1)).as("class_size"))
    cls.groupBy(col("w").cast("long").as("width"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("class_size")).as("min_class"),
        sum(when(col("class_size") < 5, col("class_size")).otherwise(0L))
          .as("rows_at_risk"),
        (min(col("class_size")) >= 5).cast("long").as("k5_ok"))
      .orderBy("width")
  }

  /** q_t_closeness — t-closeness audit, completing the classic privacy
    * triple ([[q_k_anonymity]], [[q_l_diversity]]): l-diversity still
    * leaks when a class's sensitive DISTRIBUTION skews far from the
    * corpus (a class with 3 distinct but 95%-one-tier values passes
    * l=3 yet discloses). Per equivalence class (c_nationkey,
    * c_mktsegment), the Earth Mover's Distance between the class's
    * acctbal-tier distribution and the global one over the ORDERED tier
    * domain — for 1-D ordered domains EMD is exactly the mean absolute
    * cumulative gap, and with rational probabilities it has an EXACT
    * integer numerator: t = Σ_i |N·cumC_i − n_c·cumG_i| / (n_c·N·(m−1))
    * (cumC/cumG = cumulative class/global tier counts, m = tier-domain
    * size). Every fold is exact long arithmetic (numerator ≤ n_c·N·m ≈
    * 2.3·10⁹ at sf0.1 ≪ 2⁵³); the single IEEE division + 6dp round is
    * the only float op — bit-identical across engines. Scale shape: one
    * (class, tier) groupBy; everything after is domain-bounded (the
    * dense class×tier grid is |classes|·|tiers| rows — the k-anonymity
    * boundedness argument), windows partition by class over the tier
    * domain, never by row. */
  val q_t_closeness: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ct = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("tier"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = true) // feeds global tiers, classes, grid
    val g = ct.groupBy("tier").agg(sum(col("cnt")).as("g"))
      .withColumn("cum_g", sum(col("g")).over(
        Window.orderBy("tier").rowsBetween(Window.unboundedPreceding, 0)))
    val totals = g.agg(sum(col("g")).as("n_total"),
      count(lit(1)).as("m_tiers"))
    val classes = ct.groupBy("c_nationkey", "c_mktsegment")
      .agg(sum(col("cnt")).as("class_size"))
    val dense = classes
      .crossJoin(broadcast(g.select("tier", "cum_g")))
      .join(ct, Seq("c_nationkey", "c_mktsegment", "tier"), "left")
      .withColumn("cnt0", coalesce(col("cnt"), lit(0L)))
      .withColumn("cum_c", sum(col("cnt0")).over(
        Window.partitionBy("c_nationkey", "c_mktsegment")
          .orderBy("tier").rowsBetween(Window.unboundedPreceding, 0)))
    dense.crossJoin(broadcast(totals))
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        col("class_size"), col("n_total"), col("m_tiers"))
      .agg(sum(abs(col("n_total") * col("cum_c") -
        col("class_size") * col("cum_g"))).as("t_num"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("class_size"),
        col("t_num"),
        round(col("t_num").cast("double") /
          (col("class_size") * col("n_total") * (col("m_tiers") - 1))
            .cast("double"), 6).as("t"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** q_dp_count — differentially-private count RELEASE, extending the
    * audit triple ([[q_k_anonymity]], [[q_l_diversity]],
    * [[q_t_closeness]]) with the mechanism that publishes: per-segment
    * row counts + Laplace(b=2) noise (sensitivity 1 / ε=0.5 — one row
    * changes any count by 1). The noise is DERANDOMIZED through the
    * engine-portable md5 family (the [[q_sample_per_key]] discipline —
    * no RNG state, mergeable, replayable): u ∈ (0,1) from 52 md5 bits
    * of the group key + inverse-CDF Laplace, so the DuckDB oracle
    * reproduces the draw bit-for-bit ('0x'||hex-substring cast ↔ Spark
    * `conv`). The u-derivation, +0.5 offset, −0.5 shift, 2·|x| and the
    * final add are all EXACT IEEE ops (52-bit integers, power-of-two
    * scales); ln is the one libm call — the q_entropy cross-engine
    * class, rounded at 6dp. Deterministic noise is the standard
    * test-harness form of the mechanism (seeded Laplace); the privacy
    * property itself needs a fresh draw per release, which is a seed
    * choice, not a plan change. Scale shape: one map-side-combined
    * count, noise is per-GROUP arithmetic on the domain-bounded
    * result. */
  val q_dp_count: Q = (s, d) => {
    val cnt = Tables.customer(s, d)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_rows"))
    val bits = conv(substring(
      md5(concat(lit("graftdp:"), col("c_mktsegment"))), 1, 13), 16, 10)
      .cast("long")
    val x = (bits.cast("double") + lit(0.5)) / lit(4503599627370496.0) -
      lit(0.5)
    val sgn = when(col("__x") > 0, lit(1.0)).when(col("__x") < 0, lit(-1.0))
      .otherwise(lit(0.0))
    cnt.withColumn("__x", x)
      .select(col("c_mktsegment"),
        round(col("n_rows").cast("double") +
          lit(-2.0) * sgn * log(lit(1.0) - lit(2.0) * abs(col("__x"))), 6)
          .as("noisy_rows"))
      .orderBy("c_mktsegment")
  }

  /** q_dp_sum — the OTHER core DP release primitive next to
    * [[q_dp_count]]: a noisy SUM with bounded per-row contribution.
    * Unbounded sums have unbounded sensitivity, so each row's acctbal
    * is first CLIPPED to [0, 5000] — and the clip runs in exact integer
    * CENTS (`floor(bal·100)` then least/greatest: one IEEE multiply +
    * deterministic integer ops), so the per-segment sum is exact long
    * arithmetic with NO float-accumulation order dependence (the
    * q_agg_stats robustness argument, solved structurally instead of
    * argued). Sensitivity = the 500,000-cent clip bound; ε=0.5 →
    * Laplace(b=10⁶ cents), derandomized through the same md5 inverse-
    * CDF family as the count ('graftdpsum:' salt — independent draws).
    * The add + /100 + 4dp round are the only float ops after the one
    * ln. Scale shape: one map-side-combined groupBy; noise is
    * per-GROUP arithmetic on the domain-bounded result. */
  val q_dp_sum: Q = (s, d) => {
    val cents = least(greatest(
      floor(col("c_acctbal") * 100.0).cast("long"), lit(0L)), lit(500000L))
    val agg = Tables.customer(s, d)
      .groupBy("c_mktsegment").agg(sum(cents).as("cents"))
    val bits = conv(substring(
      md5(concat(lit("graftdpsum:"), col("c_mktsegment"))), 1, 13), 16, 10)
      .cast("long")
    val x = (bits.cast("double") + lit(0.5)) / lit(4503599627370496.0) -
      lit(0.5)
    val sgn = when(col("__x") > 0, lit(1.0)).when(col("__x") < 0, lit(-1.0))
      .otherwise(lit(0.0))
    agg.withColumn("__x", x)
      .select(col("c_mktsegment"),
        round((col("cents").cast("double") +
          lit(-1000000.0) * sgn *
            log(lit(1.0) - lit(2.0) * abs(col("__x")))) / lit(100.0), 4)
          .as("noisy_sum"))
      .orderBy("c_mktsegment")
  }

  /** q_ngram_novelty — first-occurrence novelty curve, the curation
    * signal behind "is the tail of this corpus still adding content?":
    * per doc (in doc_id ingest order), how many of its distinct 3-gram
    * shingles occur in NO earlier doc, as exact HALF_UP ppm
    * ([[graft.operators.Analytics.halfUpPpm]]). A novelty collapse
    * across a doc_id range localizes where a crawl started re-reading
    * itself — the aggregate twin of the pairwise dedup detectors (which
    * answer WHO duplicates; this answers WHEN duplication took over).
    * Plan: one distinct-shingle explode feeds BOTH the gram-keyed
    * first-occurrence aggregate (min doc_id per gram — never a window
    * over rows) and the per-doc fold after one gram-keyed join — the
    * q_dedup_ngram shuffle class. Grams ride 8-byte `xxhash64` keys
    * against a raw-string oracle (the documented negligible-collision
    * family, rationale at
    * [[graft.operators.Dedup.ngramContainmentPairs]]). Docs with < 3
    * tokens have no shingles and no row — mirrored by the oracle's
    * inner join. */
  val q_ngram_novelty: Q = (s, d) =>
    docNovelty(s, d)
      .withColumn("novelty_ppm",
        operators.Analytics.halfUpPpm(col("n_novel"), col("n_grams")))
      .orderBy("doc_id")

  /** q_dup_cluster_histogram — the corpus DUPLICATION PROFILE: how many
    * near-dup families exist at each size, singletons included. The
    * diligence cut the other dedup ids don't give: [[q_dedup_cluster_minhash]]
    * answers WHICH doc survives, [[q_dup_inflation]] answers per-SOURCE
    * savings — this answers the shape ("is duplication a fat head of
    * 50-copy templates or a long tail of pairs?"), which decides
    * whether exact-substring or whole-doc dedup pays. Same
    * md5-portable LSH-candidates → exact-Jaccard-confirm chain as the
    * cluster id ([[graft.operators.Dedup.minhashConfirmedPairs]] — the
    * pair relation exposed, the collapse skipped), O(log d) CC over the
    * pair-bounded edge list, then two domain-bounded aggregates (labels,
    * then sizes). Conservation: Σ n_docs == |corpus| and Σ n_clusters ==
    * the cluster id's survivor count — both pinned in LawsSpec. */
  val q_dup_cluster_histogram: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // the signature pin is released once the clustering pins its edges
    val cc = Checkpoints.scoped(s)(pins => Dedup.connectedComponents(pins.hold(
        Dedup.minhashConfirmedPairs(docs, "doc_id", "text", threshold = 0.5)),
        "id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")
    docs.select("doc_id").join(cc, Seq("doc_id"), "left")
      .select(coalesce(col("label"), col("doc_id")).as("label"))
      .groupBy("label").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
  }

  /** The per-doc first-occurrence novelty relation shared by
    * [[q_ngram_novelty]] and [[q_novelty_by_source]]: (doc_id, n_grams,
    * n_novel) — distinct 3-gram count and how many are globally first
    * seen in the doc (min doc_id over the corpus). */
  private def docNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(Dedup.shingleSet(3)(Text.tokens(col("text")))).as("sh_str"))
      .select(col("doc_id"), xxhash64(col("sh_str")).as("sh"))
      .localCheckpoint(eager = true) // feeds the first-occurrence agg + join
    val firsts = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    sh.join(firsts, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
  }

  /** q_novelty_by_source — the WHO rollup of [[q_ngram_novelty]]'s
    * WHEN: per ingest source, how much of its gram mass is globally
    * first-seen (exact HALF_UP ppm over the source's per-doc sums).
    * The curation decision this drives is per-SOURCE: a source whose
    * novelty collapses is re-crawling content other sources already
    * contributed — cut its mixture weight (the q_dsir_weights /
    * q_mixture_epochs lever), not individual docs. Same shared
    * first-occurrence relation ([[docNovelty]]); the rollup adds one
    * docs-sized join for the source label and a source-domain-bounded
    * aggregate. Docs with < 3 tokens carry no grams and don't count
    * toward `n_docs` — mirrored by the oracle's inner join. */
  val q_novelty_by_source: Q = (s, d) =>
    docNovelty(s, d)
      .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("n_grams"),
        sum(col("n_novel")).as("n_novel"))
      .withColumn("novelty_ppm",
        operators.Analytics.halfUpPpm(col("n_novel"), col("n_grams")))
      .orderBy("source")

  /** q_boilerplate — positional 8-gram boilerplate mass, the
    * exact-substring-dedup signal (Lee et al.-style pipelines drop or
    * mask substrings that recur across documents): per doc, its window
    * count, the windows whose 8-gram occurs in ≥4 DISTINCT docs, and
    * that mass as exact HALF_UP ppm. Positional windows (not distinct
    * shingles — [[graft.operators.Dedup.shingleList]]): a doc repeating
    * a hot phrase 10× owes 10 positions. The exploded window relation
    * is materialized ONCE and feeds both the df census (distinct
    * doc×gram, then gram fold) and the hit count; the hot-gram relation
    * is gram-universe-bounded and joins back by shuffle (no broadcast
    * hint — it is NOT benchmark-sized like [[q_contamination_frac]]'s
    * probe). The ppm floor-division is exact on both engines
    * (numerator ≪ 2⁵³). Grams are keyed by `xxhash64` against a
    * raw-string oracle — the documented negligible-collision risk
    * accepted for the whole xxhash64 shingle family (rationale at
    * [[graft.operators.Dedup.ngramContainmentPairs]]). */
  val q_boilerplate: Q = (s, d) => {
    val win = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(Dedup.shingleList(8)(Text.tokens(col("text")))).as("sh_str"))
      .select(col("doc_id"), xxhash64(col("sh_str")).as("sh"))
      .localCheckpoint(eager = true)
    val hot = win.select("doc_id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 4).select("sh").withColumn("__hot", lit(1))
    win.join(hot, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ppm",
        operators.Analytics.halfUpPpm(col("n_boiler"), col("n_windows")))
      .select("doc_id", "n_windows", "n_boiler", "boiler_ppm")
      .orderBy("doc_id")
  }

  /** q_dup_spans — maximal exact duplicated token spans per doc
    * ([[graft.operators.Dedup.duplicatedSpans]], windowLen=8): WHERE in
    * each document the corpus repeats itself, 1-based inclusive token
    * ranges. The sub-document twin of whole-doc dedup (Lee et al. 2022's
    * exact-substring pipeline re-expressed as window-hash + per-doc
    * island merge): [[q_boilerplate]] scores hot-window MASS, this
    * extracts the spans [[q_span_removal]] excises. Linear plan — one
    * positional explode, one occurrence census over 8-byte keys, one
    * semi-join, per-DOC windows; no pair join, so no hot-gram cap is
    * needed. */
  val q_dup_spans: Q = (s, d) =>
    Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "span_start")

  /** q_dup_span_frac — the per-source duplicated-TOKEN budget: what
    * fraction of each source's token mass sits inside exact duplicated
    * spans (exact HALF_UP ppm). [[q_dup_inflation]] prices whole-doc
    * dedup per source; this prices the SUB-document duplication
    * whole-doc dedup can't reach — the number that decides whether the
    * span-removal pass ([[q_span_removal]]) pays for a source. Per-doc
    * span sums join back docs-sized; source fold is domain-bounded. */
  val q_dup_span_frac: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val perDoc = Dedup.duplicatedSpans(docs, "doc_id", "text")
      .groupBy("id").agg(sum("span_tokens").as("dup_toks"))
    docs.select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).as("toks"))
      .join(perDoc, col("doc_id") === col("id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        sum(coalesce(col("dup_toks"), lit(0L))).as("dup_tokens"))
      .withColumn("dup_ppm",
        operators.Analytics.halfUpPpm(col("dup_tokens"), col("total_tokens")))
      .orderBy("source")
  }

  /** q_span_removal — the removal step of exact-substring dedup
    * ([[graft.operators.Dedup.removeDuplicatedSpans]]): every document
    * with its duplicated-span tokens excised, plus the removal ledger
    * (n_tokens, n_removed). This is the operation that changes the
    * training corpus — [[q_dup_spans]] is its diagnostic twin. Docs
    * without spans pass through verbatim; a fully-duplicated doc comes
    * out empty (the caller's length filter then drops it). */
  val q_span_removal: Q = (s, d) =>
    Dedup.removeDuplicatedSpans(Tables.documents(s, d), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** q_dup_inflation — the dedup-savings report a corpus owner reads
    * before paying for training tokens: per source, raw token mass vs
    * the mass surviving global exact dedup (keep-first by min doc_id
    * over md5(text) — the [[q_dedup_doc]] canonical rule; kept mass is
    * attributed to the CANONICAL copy's source), and the duplicated
    * share as exact HALF_UP ppm. One fingerprint-keyed shuffle join
    * (canonical relation is distinct-content-bounded), one source fold
    * — no text ever shuffles (md5 + token count travel, not the
    * document). */
  val q_dup_inflation: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"),
        Text.tokenCount(col("text")).as("toks"))
    val canon = docs.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
    docs.join(canon, Seq("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(col("toks")).as("tokens_raw"),
        sum(when(col("doc_id") === col("keep_id"), col("toks")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("dup_ppm",
        floor(((col("tokens_raw") - col("tokens_kept")) * 2000000L +
          col("tokens_raw")) / (col("tokens_raw") * 2)).cast("long"))
      .select("source", "n_docs", "n_kept", "tokens_raw", "tokens_kept",
        "dup_ppm")
      .orderBy("source")
  }

  /** q_containment — directed near-superset detection
    * ([[graft.operators.Dedup.ngramContainmentPairs]]): every ordered
    * doc pair where ≥80% of the contained doc's distinct token-3-grams
    * appear in the container — the extract-of/quote relationship that
    * symmetric Jaccard ([[q_dedup_ngram]]) scores low and misses.
    * DuckDB-oracle-checked: the oracle mirrors shingling, the
    * hot-shingle df cap, the one-intersection-two-directions
    * derivation and the unrounded 0.8 threshold term for term. */
  val q_containment: Q = (s, d) =>
    Dedup.ngramContainmentPairs(Tables.documents(s, d), "doc_id", "text")
      .select(col("id_in"), col("id_of"),
        round(col("containment"), 6).as("containment"))
      .orderBy("id_in", "id_of")

  /** q_containment_cluster — the actionable verdict on
    * [[q_containment]]: collapse extract-of families via connected
    * components over the containment pairs (a ≥0.8 containment in
    * EITHER direction links the docs), keeping per cluster the LONGEST
    * doc (max n_chars, min doc_id on ties) — the superset copy a dedup
    * pass retains when a quote/excerpt family collapses (keep-longest,
    * not keep-first: dropping the superset would lose content). Same
    * single-scan capped-inverted-index pair plan, then the O(log d)
    * component fixpoint over the pair-bounded edge list; the keep rule
    * is two exact integer aggregates (max length, then min id among
    * maxima) — no argmax tie logic to diverge between engines. */
  val q_containment_cluster: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // feeds the max-length fold + output; the shingle and clustering
    // pins are released once it is pinned
    val labeled = Checkpoints.scoped(s) { pins =>
      val cc = Dedup.connectedComponents(pins.hold(
          Dedup.ngramContainmentPairs(docs, "doc_id", "text")
            .select(least(col("id_in"), col("id_of")).as("id_a"),
              greatest(col("id_in"), col("id_of")).as("id_b"))
            .distinct()))
        .withColumnRenamed("id", "doc_id")
      Checkpoints.pin(pins.hold(docs.select(col("doc_id"), col("n_chars"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))))
    }
    val mx = labeled.groupBy("cluster_id").agg(max(col("n_chars")).as("mc"))
    val keep = labeled.join(mx, Seq("cluster_id"))
      .filter(col("n_chars") === col("mc"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("keep_id"))
    labeled.join(keep, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // round 13: corpus-statistics + importance-weighting pack
  // -------------------------------------------------------------------

  /** q_ttr — per-source lexical-diversity ledger: token mass, type count,
    * hapax legomena (words occurring exactly once IN that source),
    * type-token ratio and hapax share. The corpus-health panel a data
    * curator reads next to [[q_zipf_fit]]: a source whose TTR collapses
    * is template spam; one whose hapax share explodes is OCR noise.
    * One explode → one (source, word) count → one source fold — the
    * shuffled relation is vocabulary-bounded after the first partial
    * aggregation, never token-mass-sized. Ratios are single IEEE
    * divisions of exact longs. */
  val q_ttr: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr", round(col("n_types").cast("double") /
        col("n_tokens").cast("double"), 6))
      .withColumn("hapax_frac", round(col("n_hapax").cast("double") /
        col("n_types").cast("double"), 6))
      .orderBy("source")

  /** q_kl_sources — per-source KL divergence KL(p_source ‖ p_corpus)
    * over the unigram distribution: the drift census a mixture planner
    * reads next to [[q_mixture_epochs]] (a source far from the corpus
    * mean needs its own evaluation slice; one at ≈0 is redundant mass).
    * No smoothing needed: the corpus marginal dominates every source
    * (c_word ≥ c_source-word > 0 on exactly the terms that appear).
    * Scale shape: the (source, word) relation is vocabulary-bounded
    * after partial aggregation; the corpus marginal folds FROM it (no
    * second corpus scan); the 1-row total broadcasts. Determinism: each
    * term is quantized to an exact 1e-12-grain long (the graph-fold
    * discipline — |term| ≤ ln(Nc) so e12 fits comfortably), summed as
    * Decimal(38,0) ↔ DuckDB HUGEINT (vocab-many terms overflow a
    * BIGINT), ONE cast to double, 6-dp display round. */
  val q_kl_sources: Q = (s, d) => {
    val st = Tables.documents(s, d)
      .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cs"))
      .localCheckpoint(eager = true) // feeds marginal + totals + terms
    val cw = st.groupBy("tok").agg(sum(col("cs")).as("cwd"))
    val ns = st.groupBy("source").agg(sum(col("cs")).as("nsrc"),
      count(lit(1)).as("n_types"))
    val nc = st.agg(sum(col("cs")).as("ntot"))
    st.join(cw, Seq("tok"))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(nc))
      .select(col("source"), col("nsrc"), col("n_types"),
        floor(((col("cs").cast("double") / col("nsrc").cast("double")) *
          log((col("cs").cast("double") * col("ntot").cast("double")) /
            (col("cwd").cast("double") * col("nsrc").cast("double")))) *
          1000000000000.0 + 0.5).as("t12"))
      .groupBy("source", "nsrc", "n_types")
      .agg(round(sum(col("t12").cast("decimal(38,0)")).cast("double") /
        1000000000000.0, 6).as("kl"))
      .select(col("source"), col("nsrc").as("n_tokens"), col("n_types"),
        col("kl"))
      .orderBy("source")
  }

  /** q_dsir_weights — DSIR-style importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * per corpus doc, Σ_w count_w(doc) · ln(p̂_target(w)/p̂_corpus(w))
    * under add-one-smoothed unigram models — target = the held-out
    * carve (docs 0–9, the [[q_contamination_frac]] convention), corpus
    * = everything else. The log-weight a resampler exponentiates to
    * upsample target-like documents. Scale shape: ONE token explode
    * feeds both the vocab build and the per-doc scoring join
    * (checkpointed); the vocab relation (with its quantized log-ratio)
    * is vocabulary-bounded and joins by word — no broadcast hint, AQE
    * decides. Determinism: the log-ratio is quantized ONCE PER WORD to
    * an exact 1e-12-grain long, per-doc folds are exact
    * count×grain products in Decimal(38,0) ↔ HUGEINT, one final cast. */
  val q_dsir_weights: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .localCheckpoint(eager = true)
    val vocab = toks.groupBy("tok")
      .agg(sum(when(col("doc_id") < 10, 1L).otherwise(0L)).as("ct"),
        sum(when(col("doc_id") >= 10, 1L).otherwise(0L)).as("cc"))
      .localCheckpoint(eager = true) // feeds totals + the log-ratio map
    val tot = vocab.agg(sum(col("ct")).as("nt"), sum(col("cc")).as("ncp"),
      count(lit(1)).as("v"))
    val lr = vocab.crossJoin(broadcast(tot))
      .select(col("tok"),
        floor(log(((col("ct") + 1L).cast("double") *
            (col("ncp") + col("v")).cast("double")) /
          ((col("cc") + 1L).cast("double") *
            (col("nt") + col("v")).cast("double"))) *
          1000000000000.0 + 0.5).as("lr_e12"))
    toks.filter(col("doc_id") >= 10)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .join(lr, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        round(sum(col("cnt").cast("decimal(38,0)") * col("lr_e12"))
          .cast("double") / 1000000000000.0, 6).as("dsir_logw"))
      .orderBy("doc_id")
  }

  /** q_overlap_matrix — source-pair distinct-5-gram Jaccard matrix: the
    * corpus-level overlap read a mixture planner does BEFORE doc-level
    * dedup ([[q_dup_inflation]] tells you what exact dedup saves;
    * this tells you which SOURCES are near-copies of each other and
    * should be collapsed or downweighted at the catalog level).
    * Shingles are hashed to the engine-portable 64-bit family
    * ([[graft.operators.Dedup.portableHash64]]) so the shuffled key is
    * 8 bytes, not a 5-word string; a hash collision dedups identically
    * on both engines. The per-source shingle sets are distinct
    * relations (vocabulary-bounded); the intersection self-join is
    * hash-keyed (each key matches at most #sources rows — bounded
    * expansion, never all-pairs); the final pair frame is
    * #sources²-sized, built from the broadcast size dim so zero-overlap
    * pairs still appear. */
  val q_overlap_matrix: Q = (s, d) => {
    val sh = Dedup.fanOut( // r17: spread the CPU-bound shingle+md5 chain
        Tables.documents(s, d).select(col("source"), col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("source"),
        explode(Dedup.shingleSet(5)(Text.tokens(col("text")))).as("sh_str"))
      .select(col("source"), Dedup.portableHash64(col("sh_str")).as("h"))
      .distinct()
      .localCheckpoint(eager = true) // feeds sizes + the pair join
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.as("x")
      .join(broadcast(sizes.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        col("x.sz").as("size_a"), col("y.sz").as("size_b"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("size_a") + col("size_b") - col("n_inter"))
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        col("n_union").cast("double"), 6))
      .select("src_a", "src_b", "size_a", "size_b", "n_inter", "n_union",
        "jaccard")
      .orderBy("src_a", "src_b")
  }

  /** q_winnowing — winnowing fingerprint census (Schleimer, Wilkerson &
    * Aiken 2003 — the MOSS local document fingerprint): per doc, slide a
    * w=4 window over the positional 5-gram hash sequence, select each
    * window's minimum hash (rightmost on ties), and report the selected
    * set's size and checksum next to the gram/window counts. Winnowing
    * guarantees any shared substring of ≥ 8 tokens yields a shared
    * fingerprint while sampling only ~2/(w+1) of positions — the
    * local-guarantee alternative to MinHash for plagiarism-style
    * matching. Determinism across engines: the (min-hash, rightmost-pos)
    * selection is ONE arithmetic min over the encoded key
    * `h·2²¹ + (2²¹−1 − pos)` (h in [0,2^63) from the portable md5
    * family — Decimal(38,0) ↔ HUGEINT; min-by-h then max-by-pos falls
    * out of the encoding, no argmin tie logic). Scale shape: one
    * positional explode, ONE doc-keyed shuffle serving both window
    * functions (docs are bounded-length, so a per-doc sort is safe at
    * any corpus size), distinct + fold. */
  val q_winnowing: Q = (s, d) =>
    Dedup.winnowSelection(Tables.documents(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("npos"), col("wmin")).distinct()
      .groupBy("doc_id")
      .agg(max(col("npos")).as("n_grams"),
        (max(col("npos")) - 3L).as("n_windows"),
        count(lit(1)).as("n_fingerprints"),
        sum(col("wmin")).as("fp_sum"))
      .select(col("doc_id"), col("n_grams"), col("n_windows"),
        col("n_fingerprints"),
        expr("CAST(fp_sum % CAST('9223372036854775808' AS DECIMAL(38,0)) AS BIGINT)")
          .as("fp_checksum"))
      .orderBy("doc_id")

  /** q_winnow_pairs — the MOSS matching step on top of [[q_winnowing]]:
    * doc pairs sharing ≥2 distinct SELECTED fingerprint hashes, with the
    * shared count and the containment-style score vs the smaller
    * selected set. Winnowing's local guarantee makes this the
    * plagiarism-style detector: any shared run of ≥8 tokens yields a
    * shared selected hash, so true overlapping pairs can't be missed,
    * while only the winnowed ~2/(w+1) sample of grams is ever joined.
    * Scale shape: the selected relation is the winnowed SAMPLE of the
    * gram stream (4-8× smaller than [[q_dedup_ngram]]'s full shingle
    * relation); ubiquitous fingerprints (df > 1000 docs — boilerplate)
    * are dropped before the self-join, exactly the capped-inverted-index
    * discipline, so per-key fan-out is bounded and it is never
    * all-pairs. The hash decode from the encoded min-key is exact
    * integer algebra ((k − k mod 2²¹)/2²¹ — Decimal(38,0) ↔ HUGEINT). */
  val q_winnow_pairs: Q = (s, d) =>
    Dedup.winnowPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")

  // -------------------------------------------------------------------
  // round 17: pipeline-resolution pack (keeper choice, shard manifests,
  // session paths, retrieval eval)
  // -------------------------------------------------------------------

  /** q_dedup_keep_best — QUALITY-AWARE near-dup cluster resolution: the
    * [[q_dedup_cluster]] pair→CC machinery, but the survivor of each
    * cluster is the argmax-(n_chars, min doc_id) document, not the
    * minimum id. The distinction matters in a real pipeline: min-id
    * keeps whichever near-copy was crawled first, keep-best keeps the
    * longest (least-truncated) variant — the choice CCNet/RefinedWeb
    * style pipelines actually make when collapsing a dup family. Output
    * is the full per-doc resolution (cluster, keeper, kept flag) — the
    * audit relation, not just the survivor list. Scale shape: the pair
    * pipeline is the capped-inverted-index one (never all-pairs), the
    * keeper choice is ONE keyed max over a 2-field struct (O(1) agg
    * state — no per-cluster window sort), and the keeper join
    * repartitions both sides on cluster_id. The argmax rides the
    * (n_chars, −doc_id) struct ordering, exact integer algebra on both
    * engines. */
  val q_dedup_keep_best: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // the shingle pins are released once the clustering pins its edges
    val cc = Checkpoints.scoped(s)(pins => Dedup.connectedComponents(pins.hold(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text")
          .filter(col("jaccard") >= 0.5))))
      .withColumnRenamed("id", "doc_id")
    val clustered = docs.select("doc_id", "n_chars")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val keepers = clustered.groupBy("cluster_id")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
        .as("best"))
      .select(col("cluster_id"), (-col("best.neg_id")).as("keeper_id"))
    clustered.join(keepers, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
        when(col("doc_id") === col("keeper_id"), 1L).otherwise(0L)
          .as("kept"))
      .orderBy("doc_id")
  }

  /** q_shard_manifest — the dataset-card manifest a shard writer emits
    * alongside the data: per deterministic md5-shard (the
    * [[q_split_train]] hash discipline — first 8 md5 hex digits mod 8,
    * stable across runs and engines), the doc count, token and char
    * mass, the id range, and an ORDER-INSENSITIVE membership checksum
    * (bit_xor of each id's md5-derived 32-bit word). A trainer resuming
    * from shard N verifies the checksum before trusting the shard; the
    * xor fold is the scale answer — O(1) aggregation state per shard
    * where a sorted id digest would collect corpus/shards ids into one
    * buffer. Every column is exact integer algebra; the DuckDB oracle
    * replays the hash, the shard assignment and the xor bit-for-bit. */
  val q_shard_manifest: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 8L).as("shard"),
        col("doc_id"), col("n_chars"),
        Text.tokenCount(col("text")).as("n_tokens"),
        conv(substring(md5(col("doc_id").cast("string")), 9, 8), 16, 10)
          .cast("long").as("idh"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        expr("bit_xor(idh)").as("id_checksum"))
      .orderBy("shard")

  /** q_top_paths — the top-20 whole-session event paths: sessions cut
    * at the 30-minute gap (the exact [[q_sessionize]] semantics), each
    * session rendered as its '>'-joined event-type sequence, ranked by
    * frequency. The product-analytics "what do users actually do"
    * query — [[q_markov_transitions]] gives the 1-step matrix, this
    * gives the full-path heavy hitters. Scale shape: the per-session
    * path folds through ONE collect_list over the session's own rows
    * (bounded by session length, never a corpus-wide buffer), the path
    * census is a keyed count, and the top-20 is a sort of the
    * path-cardinality relation (≤ #sessions rows) — the event stream is
    * never globally sorted. */
  val q_top_paths: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(w)
    Tables.events(s, d)
      .withColumn("new_sess",
        when(prevTs.isNull ||
          unix_millis(col("ts")) - unix_millis(prevTs) > lit(1800000L), 1)
          .otherwise(0))
      .withColumn("sess_seq",
        sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_seq")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** q_precision_at_k — label-match precision@3, the retrieval-eval
    * readout over the exact KNN relation: for each probe vector, how
    * many of its top-3 cosine neighbors (self excluded) share its
    * label. THE quality number for an embedding column before it is
    * trusted for ANN dedup or hard-negative mining —
    * [[q_triplet_margin]] measures the geometry, this measures the
    * retrieval outcome. Same broadcast-probe × one-corpus-scan shape as
    * [[q_knn_join]] (codegen cosine, bounded-heap top-k, O(k) state per
    * probe); the label lookup joins the 60-row exploded KNN relation
    * back to the corpus BROADCAST, so the corpus still never shuffles.
    * Matches are exact integer counts; the precision division (k=3) is
    * one IEEE op rounded at 4 dp on both engines. */
  val q_precision_at_k: Q = (s, d) => {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val knn = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 12).as("cos"))
      .groupBy("query_id", "q_label")
      .agg(topk(col("cos"), col("vec_id")).as("ids"))
      .select(col("query_id"), col("q_label"),
        explode(col("ids")).as("neighbor_id"))
    emb.select(col("vec_id").as("neighbor_id"), col("label"))
      .join(broadcast(knn), Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(count(when(col("label") === col("q_label"), 1)).as("n_match"))
      .select(col("query_id"), col("n_match"),
        round(col("n_match") / lit(3.0), 4).as("prec_at_3"))
      .orderBy("query_id")
  }

  /** q_recall_at_k — the completeness twin of [[q_precision_at_k]]:
    * per probe, the top-3 label matches against the TOTAL same-label
    * population (self excluded) — precision says "of what I retrieved,
    * how much was right", recall says "of what exists, how much did k
    * slots reach"; with k fixed this is the R-precision-style readout
    * that exposes label-prior imbalance precision alone hides. The
    * per-label population is ONE |label-domain|-row aggregate broadcast
    * into the 20-row probe relation; the KNN scan shape is
    * [[q_knn_join]]'s. The recall division is one IEEE op over two
    * exact integers, rounded at 6 dp on both engines. */
  val q_recall_at_k: Q = (s, d) => {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    val emb = Tables.embeddings(s, d)
    val labCounts = emb.groupBy("label").agg(count(lit(1)).as("n_label"))
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
      .join(broadcast(labCounts), col("q_label") === col("label"))
      .select(col("query_id"), col("q_emb"), col("q_label"),
        (col("n_label") - 1L).as("n_relevant"))
    val knn = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("n_relevant"),
        col("vec_id"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 12).as("cos"))
      .groupBy("query_id", "q_label", "n_relevant")
      .agg(topk(col("cos"), col("vec_id")).as("ids"))
      .select(col("query_id"), col("q_label"), col("n_relevant"),
        explode(col("ids")).as("neighbor_id"))
    emb.select(col("vec_id").as("neighbor_id"), col("label"))
      .join(broadcast(knn), Seq("neighbor_id"))
      .groupBy("query_id", "n_relevant")
      .agg(count(when(col("label") === col("q_label"), 1)).as("n_match"))
      .select(col("query_id"), col("n_match"), col("n_relevant"),
        round(col("n_match") / col("n_relevant").cast("double"), 6)
          .as("recall_at_3"))
      .orderBy("query_id")
  }

  /** q_knn_classify — the kNN classifier readout: each probe predicted
    * as the MAJORITY label of its top-3 cosine neighbors (vote ties →
    * smallest label), aggregated to the (true × predicted) confusion
    * matrix — [[q_lang_confusion]]'s twin for the embedding column, and
    * the standard embedding-probe eval (a linear-probe stand-in that
    * needs no training). Vote pick is ONE keyed max over a
    * (votes, −label) struct — exact integer order, no per-probe window;
    * everything downstream of the [[q_knn_join]]-shaped scan operates
    * on ≤ 60 rows. */
  val q_knn_classify: Q = (s, d) => {
    val topk = udaf(new graft.functions.TopKAggregator(3))
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val knn = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id"),
        round(Vectors.cosine(col("embedding"), col("q_emb")), 12).as("cos"))
      .groupBy("query_id", "q_label")
      .agg(topk(col("cos"), col("vec_id")).as("ids"))
      .select(col("query_id"), col("q_label"),
        explode(col("ids")).as("neighbor_id"))
    emb.select(col("vec_id").as("neighbor_id"), col("label"))
      .join(broadcast(knn), Seq("neighbor_id"))
      .groupBy("query_id", "q_label", "label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("query_id", "q_label")
      .agg(max(struct(col("votes"),
        (-col("label")).cast("long").as("neg"))).as("best"))
      .select(col("query_id"), col("q_label"),
        (-col("best.neg")).cast("int").as("pred_label"))
      .groupBy(col("q_label").as("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_queries"))
      .orderBy("true_label", "pred_label")
  }

  /** q_attribution_decay — TIME-DECAY attribution, the third standard
    * credit model next to [[q_attribution]] (last-touch) and
    * [[q_attribution_linear]] (even split): each pre-purchase touch
    * earns weight 2^(−whole-weeks-before-purchase) — recent touches
    * dominate, stale ones fade with a 1-week half-life — normalized
    * per user and credited against the first purchase's value. The
    * weights are EXACT dyadic doubles (integer-division week bucket,
    * power-of-two weight, per-user weight sums stay exact), so the only
    * float latitude is the same one division + rounded final sum the
    * linear model already carries. Same one-join shape: touches join
    * the user-keyed first-purchase relation, never each other. */
  val q_attribution_decay: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val wp = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // tw feeds the per-user normalizer AND credits
    val tw = Checkpoints.scoped(s) { pin =>
      val firstPurchase = pin(ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wp)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("pts"), col("value").as("pval")))
      Checkpoints.pin(ev.filter(col("event_type") =!= "purchase")
        .join(firstPurchase, Seq("user_id"))
        .filter(col("ts") < col("pts"))
        .withColumn("w", pow(lit(2.0),
          -expr("(unix_millis(pts) - unix_millis(ts)) div 604800000")
            .cast("double"))))
    }
    val sw = tw.groupBy("user_id").agg(sum(col("w")).as("sw"))
    tw.join(sw, Seq("user_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_credited"),
        round(sum(col("pval") * col("w") / col("sw")), 2)
          .as("credited_value"))
      .orderBy("event_type")
  }

  /** q_embed_pca — the dominant principal direction of the embedding
    * cloud via INTEGER-EXACT power iteration
    * ([[graft.operators.Spectral.pc1]]): per-dimension loading on the
    * ±1000 grid plus ev_permille, the Rayleigh share of variance PC1
    * explains. Why it's oracle-checkable at all: a float covariance
    * fold's value depends on partition reduction order, so the whole
    * chain — ⌊x·256⌋ quantization (power-of-two float scale, exact in
    * IEEE), one-scan integer raw moments, the exact centered-covariance
    * identity, truncating renormalization, 8 integer-grid iterations —
    * is closed over BIGINT and replays bit-for-bit in DuckDB's unrolled
    * CTE chain. Scale shape: ONE pass over the vectors (dim²-cell
    * map-side partial agg), everything after runs on ≤ dim²+dim+1
    * checkpointed rows. */
  val q_embed_pca: Q = (s, d) =>
    Spectral.pc1(Tables.embeddings(s, d), "embedding")

  /** q_embed_project — histogram of per-vector projections onto the
    * [[q_embed_pca]] direction: the corpus's shape along its own
    * dominant axis, the one-pass drift/diversity readout (a collapsed
    * or bimodal histogram is an embedding-health red flag before any
    * ANN/dedup work trusts the column). Shares the integer PCA chain;
    * the mean and direction ride as one single-row broadcast array
    * each, so the projection pass is a single extra scan with no
    * per-element shuffle. */
  val q_embed_project: Q = (s, d) =>
    Spectral.pc1Projection(Tables.embeddings(s, d), "embedding")

  /** q_lsh_recall_eval — the tune-your-banding eval: on a deterministic
    * 1-in-20 doc sample, exact 3-gram Jaccard ground truth
    * ([[graft.operators.Dedup.ngramJaccardPairs]], df-cap 1000) vs the
    * production MinHash-LSH candidate set (32 hashes × 8 bands —
    * [[graft.operators.Dedup.minhashCandidateIds]]), folded to
    * recall/precision ppm at τ ∈ {0.3, 0.5, 0.7, 0.9}. This is the
    * measured answer to "will the near-dup pass at threshold τ actually
    * catch the pairs?" (theory: P(candidate) = 1−(1−j⁴)⁸) — run it on a
    * sample BEFORE committing a 100 TB dedup config. Sample-bounded by
    * construction: both sides see only the 1-in-20 docs, so truth-pair
    * work is (corpus/20)-scale candidate generation, never corpus². All
    * counters integer; vacuous recall (no truth pairs) reads 1000000. */
  val q_lsh_recall_eval: Q = (s, d) => {
    val sample = Tables.documents(s, d).filter(col("doc_id") % 20 === 0)
    // the signature pin is released once the candidates are pinned
    val cand = Checkpoints.scoped(s)(pin => Checkpoints.pin(
      Dedup.minhashCandidateIds(pin(Dedup.minhashSignatures(sample, "doc_id", "text")),
        "doc_id")))
    val truth = Dedup.ngramJaccardPairs(sample, "doc_id", "text")
    val flagged = truth
      .join(cand.withColumn("in_cand", lit(1L)), Seq("id_a", "id_b"), "left")
      .select(col("jaccard"), coalesce(col("in_cand"), lit(0L)).as("in_cand"))
    val taus = s.range(0, 4).select((col("id") * 20 + 30).as("tau_pct"))
    val perTau = flagged.crossJoin(broadcast(taus))
      .groupBy("tau_pct")
      .agg(
        sum(when(col("jaccard") >= col("tau_pct") / lit(100.0), 1L)
          .otherwise(0L)).as("n_truth"),
        sum(when(col("jaccard") >= col("tau_pct") / lit(100.0),
          col("in_cand")).otherwise(0L)).as("n_hit"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    taus.join(perTau, Seq("tau_pct"), "left").crossJoin(broadcast(nc))
      .select(col("tau_pct"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"), col("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("tau_pct"), col("n_truth"), col("n_cand"), col("n_hit"),
        expr("CASE WHEN n_truth = 0 THEN CAST(1000000 AS BIGINT) " +
          "ELSE (n_hit * 1000000) div n_truth END").as("recall_ppm"),
        expr("CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_hit * 1000000) div n_cand END").as("precision_ppm"))
      .orderBy("tau_pct")
  }

  /** q_dataset_card — the per-source dataset-card row every corpus
    * release ships: doc/char/token mass, language spread (count + the
    * modal language, ties broken lexicographically), and the exact-dup
    * bill (docs sharing an md5 fingerprint with ANY doc corpus-wide,
    * attributed to their source) as ppm. Complements [[q_shard_manifest]]
    * (per-shard) at source grain. Every aggregate is integer (div means,
    * ppm); the base relation is re-derived per branch rather than
    * checkpointed — it is corpus-sized, and re-reading the
    * column-pruned parquet is the right trade at scale. */
  val q_dataset_card: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.fingerprint(col("text")).as("fp"))
    val fpc = base.groupBy("fp").agg(count(lit(1)).as("fpn"))
    val dup = base.join(fpc, Seq("fp")).filter(col("fpn") > 1)
      .groupBy("source").agg(count(lit(1)).as("n_dup_docs"))
    val langCounts = base.groupBy("source", "lang")
      .agg(count(lit(1)).as("nl"))
    // modal language via struct-min argmax (min on (-nl, lang) == max
    // count, lexicographic tie-break) — the grouped-relation form; a
    // row_number window partitioned by `source` would sort per-source
    // slices on a catalog-cardinality key (the low-card-window audit)
    val top = langCounts.groupBy("source")
      .agg(min(struct((-col("nl")).as("negn"), col("lang").as("lang"))).as("b"))
      .select(col("source"), col("b.lang").as("top_lang"))
    val nlangs = langCounts.groupBy("source").agg(count(lit(1)).as("n_langs"))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        sum("n_tokens").as("n_tokens"))
      .join(nlangs, Seq("source")).join(top, Seq("source"))
      .join(dup, Seq("source"), "left")
      .withColumn("n_dup_docs", coalesce(col("n_dup_docs"), lit(0L)))
      .withColumn("dup_ppm", expr("(n_dup_docs * 1000000) div n_docs"))
      .withColumn("mean_chars", expr("n_chars div n_docs"))
      .select("source", "n_docs", "n_chars", "n_tokens", "n_langs",
        "n_dup_docs", "dup_ppm", "mean_chars", "top_lang")
      .orderBy("source")
  }

  /** q_embed_pca_by_label — CLASS-CONDITIONAL spectral health: the
    * [[q_embed_pca]] integer chain run independently per label
    * ([[graft.operators.Spectral.pc1ByGroup]]): per (label, dim)
    * loading + the label's Rayleigh ev_permille. The per-class readout
    * behind the global one: a label whose ev spikes has a collapsed or
    * duplicated embedding region; a label whose axis diverges from the
    * global direction is the class dragging the mixture — checked
    * BEFORE per-class ANN, hard-negative mining or class-balanced
    * sampling trusts the column. Still ONE data pass (a moment buffer
    * per (partition, label) — the label domain is catalog-bounded) with
    * driver solves per label; bit-exact in DuckDB via the grouped CTE
    * chain (every stage of pcaChainSql keyed by label). */
  val q_embed_pca_by_label: Q = (s, d) =>
    Spectral.pc1ByGroup(Tables.embeddings(s, d), "label", "embedding")

  /** q_dp_topk — differentially-private HEAVY HITTERS, completing the
    * DP release family ([[q_dp_count]] / [[q_dp_sum]] / top-k): per-
    * brand counts + Laplace(b=2) noise through the same md5 inverse-CDF
    * derandomization ('graftdptopk:' salt — an independent draw per
    * key), then the top 5 brands by 6-dp-ROUNDED noisy count (brand
    * tie-break — never a rank on an unrounded double). Only the noisy
    * top slice is released: membership AND magnitude both carry noise,
    * the standard "which queries are trending" shape. Scale: one map-
    * side-combined count; the sort runs on the brand-DOMAIN relation
    * (catalog-bounded), never on data rows. */
  val q_dp_topk: Q = (s, d) => {
    val cnt = Tables.part(s, d).groupBy("p_brand")
      .agg(count(lit(1)).as("n"))
    val bits = conv(substring(
      md5(concat(lit("graftdptopk:"), col("p_brand"))), 1, 13), 16, 10)
      .cast("long")
    val x = (bits.cast("double") + lit(0.5)) / lit(4503599627370496.0) -
      lit(0.5)
    val sgn = when(col("__x") > 0, lit(1.0)).when(col("__x") < 0, lit(-1.0))
      .otherwise(lit(0.0))
    cnt.withColumn("__x", x)
      .select(col("p_brand"),
        round(col("n").cast("double") +
          lit(-2.0) * sgn * log(lit(1.0) - lit(2.0) * abs(col("__x"))), 6)
          .as("noisy_n"))
      .orderBy(col("noisy_n").desc, col("p_brand"))
      .limit(5)
      .orderBy("p_brand")
  }

  // -------------------------------------------------------------------
  // registry
  // -------------------------------------------------------------------

  /** All query ids, insertion-ordered. */
  val all: Seq[(String, Q)] = Seq(
    "q_scan" -> q_scan,
    "q_project" -> q_project,
    "q_filter" -> q_filter,
    "q_split_page" -> q_split_page,
    "q_json_extract" -> q_json_extract,
    "q_date_funcs" -> q_date_funcs,
    "q_string_funcs" -> q_string_funcs,
    "q_case_when" -> q_case_when,
    "q_explode" -> q_explode,
    "q_join_hash" -> q_join_hash,
    "q_join_broadcast" -> q_join_broadcast,
    "q_join_lookup" -> q_join_lookup,
    "q_join_interval" -> q_join_interval,
    "q_join_range" -> q_join_range,
    "q_join_asof" -> q_join_asof,
    "q_join_asof_tolerance" -> q_join_asof_tolerance,
    "q_join_left" -> q_join_left,
    "q_join_full" -> q_join_full,
    "q_join_semi" -> q_join_semi,
    "q_join_anti" -> q_join_anti,
    "q_agg_groupby" -> q_agg_groupby,
    "q_agg_global" -> q_agg_global,
    "q_agg_distinct" -> q_agg_distinct,
    "q_agg_approx_distinct" -> q_agg_approx_distinct,
    "q_agg_stats" -> q_agg_stats,
    "q_agg_percentile" -> q_agg_percentile,
    "q_agg_approx_percentile" -> q_agg_approx_percentile,
    "q_agg_rollup" -> q_agg_rollup,
    "q_agg_cube" -> q_agg_cube,
    "q_agg_grouping_sets" -> q_agg_grouping_sets,
    "q_pivot" -> q_pivot,
    "q_window_tumble" -> q_window_tumble,
    "q_window_slide" -> q_window_slide,
    "q_topk" -> q_topk,
    "q_window_lag" -> q_window_lag,
    "q_window_running" -> q_window_running,
    "q_window_rank" -> q_window_rank,
    "q_window_frames" -> q_window_frames,
    "q_sort_limit" -> q_sort_limit,
    "q_union" -> q_union,
    "q_intersect" -> q_intersect,
    "q_except" -> q_except,
    "q_composite_shipping" -> q_composite_shipping,
    "q_composite_region" -> q_composite_region,
    "q_composite_returns" -> q_composite_returns,
    "q_composite_priority" -> q_composite_priority,
    "q_composite_revenue" -> q_composite_revenue,
    "q_composite_urgent_share" -> q_composite_urgent_share,
    "q_composite_promo" -> q_composite_promo,
    "q_composite_top_supplier" -> q_composite_top_supplier,
    "q_composite_big_orders" -> q_composite_big_orders,
    "q_composite_cold_customers" -> q_composite_cold_customers,
    "q_keyword_topk" -> q_keyword_topk,
    "q_dedup" -> q_dedup,
    "q_dedup_doc" -> q_dedup_doc,
    "q_dedup_incremental" -> q_dedup_incremental,
    "q_token_count" -> q_token_count,
    "q_token_count_bpe" -> q_token_count_bpe,
    "q_tokenizer_fertility" -> q_tokenizer_fertility,
    "q_text_normalize" -> q_text_normalize,
    "q_repetition_ratio" -> q_repetition_ratio,
    "q_entropy" -> q_entropy,
    "q_pii_redact" -> q_pii_redact,
    "q_chunk_docs" -> q_chunk_docs,
    "q_sequence_pack" -> q_sequence_pack,
    "q_pad_waste" -> q_pad_waste,
    "q_quality_score" -> q_quality_score,
    "q_gopher_rules" -> q_gopher_rules,
    "q_oov_rate" -> q_oov_rate,
    "q_oov_artifact" -> q_oov_artifact,
    "q_repetition_bigram" -> q_repetition_bigram,
    "q_diversity_drop" -> q_diversity_drop,
    "q_vocab_growth" -> q_vocab_growth,
    "q_embedding_norm" -> q_embedding_norm,
    "q_lang_confusion" -> q_lang_confusion,
    "q_fingerprint" -> q_fingerprint,
    "q_lang_id" -> q_lang_id,
    "q_similarity_topk" -> q_similarity_topk,
    "q_similarity_lsh" -> q_similarity_lsh,
    "q_similarity_ivf" -> q_similarity_ivf,
    "q_similarity_ivfpq" -> q_similarity_ivfpq,
    "q_similarity_ivf_indexed" -> q_similarity_ivf_indexed,
    "q_dedup_minhash" -> q_dedup_minhash,
    "q_dedup_simhash" -> q_dedup_simhash,
    "q_dedup_ngram" -> q_dedup_ngram,
    "q_fuzzy_match" -> q_fuzzy_match,
    "q_jaro_match" -> q_jaro_match,
    "q_group_similarity" -> q_group_similarity,
    "q_dedup_cluster" -> q_dedup_cluster,
    "q_dedup_cluster_minhash" -> q_dedup_cluster_minhash,
    "q_sample_per_key" -> q_sample_per_key,
    "q_diversity_sample" -> q_diversity_sample,
    "q_bucket_entropy" -> q_bucket_entropy,
    "q_sample_mix" -> q_sample_mix,
    "q_sample_weighted" -> q_sample_weighted,
    "q_split_train" -> q_split_train,
    "q_sessionize" -> q_sessionize,
    "q_heavy_hitters" -> q_heavy_hitters,
    "q_heavy_hitters_approx" -> q_heavy_hitters_approx,
    "q_dq_report" -> q_dq_report,
    "q_anomaly" -> q_anomaly,
    "q_resample_ffill" -> q_resample_ffill,
    "q_scd2" -> q_scd2,
    "q_decontaminate" -> q_decontaminate,
    "q_decontaminate_spans" -> q_decontaminate_spans,
    "q_decontaminate_bloom" -> q_decontaminate_bloom,
    "q_retention" -> q_retention,
    "q_funnel" -> q_funnel,
    "q_tfidf" -> q_tfidf,
    "q_pmi_bigrams" -> q_pmi_bigrams,
    "q_histogram" -> q_histogram,
    "q_zorder" -> q_zorder,
    "q_dedup_embed" -> q_dedup_embed,
    "q_multimodal_join" -> q_multimodal_join,
    "q_collect_sequence" -> q_collect_sequence,
    "q_snapshot_diff" -> q_snapshot_diff,
    "q_profile" -> q_profile,
    "q_window_rolling" -> q_window_rolling,
    "q_distinct_bitmap" -> q_distinct_bitmap,
    "q_agg_distinct_hll" -> q_agg_distinct_hll,
    "q_distinct_hll_portable" -> q_distinct_hll_portable,
    "q_knn_join" -> q_knn_join,
    "q_hard_negatives" -> q_hard_negatives,
    "q_triplet_margin" -> q_triplet_margin,
    "q_markov_transitions" -> q_markov_transitions,
    "q_dedup_paragraph" -> q_dedup_paragraph,
    "q_ewma" -> q_ewma,
    "q_chisq" -> q_chisq,
    "q_agg_moments" -> q_agg_moments,
    "q_anomaly_mad" -> q_anomaly_mad,
    "q_autocorr" -> q_autocorr,
    "q_concentration" -> q_concentration,
    "q_minmax_scale" -> q_minmax_scale,
    "q_variant_extract" -> q_variant_extract,
    "q_topk_approx_sketch" -> q_topk_approx_sketch,
    "q_cogroup_timeline" -> q_cogroup_timeline,
    "q_lm_score" -> q_lm_score,
    "q_mix_drift" -> q_mix_drift,
    "q_dsir_hashed" -> q_dsir_hashed,
    "q_dsir_select" -> q_dsir_select,
    "q_quality_by_source" -> q_quality_by_source,
    "q_bigram_lm" -> q_bigram_lm,
    "q_winsorize" -> q_winsorize,
    "q_kfold" -> q_kfold,
    "q_class_weights" -> q_class_weights,
    "q_incremental_agg" -> q_incremental_agg,
    "q_vocab_build" -> q_vocab_build,
    "q_rfm" -> q_rfm,
    "q_attribution" -> q_attribution,
    "q_iqr_outliers" -> q_iqr_outliers,
    "q_time_weighted_avg" -> q_time_weighted_avg,
    "q_cohort_ltv" -> q_cohort_ltv,
    "q_basket_affinity" -> q_basket_affinity,
    "q_mom_growth" -> q_mom_growth,
    "q_url_normalize" -> q_url_normalize,
    "q_rolling_active" -> q_rolling_active,
    "q_gini" -> q_gini,
    "q_benford" -> q_benford,
    "q_cusum" -> q_cusum,
    "q_quality_mix" -> q_quality_mix,
    "q_split_grouped" -> q_split_grouped,
    "q_streak" -> q_streak,
    "q_new_returning" -> q_new_returning,
    "q_event_gap" -> q_event_gap,
    "q_zipf_fit" -> q_zipf_fit,
    "q_bm25" -> q_bm25,
    "q_token_budget" -> q_token_budget,
    "q_pack_sequences" -> q_pack_sequences,
    "q_skyline" -> q_skyline,
    "q_seasonality_dow" -> q_seasonality_dow,
    "q_ab_lift" -> q_ab_lift,
    "q_survival" -> q_survival,
    "q_pareto" -> q_pareto,
    "q_growth_accounting" -> q_growth_accounting,
    "q_target_encoding" -> q_target_encoding,
    "q_grouped_ols" -> q_grouped_ols,
    "q_percentile_rank" -> q_percentile_rank,
    "q_winback" -> q_winback,
    "q_corr_matrix" -> q_corr_matrix,
    "q_mode" -> q_mode,
    "q_ohlc" -> q_ohlc,
    "q_string_agg" -> q_string_agg,
    "q_unpivot" -> q_unpivot,
    "q_attribution_linear" -> q_attribution_linear,
    "q_cumulative_users" -> q_cumulative_users,
    "q_time_to_convert" -> q_time_to_convert,
    "q_ks_test" -> q_ks_test,
    "q_rolling_corr" -> q_rolling_corr,
    "q_psi" -> q_psi,
    "q_pareto_by_group" -> q_pareto_by_group,
    "q_lag_features" -> q_lag_features,
    "q_abandonment" -> q_abandonment,
    "q_interp_linear" -> q_interp_linear,
    "q_weighted_median" -> q_weighted_median,
    "q_weighted_p90" -> q_weighted_p90,
    "q_knn_join_pq" -> q_knn_join_pq,
    "q_bpe_merges" -> q_bpe_merges,
    "q_hhi" -> q_hhi,
    "q_theil" -> q_theil,
    "q_user_features" -> q_user_features,
    "q_abc" -> q_abc,
    "q_segment_migration" -> q_segment_migration,
    "q_vocab_coverage" -> q_vocab_coverage,
    "q_graph_degree" -> q_graph_degree,
    "q_pagerank" -> q_pagerank,
    "q_graph_triangles" -> q_graph_triangles,
    "q_graph_clustering" -> q_graph_clustering,
    "q_graph_local_clustering" -> q_graph_local_clustering,
    "q_graph_reciprocity" -> q_graph_reciprocity,
    "q_graph_communities" -> q_graph_communities,
    "q_graph_components" -> q_graph_components,
    "q_graph_sssp" -> q_graph_sssp,
    "q_graph_sssp_hops" -> q_graph_sssp_hops,
    "q_graph_ecc_hops" -> q_graph_ecc_hops,
    "q_graph_closeness_hops" -> q_graph_closeness_hops,
    "q_graph_assortativity" -> q_graph_assortativity,
    "q_graph_kcore" -> q_graph_kcore,
    "q_graph_closeness" -> q_graph_closeness,
    "q_graph_betweenness" -> q_graph_betweenness,
    "q_graph_eccentricity" -> q_graph_eccentricity,
    "q_graph_betweenness_weighted" -> q_graph_betweenness_weighted,
    "q_graph_betweenness_landmark" -> q_graph_betweenness_landmark,
    "q_graph_closeness_landmark" -> q_graph_closeness_landmark,
    "q_mutual_info" -> q_mutual_info,
    "q_auc" -> q_auc,
    "q_pr_curve" -> q_pr_curve,
    "q_avg_precision" -> q_avg_precision,
    "q_kendall_tau" -> q_kendall_tau,
    "q_calibration" -> q_calibration,
    "q_holt_winters" -> q_holt_winters,
    "q_lift_curve" -> q_lift_curve,
    "q_mrr" -> q_mrr,
    "q_isotonic_calibration" -> q_isotonic_calibration,
    "q_ndcg" -> q_ndcg,
    "q_graph_modularity" -> q_graph_modularity,
    "q_graph_ktruss" -> q_graph_ktruss,
    "q_bpe_encode" -> q_bpe_encode,
    "q_contamination_frac" -> q_contamination_frac,
    "q_spearman" -> q_spearman,
    "q_cohen_kappa" -> q_cohen_kappa,
    "q_mixture_epochs" -> q_mixture_epochs,
    "q_curriculum_bins" -> q_curriculum_bins,
    "q_k_anonymity" -> q_k_anonymity,
    "q_l_diversity" -> q_l_diversity,
    "q_generalize_ladder" -> q_generalize_ladder,
    "q_t_closeness" -> q_t_closeness,
    "q_dp_count" -> q_dp_count,
    "q_dp_sum" -> q_dp_sum,
    "q_ngram_novelty" -> q_ngram_novelty,
    "q_novelty_by_source" -> q_novelty_by_source,
    "q_dup_cluster_histogram" -> q_dup_cluster_histogram,
    "q_containment" -> q_containment,
    "q_boilerplate" -> q_boilerplate,
    "q_dup_spans" -> q_dup_spans,
    "q_dup_span_frac" -> q_dup_span_frac,
    "q_span_removal" -> q_span_removal,
    "q_dup_inflation" -> q_dup_inflation,
    "q_ttr" -> q_ttr,
    "q_kl_sources" -> q_kl_sources,
    "q_dsir_weights" -> q_dsir_weights,
    "q_overlap_matrix" -> q_overlap_matrix,
    "q_winnowing" -> q_winnowing,
    "q_winnow_pairs" -> q_winnow_pairs,
    "q_containment_cluster" -> q_containment_cluster,
    "q_dedup_keep_best" -> q_dedup_keep_best,
    "q_shard_manifest" -> q_shard_manifest,
    "q_top_paths" -> q_top_paths,
    "q_precision_at_k" -> q_precision_at_k,
    "q_recall_at_k" -> q_recall_at_k,
    "q_knn_classify" -> q_knn_classify,
    "q_attribution_decay" -> q_attribution_decay,
    "q_embed_pca" -> q_embed_pca,
    "q_embed_project" -> q_embed_project,
    "q_lsh_recall_eval" -> q_lsh_recall_eval,
    "q_dataset_card" -> q_dataset_card,
    "q_dp_topk" -> q_dp_topk,
    "q_embed_pca_by_label" -> q_embed_pca_by_label,
  )
}
