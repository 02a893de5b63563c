package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Warehouse-style behavioral analytics over an event stream: cohort
  * retention and ordered funnels — the reference's DWS summary-layer
  * territory (user-behavior aggregates over Kafka events,
  * `realtime-dws/pom.xml:12`), batch form.
  */
object Analytics {

  /** Cohort retention: cohort = each user's first active day; cell
    * (cohort_day, day_offset) counts the distinct cohort users active
    * that many days later. Two keyed shuffles — the per-user first-day
    * map, then the cell aggregate. The cohort map is one row per user
    * and joins back on the same user_id key, so the join reuses the
    * aggregation's hash partitioning (no extra exchange) and AQE can
    * pick a broadcast when the map is small. */
  def retention(events: DataFrame, userCol: String = "user_id",
                tsCol: String = "ts"): DataFrame = {
    val ev = events.select(col(userCol).as("user_id"),
      to_date(col(tsCol)).as("day"))
    val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    ev.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Scale-safe GLOBAL row numbering: `row_number() OVER (ORDER BY …)`
    * without the single-partition window (Spark's WindowExec funnels
    * the ENTIRE relation through one task and logs the "No Partition
    * Defined" anti-pattern WARN — the thing that falls over first at
    * 100 TB). Instead: range-repartition on the sort key (a shuffle
    * whose partitions each hold a contiguous key range), sort within
    * partitions, count per partition (tiny driver-side array, one row
    * per partition), and number each partition starting at its
    * cumulative offset. The `sortCols` order must be TOTAL (tie-broken
    * to a unique key) for the numbering to be deterministic.
    *
    * The relation is locally checkpointed so the counting pass and the
    * numbering pass see the identical partitioning (range sampling is
    * otherwise re-drawn per action). The checkpoint is lazy: the
    * counting job is the one that materializes it, and the range bounds
    * are fixed once, when the plan executes. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                      rankCol: String = "rn"): DataFrame = {
    // the numbering runs through this temp column; an input column of
    // the same name (Spark resolves names case-insensitively) would be
    // overwritten and then dropped
    require(!df.columns.exists(_.equalsIgnoreCase("__grank_mid")),
      "globalRowNumber: input must not carry a column named __grank_mid")
    val spark = df.sparkSession
    val nPart = math.max(1, spark.sparkContext.defaultParallelism)
    val sorted = df.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint(eager = false)
    // per-partition counts WITHOUT a shuffle: a single map-only job that
    // materializes the checkpoint (one count per partition, ≤ nPart rows
    // collected). The previous groupBy(spark_partition_id())
    // form paid a two-stage exchange per call — pure scheduling overhead
    // on an iterative-cadence operator. toRdd iterates the checkpoint's
    // InternalRows directly — no per-row external-Row conversion.
    val counts = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }
      Iterator(pid -> n)
    }.collect().toMap // bounded: one small row per partition (<= nPart)
    val offsets: Array[Long] = {
      var acc = 0L
      Array.tabulate(nPart) { p =>
        val o = acc; acc += counts.getOrElse(p, 0L); o
      }
    }
    // stay in Tungsten: monotonically_increasing_id over the CHECKPOINTED
    // partitions is (pid << 33) + row-index-within-partition in stored
    // (= sorted) order, so rank = offsets(pid) + index + 1 — a pure
    // codegen projection, no RDD hop, no converter chain. Valid only
    // because `sorted` is pinned: the expression sits narrow on the
    // checkpoint scan, so partition ids and iteration order are those
    // of the materialized blocks on every re-evaluation. LawsSpec pins
    // the bit layout this decomposition reads.
    val mid = col("__grank_mid")
    sorted.withColumn("__grank_mid", monotonically_increasing_id())
      .withColumn(rankCol,
        // pid+1 is in [1, nPart] by construction; a null here means the
        // decomposition broke, which must fail rather than emit a rank
        coalesce(
          element_at(typedLit(offsets), (shiftright(mid, 33) + 1).cast("int")) +
            mid.bitwiseAND(lit((1L << 33) - 1)) + lit(1L),
          raise_error(lit("globalRowNumber: monotonically_increasing_id " +
            "decomposed to a partition outside the offsets table"))))
      .drop("__grank_mid")
  }
  // r17 note: an eager localCheckpoint of the createDataFrame results of
  // the running-sum operators below (paying the RDD-scan's measured
  // ~0.2-0.33 s/task converter cost once instead of per consumer) was
  // same-session A/B-measured over 8 caller ids, then including
  // globalRowNumber's: WORSE on all 8 (q_rfm 2.33→2.68,
  // q_sequence_pack 0.61→0.70 — the extra materialization job costs
  // more wall than the repeated scans, whose CPU soaks into idle cores).
  // Kept un-pinned deliberately.

  /** Scale-safe GLOBAL running sum: `sum(v) OVER (ORDER BY … ROWS
    * UNBOUNDED PRECEDING)` without the single-partition window — the
    * same range-repartition + per-partition-offset machinery as
    * [[globalRowNumber]], accumulating a long `valueCol` instead of a
    * counter. Per-partition totals (≤ nPart longs) are the only thing
    * collected to the driver; each partition then prefix-sums locally
    * starting at its cumulative offset. `sortCols` must be a TOTAL
    * order (tie-broken to a unique key) for determinism. */
  def globalRunningSum(df: DataFrame, sortCols: Seq[Column],
                       valueCol: String, outCol: String): DataFrame =
    globalRunningSums(df, sortCols, Seq(valueCol -> outCol))

  /** Multi-column form of [[globalRunningSum]]: N running sums over ONE
    * total order for one range shuffle + one offset pass (two
    * single-column calls would shuffle twice). */
  def globalRunningSums(df: DataFrame, sortCols: Seq[Column],
                        cols: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val nPart = math.max(1, spark.sparkContext.defaultParallelism)
    requireLongCols(df, cols.map(_._1))
    val vIdx = cols.map { case (v, _) => df.schema.fieldIndex(v) }.toArray
    val k = vIdx.length
    val sorted = Checkpoints.pin(df.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
    // totals pass over InternalRows (toRdd): the checkpoint's unsafe rows
    // are read in place — no external-Row converter for this full scan
    val sums = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      val s = new Array[Long](k)
      while (it.hasNext) {
        val row = it.next()
        var i = 0
        // null-guarded here (the first pass over every row); the offset
        // pass below re-reads the identical checkpointed partitions
        while (i < k) {
          if (row.isNullAt(vIdx(i)))
            throw new IllegalArgumentException(
              s"running-sum column at field ${vIdx(i)} is NULL — coalesce nulls before the prefix pass")
          s(i) += row.getLong(vIdx(i)); i += 1
        }
      }
      Iterator(pid -> s)
    }.collect().toMap // bounded: one small row per partition (<= nPart)
    val offsets: Map[Int, Array[Long]] = {
      val acc = new Array[Long](k)
      (0 until nPart).map { p =>
        val o = p -> acc.clone()
        sums.get(p).foreach { s =>
          var i = 0; while (i < k) { acc(i) += s(i); i += 1 }
        }
        o
      }.toMap
    }
    val outSchema = StructType(df.schema.fields ++
      cols.map { case (_, out) => StructField(out, LongType, nullable = false) })
    val summed = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val run = offsets(pid).clone()
      it.map { row =>
        var i = 0
        while (i < k) { run(i) += row.getLong(vIdx(i)); i += 1 }
        Row.fromSeq(row.toSeq ++ run.toSeq)
      }
    }
    spark.createDataFrame(summed, outSchema)
  }

  /** The value columns these prefix-sum passes fold are read with
    * `row.getLong` in a tight loop — an Int/Double column would throw a
    * bare ClassCastException and a null an NPE deep inside a task. Fail
    * fast at plan-construction time with a message naming the column.
    * Nullability can't be checked statically (parquet-derived columns
    * are schema-nullable even when the data never is) — the fold passes
    * guard `isNullAt` with a clear error instead. */
  private def requireLongCols(df: DataFrame, cols: Seq[String]): Unit =
    cols.foreach { c =>
      val f = df.schema(df.schema.fieldIndex(c))
      require(f.dataType == LongType,
        s"running-sum column '$c' must be LongType (cast it first), got ${f.dataType.simpleString}")
    }

  private def getLongChecked(row: Row, idx: Int): Long = {
    if (row.isNullAt(idx))
      throw new IllegalArgumentException(
        s"running-sum column at field ${idx} is NULL — coalesce nulls before the prefix pass")
    row.getLong(idx)
  }

  /** GROUPED running sums: `sum(v) OVER (PARTITION BY g ORDER BY … ROWS
    * UNBOUNDED PRECEDING)` for a LOW-cardinality group key — the case
    * where `Window.partitionBy(g)` is a scale killer (|g| partitions =
    * |g| serial tasks, each sorting and folding 1/|g| of the relation).
    * Same machinery as [[globalRunningSums]] with the group key leading
    * the range-repartition sort order: rows of one group are contiguous
    * within (and across) partitions, per-(partition, group) totals are
    * collected (≤ nPart·|groups| tiny rows), and each partition resumes
    * every group at its prefix offset — full nPart-way parallelism
    * regardless of |groups|.
    *
    * `totalSuffix`, when set, also appends each group's GRAND total per
    * output column (out + suffix) — free here (the totals are already on
    * the driver), and it saves callers the usual second aggregate+join
    * over the source.
    *
    * Caller contract: |distinct groups| must be driver-bounded (the
    * collect is O(nPart·|groups|)) — exactly the low-cardinality regime
    * where the window form degenerates. High-cardinality partitions
    * belong in `Window.partitionBy`, which is then genuinely parallel. */
  /** Shared first pass of the grouped prefix-sum family: range-shuffle
    * on (groupCols, orderCols) so each group's rows are contiguous
    * within and across partitions, then one forward scan collecting
    * per-(partition, group) value totals — ≤ nPart·|groups| tiny rows
    * to the driver. Group-change detection compares fields in place
    * (no per-row key allocation: the group key Seq is built only at a
    * boundary, ≤ |groups present in the partition| times). */
  private def sortedGroupScan(df: DataFrame, groupCols: Seq[String],
                              orderCols: Seq[Column], valueCols: Seq[String])
      : (DataFrame, Int, Map[Int, Vector[(Seq[Any], Array[Long])]]) = {
    val spark = df.sparkSession
    val nPart = math.max(1, spark.sparkContext.defaultParallelism)
    requireLongCols(df, valueCols)
    val gIdx = groupCols.map(df.schema.fieldIndex).toArray
    val vIdx = valueCols.map(df.schema.fieldIndex).toArray
    val k = vIdx.length
    val sortCols = groupCols.map(col) ++ orderCols
    val sorted = Checkpoints.pin(df.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
    val partGroupSums = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Array[Long])]
      var cur: Array[Any] = null
      var s: Array[Long] = null
      while (it.hasNext) {
        val row = it.next()
        var changed = cur == null
        var g = 0
        while (!changed && g < gIdx.length) {
          if (row.get(gIdx(g)) != cur(g)) changed = true
          g += 1
        }
        if (changed) {
          cur = gIdx.map(row.get(_))
          s = new Array[Long](k)
          buf += ((cur.toSeq, s))
        }
        var i = 0
        // null-guarded here (the first pass over every row); later
        // passes re-read the identical checkpointed partitions
        while (i < k) { s(i) += getLongChecked(row, vIdx(i)); i += 1 }
      }
      Iterator(pid -> buf.toVector)
    }.collect().toMap // bounded: one small row per partition (<= nPart)
    (sorted, nPart, partGroupSums)
  }

  def groupedRunningSums(df: DataFrame, groupCols: Seq[String],
                         orderCols: Seq[Column], cols: Seq[(String, String)],
                         totalSuffix: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val gIdx = groupCols.map(df.schema.fieldIndex).toArray
    val vIdx = cols.map { case (v, _) => df.schema.fieldIndex(v) }.toArray
    val k = vIdx.length
    val (sorted, nPart, partGroupSums) =
      sortedGroupScan(df, groupCols, orderCols, cols.map(_._1))
    // prefix offsets per (partition, group), walking partitions in range
    // order; the running accumulator per group ends at the grand total
    val acc = scala.collection.mutable.Map.empty[Seq[Any], Array[Long]]
    val offsets: Map[(Int, Seq[Any]), Array[Long]] =
      (0 until nPart).flatMap { p =>
        partGroupSums.getOrElse(p, Vector.empty).map { case (key, s) =>
          val before = acc.getOrElseUpdate(key, new Array[Long](k)).clone()
          val a = acc(key)
          var i = 0
          while (i < k) { a(i) += s(i); i += 1 }
          (p, key) -> before
        }
      }.toMap
    val totals: Map[Seq[Any], Array[Long]] = acc.toMap
    val outSchema = StructType(df.schema.fields ++
      cols.map { case (_, out) => StructField(out, LongType, nullable = false) } ++
      totalSuffix.toSeq.flatMap(sfx => cols.map { case (_, out) =>
        StructField(out + sfx, LongType, nullable = false)
      }))
    val summed = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var cur: Array[Any] = null
      var run: Array[Long] = null
      var tot: Seq[Long] = null
      it.map { row =>
        var changed = cur == null
        var g = 0
        while (!changed && g < gIdx.length) {
          if (row.get(gIdx(g)) != cur(g)) changed = true
          g += 1
        }
        if (changed) {
          cur = gIdx.map(row.get(_))
          val key = cur.toSeq
          run = offsets((pid, key)).clone()
          tot = if (totalSuffix.isDefined) totals(key).toSeq else null
        }
        var i = 0
        while (i < k) { run(i) += row.getLong(vIdx(i)); i += 1 }
        val base = row.toSeq ++ run.toSeq
        Row.fromSeq(if (tot == null) base else base ++ tot)
      }
    }
    spark.createDataFrame(summed, outSchema)
  }

  /** Exact grouped weighted median by HISTOGRAM SELECTION — the
    * distributed k-th-element algorithm, not a sort: per group, the
    * smallest `valueCol` whose cumulative `weightCol` reaches half the
    * group total, found by narrowing a value interval. TWO scans for
    * any realistic distribution, each a codegen aggregate with map-side
    * combine — no wide shuffle of data rows, no per-group sort, no
    * window:
    *   1. Radix histogram, fused with the totals: `groupBy(group,
    *      double_radix_cell(v)).agg(sum w, count, min v, max v)`. The
    *      cell ([[graft.functions.DoubleRadixCell]]) is the top 16 bits
    *      of the value's order-flipped IEEE pattern — monotone and
    *      DATA-INDEPENDENT, so no min/max pre-pass is needed and the
    *      group totals fall out of the same aggregate. The crossing
    *      cell is found driver-side by an EXACT long prefix walk over
    *      the ≤ 2^16 (occupied, in practice a few hundred) cells; the
    *      interval narrows to that cell's actual [min, max] and the
    *      target to the residual weight. A cell spans ≤ 1/16 octave —
    *      if it still holds more than `driverBudget` rows (adversarial
    *      value pile-up), equal-width refinement passes shrink it
    *      `buckets`-fold each until it fits.
    *   2. Exact finish: `groupBy(group, v).agg(sum w)` over the final
    *      interval (≤ driverBudget rows by construction), walked sorted
    *      on the driver.
    *
    * Cell boundaries only STEER the narrowing — the answer is always an
    * actual data value reached by exact integer weight arithmetic, so
    * float bucketing can't flip the result. Replaces
    * `Window.partitionBy(grp)` over a low-cardinality grp (|groups|
    * serial whole-group sort tasks — a guaranteed straggler at scale)
    * with |groups|-independent full parallelism and zero shuffled data
    * rows; the general prefix-sum alternative ([[groupedRunningSums]])
    * stays the right tool when the running column itself is the output
    * — a selection query doesn't need the scan materialized.
    *
    * Caller contract: |groups| is driver-bounded (per-cell aggregates
    * collect O(|groups|·occupied cells)). Rows with null value or
    * weight are excluded. Returns (groupCols*, weighted_median,
    * total_weight), one row per non-empty group. */
  def groupedWeightedMedian(df: DataFrame, groupCols: Seq[String],
                            valueCol: String, weightCol: String,
                            buckets: Int = 1024, driverBudget: Int = 65536,
                            maxIters: Int = 10): DataFrame =
    groupedWeightedQuantile(df, groupCols, valueCol, weightCol, 0.5,
      "weighted_median", buckets, driverBudget, maxIters)

  /** General grouped weighted quantile by the same histogram selection:
    * smallest value whose cumulative weight reaches ceil(phi*total).
    * phi = 0.5 is [[groupedWeightedMedian]]; the crossing target is the
    * ONLY phi-dependent piece, spelled `ceil(phi * total)` so an oracle
    * computing the identical IEEE expression lands on the identical
    * integer target. */
  def groupedWeightedQuantile(df: DataFrame, groupCols: Seq[String],
                              valueCol: String, weightCol: String,
                              phi: Double, outCol: String,
                              buckets: Int = 1024, driverBudget: Int = 65536,
                              maxIters: Int = 10): DataFrame = {
    require(phi > 0.0 && phi < 1.0, s"phi must be in (0,1), got $phi")
    val spark = df.sparkSession
    requireLongCols(df, Seq(weightCol))
    val gc = groupCols.map(col)
    val proj = df.select((groupCols.map(col) :+
        col(valueCol).cast("double").as("__v") :+ col(weightCol).as("__w")): _*)
      .filter(col("__v").isNotNull && col("__w").isNotNull)
    val nG = groupCols.length
    final case class St(key: IndexedSeq[Any], var lo: Double, var hi: Double,
                        var need: Long, total: Long, var rows: Long,
                        var answer: Option[Double])
    // exact long prefix walk: narrow the state to the crossing cell
    def narrow(s: St, cells: Seq[(Long, Long, Double, Double)]): Unit = {
      var cum = 0L
      var found = false
      cells.foreach { case (w, n, bmin, bmax) =>
        if (!found && cum + w >= s.need) {
          found = true
          s.need -= cum
          s.lo = bmin; s.hi = bmax; s.rows = n
          if (bmin == bmax) s.answer = Some(bmin)
        } else if (!found) cum += w
      }
      // all-zero-weight group (target 0 crosses at the first value) or a
      // degenerate float interval: answer the interval's low end
      if (!found) s.answer = Some(s.lo)
    }
    // pass 1: radix histogram fused with the group totals — one scan
    val radixCell = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.DoubleRadixCell(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("__v")), 16))
      .as("__b")
    val hist0 = proj.groupBy((gc :+ radixCell): _*)
      .agg(sum(col("__w")).as("s"), count(lit(1)).as("n"),
        min(col("__v")).as("bmin"), max(col("__v")).as("bmax"))
      .collect() // bounded: occupied cells only, <= |groups| * 2^16
      .groupBy(r => (0 until nG).map(r.get(_)))
    val states = hist0.toSeq.map { case (key, rs) =>
      val cells = rs
        .map(r => (r.getInt(nG), r.getLong(nG + 1), r.getLong(nG + 2),
          r.getDouble(nG + 3), r.getDouble(nG + 4)))
        .sortBy(_._1) // cell order = value order (the radix map is monotone)
      val total = cells.map(_._2).sum
      val s = St(key, cells.head._4, cells.last._5,
        math.ceil(phi * total).toLong, total, 0L, None)
      narrow(s, cells.map(c => (c._2, c._3, c._4, c._5)).toSeq)
      s
    }
    val keySchema = groupCols.map(c => proj.schema(proj.schema.fieldIndex(c)))
    def intervalDim(sts: Seq[St], extra: St => Seq[Any],
                    extraFields: Seq[StructField]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          sts.map(s => Row.fromSeq(s.key ++ extra(s))), 1),
        StructType(keySchema ++ extraFields))
    // adversarial pile-up only: equal-width refinement until the
    // crossing interval fits the driver budget
    var iters = 0
    while (states.exists(s => s.answer.isEmpty && s.rows > driverBudget) &&
           iters < maxIters) {
      iters += 1
      val active = states.filter(s => s.answer.isEmpty && s.rows > driverBudget)
      val dim = intervalDim(active,
        s => Seq(s.lo, s.hi, (s.hi - s.lo) / buckets),
        Seq(StructField("__lo", DoubleType, nullable = false),
          StructField("__hi", DoubleType, nullable = false),
          StructField("__wdt", DoubleType, nullable = false)))
      val cell = least(lit(buckets - 1), greatest(lit(0),
        floor((col("__v") - col("__lo")) / col("__wdt")))).as("__b")
      val hist = proj.join(broadcast(dim), groupCols)
        .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
        .groupBy((gc :+ cell): _*)
        .agg(sum(col("__w")).as("s"), count(lit(1)).as("n"),
          min(col("__v")).as("bmin"), max(col("__v")).as("bmax"))
        .collect() // bounded: at most |active| * buckets small rows
        .groupBy(r => (0 until nG).map(r.get(_)))
      active.foreach { s =>
        val cells = hist.getOrElse(s.key, Array.empty[Row])
          .map(r => (r.getLong(nG), r.getLong(nG + 1), r.getLong(nG + 2),
            r.getDouble(nG + 3), r.getDouble(nG + 4)))
          .sortBy(_._1) // cell index order = value order (floor is monotone)
        narrow(s, cells.map(c => (c._2, c._3, c._4, c._5)).toSeq)
      }
    }
    // pass 2: exact finish over the final (small) intervals. The
    // per-group interval rides as a LITERAL disjunction, not a
    // broadcast join: one fewer job, and on a raw scan column the
    // range predicate reaches the parquet row-group statistics
    val open = states.filter(_.answer.isEmpty)
    if (open.nonEmpty) {
      val pred = open.map { s =>
        groupCols.zipWithIndex.map { case (c, i) =>
          col(c) === lit(s.key(i))
        }.reduce(_ && _) &&
          col("__v") >= lit(s.lo) && col("__v") <= lit(s.hi)
      }.reduce(_ || _)
      val fin = proj.filter(pred)
        .groupBy((gc :+ col("__v")): _*)
        .agg(sum(col("__w")).as("s"))
        .collect() // bounded: at most driverBudget rows per group by construction
        .groupBy(r => (0 until nG).map(r.get(_)))
      open.foreach { s =>
        val vals = fin.getOrElse(s.key, Array.empty[Row])
          .map(r => (r.getDouble(nG), r.getLong(nG + 1)))
          .sortBy(_._1)
        var cum = 0L
        vals.foreach { case (v, w) =>
          if (s.answer.isEmpty) {
            cum += w
            if (cum >= s.need) s.answer = Some(v)
          }
        }
        if (s.answer.isEmpty && vals.nonEmpty) s.answer = Some(vals.head._1)
      }
    }
    val outSchema = StructType(keySchema ++ Seq(
      StructField(outCol, DoubleType, nullable = true),
      StructField("total_weight", LongType, nullable = true)))
    val rows = states.map(s =>
      Row.fromSeq(s.key ++ Seq(s.answer.orNull, s.total)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), outSchema)
  }

  /** Exact `ntile(k)` bucket from a 1-based global rank — the pure
    * arithmetic form of SQL ntile (first `n % k` buckets take one extra
    * row), so the bucket assignment composes with [[globalRowNumber]]
    * instead of needing a window. Column `/` is TRUE division (double);
    * the quotients here must be exact at any rank, so integer division
    * is spelled (a − a mod b)/b — the numerator is an exact multiple,
    * making the double division exact, then the cast is lossless. */
  def ntileOfRank(rank: Column, n: Column, k: Int): Column = {
    def idiv(a: Column, b: Column): Column = ((a - a % b) / b).cast("long")
    val big = n % k
    val sizeBig = idiv(n, lit(k)) + 1
    val sizeSmall = idiv(n, lit(k))
    when(rank <= big * sizeBig, idiv(rank - 1, sizeBig) + 1)
      .otherwise(big + idiv(rank - big * sizeBig - 1, sizeSmall) + 1)
  }

  /** Exact HALF_UP parts-per-million of `num/den` — the corpus-audit
    * pack's shared integer fold (`floor((2·10⁶·num + den) / (2·den))`,
    * exact while the numerator stays ≤ 2⁵³): q_contamination_frac,
    * q_boilerplate and their per-window streaming twins
    * ([[graft.streaming.Jobs.contaminationFracPerWindow]],
    * [[graft.streaming.Jobs.boilerplateMassPerWindow]]) all apply THIS
    * column, so batch/stream parity is inherited, not re-proven — the
    * q_auc convention. */
  def halfUpPpm(num: Column, den: Column): Column =
    floor((num * 2000000L + den) / (den * 2)).cast("long")

  /** One-pass pipeline-stage accounting via the `Observation` API: a
    * training pipeline must account for every dropped row, but a
    * separate `count()` per stage re-executes the plan. `observe`
    * attaches the counters to the SAME pass: rows entering the stage and
    * rows its predicate keeps, collected as a side effect of whatever
    * action eventually runs. Read `obs.get` after the action. */
  def observedFilter(df: DataFrame, keep: Column, name: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val observed = df.observe(obs,
      count(lit(1)).as("rows_in"),
      sum(when(keep, 1L).otherwise(0L)).as("rows_kept"))
    (observed.filter(keep), obs)
  }

  /** Ordered three-stage funnel: a user's first `stages._1`, then the
    * first `stages._2` at-or-after it, then the first `stages._3`
    * at-or-after that, with the last stage landing within `windowMs`
    * of the first. Returns one row: users reaching each stage.
    *
    * Each stage is a filtered min-aggregate plus a user-keyed join —
    * keyed shuffles only, no window function over the full stream, so
    * per-user event counts never have to fit in one sort buffer. */
  def funnel3(events: DataFrame, stages: (String, String, String),
              windowMs: Long = 7L * 24 * 3600 * 1000,
              userCol: String = "user_id", tsCol: String = "ts",
              typeCol: String = "event_type"): DataFrame = {
    val ev = events.select(col(userCol).as("user_id"),
      col(typeCol).as("et"), col(tsCol).as("ts"))
    // each stage's user-sized first-timestamp map feeds BOTH the next
    // stage's gate and the final count join — materialize each once, so
    // the events source is scanned exactly once per stage filter (the
    // floor: the three scans carry three different pushed predicates)
    // instead of re-deriving earlier stages per consumer
    val t1 = Checkpoints.pin(ev.filter(col("et") === stages._1)
      .groupBy("user_id").agg(min("ts").as("t1")))
    val t2 = Checkpoints.pin(ev.filter(col("et") === stages._2)
      .join(t1, Seq("user_id"))
      .filter(col("ts") >= col("t1"))
      .groupBy("user_id", "t1").agg(min("ts").as("t2")))
    val t3 = ev.filter(col("et") === stages._3)
      .join(t2, Seq("user_id"))
      .filter(col("ts") >= col("t2") &&
        unix_millis(col("ts")) - unix_millis(col("t1")) <= lit(windowMs))
      .groupBy("user_id").agg(min("ts").as("t3"))
    t1.join(t2.select("user_id", "t2"), Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_stage1"),
        count(col("t2")).as("n_stage2"),
        count(col("t3")).as("n_stage3"))
  }

  /** Skyline (Pareto frontier): the rows not DOMINATED by any other —
    * q dominates r when q is ≤ r on every minimize-dim, ≥ r on every
    * maximize-dim, and strictly better on at least one (duplicates of
    * the same point therefore all survive). Computed by the classic
    * distributive two-phase scheme: each partition reduces to its LOCAL
    * skyline in one `mapPartitions` pass (the global skyline is a
    * subset of the union of local skylines — dominance is transitive,
    * so a point dominated globally is dominated by some local
    * survivor), then the union of survivors — frontier-sized, not
    * data-sized — runs the same pass once more in a single executor
    * task. The first phase is the 100 TB workhorse (each task discards
    * its dominated mass locally, no shuffle of dropped rows); the
    * second is bounded by the FRONTIER size, which any skyline
    * operator must materialize anyway — for an anti-chain input the
    * frontier IS the data and no algorithm shrinks it. Local passes
    * keep an O(s) candidate buffer (s = running skyline size). Returns
    * the surviving (idCol) rows of `df` via one semi-join — `idCol`
    * must be unique. */
  def skyline(df: DataFrame, idCol: String,
              minimizeCols: Seq[String], maximizeCols: Seq[String]): DataFrame = {
    require(minimizeCols.nonEmpty || maximizeCols.nonEmpty,
      "skyline needs at least one dominance dimension")
    val spark = df.sparkSession
    import spark.implicits._
    // negate maximize-dims: dominance becomes all-≤ with one-<
    val dims = minimizeCols.map(c => col(c).cast("double")) ++
      maximizeCols.map(c => (-col(c)).cast("double"))
    val pts = df.select(col(idCol).cast("long"), array(dims: _*))
      .as[(Long, Seq[Double])]
    def localPass(it: Iterator[(Long, Seq[Double])]): Iterator[(Long, Seq[Double])] = {
      val keep = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      def dominates(a: Array[Double], b: Array[Double]): Boolean = {
        var allLe = true; var oneLt = false; var i = 0
        while (i < a.length && allLe) {
          if (a(i) > b(i)) allLe = false
          else if (a(i) < b(i)) oneLt = true
          i += 1
        }
        allLe && oneLt
      }
      it.foreach { case (id, s) =>
        val p = s.toArray
        if (!keep.exists { case (_, q) => dominates(q, p) }) {
          val survivors = keep.filterNot { case (_, q) => dominates(p, q) }
          keep.clear(); keep ++= survivors
          keep += ((id, p))
        }
      }
      keep.iterator.map { case (id, p) => (id, p.toSeq) }
    }
    // repartition (a SHUFFLE), not coalesce: a no-shuffle coalesce(1)
    // would collapse the phase-1 mapPartitions into the single merged
    // task and serialize the whole scan — the barrier is what lets
    // phase 1 run data-parallel and ships only frontier-sized survivors
    val winners = pts.mapPartitions(localPass _)
      .repartition(1).mapPartitions(localPass _)
      .select(col("_1").as(idCol))
    // no broadcast HINT on the semi-join back: the frontier is usually
    // tiny (AQE sees the runtime size of the 1-partition merge output
    // and broadcasts it), but an anti-chain input makes the frontier
    // DATA-sized and a forced broadcast would OOM exactly there — the
    // same unconditional-hint trap the trade-graph edge builder
    // documents. Strategy stays a measured runtime pick.
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Incremental skyline maintenance: fold a new batch into an existing
    * frontier WITHOUT re-scanning history — the streaming-ingest form
    * of [[skyline]]. Correct because skyline is a distributive
    * semilattice fold: dominance is transitive, so any historical row
    * already dominated stays dominated by a frontier member, giving
    * skyline(A ∪ B) = skyline(skyline(A) ∪ B) — pinned as a LawsSpec
    * law. Cost per batch is one [[skyline]] pass over
    * frontier ∪ batch: the frontier side is frontier-sized, so
    * maintenance work is batch-proportional (the same contract as the
    * incremental dedup/IVF indexes). Both inputs must carry `idCol`
    * and every dominance column. */
  def skylineMerge(frontier: DataFrame, batch: DataFrame, idCol: String,
                   minimizeCols: Seq[String], maximizeCols: Seq[String]): DataFrame = {
    val cols = (idCol +: (minimizeCols ++ maximizeCols)).map(col)
    skyline(frontier.select(cols: _*).unionByName(batch.select(cols: _*)),
      idCol, minimizeCols, maximizeCols)
  }

  /** Grouped ROC-AUC from a per-(group, score) class HISTOGRAM — the
    * rank-sum (Mann–Whitney) identity as a bounded pairwise fold:
    *
    *   AUC = Σ_{i,j} pos_i·neg_j·([s_i>s_j] + ½[s_i=s_j]) / (P·N)
    *
    * This is the at-scale AUC formulation (continuous scores get
    * bucketed into the histogram first): the histogram is score-
    * DOMAIN-sized, so the self-join is arithmetic independent of data
    * rows — no data-proportional window, no global sort. Input `h`
    * carries `groupCols ++ (score, pos, neg)` and should already be
    * pinned (checkpoint / finalized micro-batch): it is read three
    * times. Counts fold as exact longs; pair products in Decimal(38,0)
    * (pos·neg per cell can pass 2⁶³ at petabyte group sizes — DuckDB
    * oracles mirror with HUGEINT); the single double is one division
    * rounded at 6 dp. One-class groups (P or N zero — AUC undefined)
    * are dropped. Shared verbatim by the batch registry id (q_auc) and
    * the streaming per-window finalize ([[graft.streaming.Jobs
    * .aucPerWindow]]), which is what makes their parity a law rather
    * than a coincidence. Returns `groupCols ++ (n_pos, n_neg, auc)`. */
  /** Grouped HOLT–WINTERS (additive level + trend + seasonality)
    * forecasting — the missing piece between [[q_ewma]]'s smoothing and
    * a real seasonal forecast: per key, the classic triple recurrence
    * over the ordered series, then an `horizon`-step-ahead forecast
    * l_T + h·b_T + s_{T−m+((h−1) mod m)}. Initialization is the
    * trend-adjusted form (trend = season-over-season mean shift / m;
    * level = first-season mean shifted to t = m−1; seasonals =
    * detrended first-season deviations), which
    * gives the EXACT-FIT law LawsSpec pins: a purely linear + seasonal
    * series is reproduced with zero residual and exact forecasts for
    * ANY smoothing constants (the recurrences preserve exact state when
    * the residual is 0). At-scale shape: the data-proportional work is
    * the upstream per-(key, bucket) aggregate; the recurrence runs on
    * the BOUNDED per-key series (calendar-sized by contract) gathered
    * with `collect_list` inside one task per key — the
    * [[isotonicFromHistogram]] discipline, never a driver collect.
    * Deterministic: one fixed left-to-right double recurrence, no
    * reduce-order dependence. Returns `keyCols ++ (h, forecast)` with
    * forecast rounded at 6 dp; keys whose series (grid length, after
    * any gap fill) is shorter than two full seasons are dropped (the
    * init needs them — a silent partial init would forecast garbage).
    *
    * SEASONAL PHASE rides the ORDER VALUE, not the row position: the
    * per-key series is reindexed onto the unit-spaced integer grid of
    * `orderCol` offsets from the key's first observation, so the
    * seasonal index of observation t is (t − t₀) mod m in CALENDAR
    * steps. An absent bucket (a zero-event day in a count series)
    * would otherwise silently shift the seasonal phase of every later
    * observation and forecast. Gaps fill with `fillValue` when given
    * (0.0 is the right policy for count series); with `fillValue =
    * None` a non-contiguous series is a contract violation and throws
    * — never a silent mis-phase. Duplicate grid positions and
    * non-integral spacing always throw. */
  def holtWintersForecast(df: DataFrame, keyCols: Seq[String],
                          orderCol: String, valueCol: String,
                          period: Int, horizon: Int,
                          alpha: Double = 0.3, beta: Double = 0.1,
                          gamma: Double = 0.2,
                          fillValue: Option[Double] = None): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(keyCols.nonEmpty, "holtWintersForecast needs key columns")
    for (p0 <- Seq(alpha, beta, gamma))
      require(p0 > 0.0 && p0 < 1.0, s"smoothing constants must be in (0,1)")
    val g = keyCols.map(col)
    val hw = udf { (cells: Seq[org.apache.spark.sql.Row]) =>
      val xs = hwGrid(cells, fillValue, None, 0)
      if (xs.length < 2 * period) Seq.empty[(Int, Double)]
      else {
        val (level, trend, seas) = hwFitXs(xs, period, alpha, beta, gamma)
        hwForecasts(level, trend, seas, period, xs.length, horizon)
      }
    }
    df.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(
        col(orderCol).cast("double").as("o"),
        col(valueCol).cast("double").as("v")))).as("cells"))
      .select(g :+ explode(hw(col("cells"))).as("seg"): _*)
      .select(g :+ col("seg._1").as("h") :+ col("seg._2").as("forecast"): _*)
  }

  // ---- Holt–Winters shared internals (the LITERAL fold the forecast
  // operator and the persisted-state artifact both run — their parity
  // is by construction, not by test luck) ------------------------------

  /** Reindex sorted (o, v) cells onto the unit grid starting at
    * `startPos` relative to `origin` (the series' own first order value
    * when None). Gaps fill by policy or throw; duplicates, non-integral
    * spacing and positions before `startPos` always throw. */
  private[graft] def hwGrid(cells: Seq[org.apache.spark.sql.Row],
                            fillValue: Option[Double],
                            origin: Option[Double],
                            startPos: Int): Array[Double] = {
    if (cells.isEmpty) return Array.empty[Double]
    val o0 = origin.getOrElse(cells.head.getDouble(0))
    val pos = new Array[Int](cells.length)
    var i = 0
    while (i < cells.length) {
      val p = cells(i).getDouble(0) - o0
      val r = math.rint(p)
      if (math.abs(p - r) > 1e-6)
        throw new IllegalArgumentException(
          "holt-winters: order values must sit on a unit-spaced integer " +
            s"grid, found offset $p from the series origin")
      pos(i) = r.toInt
      if (pos(i) < startPos)
        throw new IllegalArgumentException(
          s"holt-winters: observation at grid position ${pos(i)} precedes " +
            s"the already-fitted horizon $startPos — extensions must be " +
            "strictly new observations")
      if (i > 0 && pos(i) == pos(i - 1))
        throw new IllegalArgumentException(
          "holt-winters: duplicate order value at grid position " +
            s"${pos(i)} — the (key, order) pair must be unique " +
            "(aggregate upstream)")
      i += 1
    }
    val len = pos(cells.length - 1) + 1 - startPos
    if (len == cells.length && pos(0) == startPos)
      cells.map(_.getDouble(1)).toArray
    else fillValue match {
      case Some(fv) =>
        val arr = Array.fill(len)(fv)
        var j = 0
        while (j < cells.length) {
          arr(pos(j) - startPos) = cells(j).getDouble(1); j += 1
        }
        arr
      case None =>
        throw new IllegalArgumentException(
          s"holt-winters: non-contiguous series (${cells.length} " +
            s"observations spanning $len grid steps from position " +
            s"$startPos) and no fillValue policy — pass fillValue " +
            "(Some(0.0) for count series) or densify upstream; silently " +
            "skipping gaps would shift the seasonal phase")
    }
  }

  /** Fold observations `xs(fromIdx..)` sitting at ABSOLUTE grid
    * positions `startT..` through the triple recurrence; mutates `seas`
    * in place, returns the updated (level, trend). */
  private[graft] def hwFoldXs(level0: Double, trend0: Double,
                              seas: Array[Double], m: Int, alpha: Double,
                              beta: Double, gamma: Double,
                              xs: Array[Double], fromIdx: Int,
                              startT: Int): (Double, Double) = {
    var level = level0
    var trend = trend0
    var i = fromIdx
    while (i < xs.length) {
      val t = startT + (i - fromIdx)
      val sOld = seas(t % m)
      val lOld = level
      level = alpha * (xs(i) - sOld) + (1.0 - alpha) * (lOld + trend)
      trend = beta * (level - lOld) + (1.0 - beta) * trend
      seas(t % m) = gamma * (xs(i) - level) + (1.0 - gamma) * sOld
      i += 1
    }
    (level, trend)
  }

  /** Trend-adjusted init over the first two seasons (the exact-fit-law
    * form), then fold the rest; requires xs.length >= 2m. */
  private[graft] def hwFitXs(xs: Array[Double], m: Int, alpha: Double,
                             beta: Double, gamma: Double)
      : (Double, Double, Array[Double]) = {
    def mean(from: Int): Double = {
      var s0 = 0.0; var i = from
      while (i < from + m) { s0 += xs(i); i += 1 }
      s0 / m
    }
    val trend0 = (mean(m) - mean(0)) / m
    // trend-adjusted init: the naive level = first-season mean sits at
    // the season MIDPOINT and breaks the exact-fit law on linear
    // series; shifting by (m-1)/2 trend steps puts it at t = m-1, and
    // detrending the seasonal estimates completes the exactness
    val level0 = mean(0) + trend0 * (m - 1) / 2.0
    val seas = Array.tabulate(m)(i => xs(i) - (level0 - (m - 1 - i) * trend0))
    val (level, trend) = hwFoldXs(level0, trend0, seas, m, alpha, beta, gamma,
      xs, m, m)
    (level, trend, seas)
  }

  private[graft] def hwForecasts(level: Double, trend: Double,
                                 seas: Array[Double], m: Int, n: Int,
                                 horizon: Int): Seq[(Int, Double)] =
    (1 to horizon).map { h =>
      val f = level + h * trend + seas((n + h - 1) % m)
      h -> BigDecimal(f).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

  // ---- persisted Holt–Winters state artifact --------------------------

  /** FIT the per-key Holt–Winters state — the persisted-artifact twin of
    * [[holtWintersForecast]], following the BPE-merges precedent: the
    * fit is data-proportional, so the fitted state (m + 4 numbers per
    * key: grid origin, grid length, level, trend, seasonal vector)
    * persists and daily ingest batches EXTEND it incrementally
    * ([[hwExtendState]]) instead of refolding history. The recurrence
    * is one deterministic left-to-right double fold, so extend ==
    * refit BIT-EXACTLY (the LawsSpec law). Keys shorter than two full
    * seasons are dropped, as in the forecast operator. Output schema:
    * keyCols ++ (hw_o0, hw_n, hw_level, hw_trend, hw_seas). */
  def hwFitState(df: DataFrame, keyCols: Seq[String], orderCol: String,
                 valueCol: String, period: Int,
                 alpha: Double = 0.3, beta: Double = 0.1,
                 gamma: Double = 0.2,
                 fillValue: Option[Double] = None): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(keyCols.nonEmpty, "hwFitState needs key columns")
    val g = keyCols.map(col)
    val fit = udf { (cells: Seq[org.apache.spark.sql.Row]) =>
      val xs = hwGrid(cells, fillValue, None, 0)
      if (xs.length < 2 * period) None
      else {
        val o0 = cells.head.getDouble(0)
        val (level, trend, seas) = hwFitXs(xs, period, alpha, beta, gamma)
        Some((o0, xs.length, level, trend, seas.toSeq))
      }
    }
    df.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(
        col(orderCol).cast("double").as("o"),
        col(valueCol).cast("double").as("v")))).as("cells"))
      .select(g :+ fit(col("cells")).as("st"): _*)
      .where(col("st").isNotNull)
      .select(g ++ Seq(col("st._1").as("hw_o0"), col("st._2").as("hw_n"),
        col("st._3").as("hw_level"), col("st._4").as("hw_trend"),
        col("st._5").as("hw_seas")): _*)
  }

  /** EXTEND persisted Holt–Winters state with a batch of NEW
    * observations: each fitted key folds only its new grid cells from
    * the stored (level, trend, seasonal, position) — work ∝ batch, and
    * extend == refit on the full series bit-exactly (shared fold).
    * Observations at already-fitted positions throw (strictly-new
    * contract); gaps to/inside the batch follow `fillValue`. Fitted
    * keys with no new data pass through unchanged; keys NEW to the
    * state fit fresh from this batch when it carries two full seasons
    * (dropped otherwise, like the fit). */
  def hwExtendState(state: DataFrame, newObs: DataFrame, keyCols: Seq[String],
                    orderCol: String, valueCol: String, period: Int,
                    alpha: Double = 0.3, beta: Double = 0.1,
                    gamma: Double = 0.2,
                    fillValue: Option[Double] = None): DataFrame = {
    val g = keyCols.map(col)
    val ext = udf { (o0: Double, n: Int, level: Double, trend: Double,
                     seas: Seq[Double], cells: Seq[org.apache.spark.sql.Row]) =>
      val xs2 = hwGrid(cells, fillValue, Some(o0), n)
      val sArr = seas.toArray
      val (l2, t2) = hwFoldXs(level, trend, sArr, period, alpha, beta, gamma,
        xs2, 0, n)
      (o0, n + xs2.length, l2, t2, sArr.toSeq)
    }
    val cellsByKey = newObs.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(
        col(orderCol).cast("double").as("o"),
        col(valueCol).cast("double").as("v")))).as("__cells"))
    val advanced = state.join(cellsByKey, keyCols)
      .select(g :+ ext(col("hw_o0"), col("hw_n"), col("hw_level"),
        col("hw_trend"), col("hw_seas"), col("__cells")).as("st"): _*)
      .select(g ++ Seq(col("st._1").as("hw_o0"), col("st._2").as("hw_n"),
        col("st._3").as("hw_level"), col("st._4").as("hw_trend"),
        col("st._5").as("hw_seas")): _*)
    val untouched = state.join(
      cellsByKey.select(g: _*), keyCols, "left_anti")
    val fresh = hwFitState(
      newObs.join(state.select(g: _*), keyCols, "left_anti"),
      keyCols, orderCol, valueCol, period, alpha, beta, gamma, fillValue)
    advanced.unionByName(untouched).unionByName(fresh)
  }

  /** Forecast `horizon` steps ahead from persisted state — the same
    * closed form [[holtWintersForecast]] emits, so state-based and
    * direct forecasts agree bit-exactly on the same history. */
  def hwForecastFromState(state: DataFrame, keyCols: Seq[String],
                          horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val g = keyCols.map(col)
    val fc = udf { (n: Int, level: Double, trend: Double, seas: Seq[Double]) =>
      hwForecasts(level, trend, seas.toArray, seas.length, n, horizon)
    }
    state
      .select(g :+ explode(fc(col("hw_n"), col("hw_level"), col("hw_trend"),
        col("hw_seas"))).as("seg"): _*)
      .select(g :+ col("seg._1").as("h") :+ col("seg._2").as("forecast"): _*)
  }

  /** Persist fitted state ([[hwFitState]]) as parquet — key-sized. */
  def hwWriteState(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   valueCol: String, period: Int, dir: String,
                   alpha: Double = 0.3, beta: Double = 0.1,
                   gamma: Double = 0.2,
                   fillValue: Option[Double] = None): Unit =
    hwFitState(df, keyCols, orderCol, valueCol, period, alpha, beta, gamma,
      fillValue).write.mode("overwrite").parquet(dir)

  /** The persisted state, read as [[graft.sources.IO.replacedPath]]
    * says: a crash mid-replace leaves it at `<dir>_bak`. */
  def hwReadState(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame =
    graft.sources.IO.readArtifact(spark,
      graft.sources.IO.replacedPath(spark, dir).getOrElse(dir))

  /** Fold a new-observation batch into a persisted state dir, replacing
    * it ([[graft.sources.IO.replace]]). Single writer by contract, like
    * every artifact. */
  def hwExtendStateDir(newObs: DataFrame, keyCols: Seq[String],
                       orderCol: String, valueCol: String, period: Int,
                       dir: String,
                       alpha: Double = 0.3, beta: Double = 0.1,
                       gamma: Double = 0.2,
                       fillValue: Option[Double] = None): Unit =
    graft.sources.IO.replace(hwExtendState(
      hwReadState(newObs.sparkSession, dir), newObs, keyCols, orderCol,
      valueCol, period, alpha, beta, gamma, fillValue), dir, "hwExtendStateDir")

  /** TAKEDOWN verb for the persisted Holt–Winters state artifact — drop
    * retired series (keys) from the store, completing the artifact's
    * verb set (write / read / extend / delete; VERDICT r11 #5). Per-key
    * state rows are independent, so delete == a rebuild that never saw
    * those keys, row for row (the ScalePathSpec law), and deleting an
    * absent key is a no-op with byte-identical surviving rows (replay
    * law) — the same semi-join idempotence [[graft.sources.IO
    * .takedownSink]] relies on. Cost: one key-sized anti-join, replacing
    * the state dir ([[graft.sources.IO.replace]]; the state is key-sized
    * by construction — never history-sized). Single writer by contract. */
  def hwDeleteStateKeys(keys: DataFrame, keyCols: Seq[String],
                        dir: String): Unit = {
    require(keyCols.nonEmpty, "hwDeleteStateKeys needs key columns")
    graft.sources.IO.replace(hwReadState(keys.sparkSession, dir)
      .join(keys.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti"),
      dir, "hwDeleteStateKeys")
  }

  /** Grouped LIFT / CUMULATIVE-GAINS curve from the class histogram —
    * the targeting view of the [[prCurveFromHistogram]] sweep: at each
    * threshold, the flagged fraction (tp+fp)/N, the gain (= recall:
    * fraction of positives captured) and the lift prec/prevalence =
    * tp·N / ((tp+fp)·P) — how many times better than random targeting
    * the top slice is. Same within-group domain² cumulative self-join;
    * every ratio folds from exact longs in ONE rounded division (lift
    * in particular is never composed from two rounded doubles). `h` is
    * read three times — pass it pinned. Returns `groupCols ++
    * (threshold, n_flagged, frac_flagged, gain, lift)`. */
  def liftFromHistogram(h: DataFrame, groupCols: Seq[String]): DataFrame = {
    val cum = cumulative(h, groupCols, "liftFromHistogram")
    val g = groupCols.map(col)
    val tot = h.groupBy(g: _*).agg(sum(col("pos")).as("p_all"),
      sum(col("pos") + col("neg")).as("n_all"))
    cum.join(tot, groupCols)
      .where(col("p_all") > 0L)
      .select(g :+ col("threshold") :+
        (col("tp") + col("fp")).as("n_flagged") :+
        round((col("tp") + col("fp")).cast("double") / col("n_all"), 6)
          .as("frac_flagged") :+
        round(col("tp").cast("double") / col("p_all"), 6).as("gain") :+
        round(col("tp").cast("double") * col("n_all") /
          ((col("tp") + col("fp")).cast("double") * col("p_all")), 6)
          .as("lift"): _*)
  }

  /** Grouped ISOTONIC calibration (pool-adjacent-violators) from the
    * per-(group, score) class histogram — the nonparametric calibrator
    * that turns raw scores into monotone probabilities (the standard
    * post-hoc calibration step next to [[calibrationFromHistogram]]'s
    * diagnostic): per group, the empirical rates pos/(pos+neg) over the
    * ascending score domain are pooled until monotone, each pool's
    * fitted value the weighted mean of its members. At-scale shape:
    * the data-proportional work is the histogram aggregate upstream;
    * PAV itself runs on the score-DOMAIN-sized cell list (bounded by
    * the histogram contract), gathered per group with `collect_list`
    * inside one task — never a driver collect, never a global sort.
    * Arithmetic is ENGINE-FREE exact: pool merge decisions compare
    * rates as BigInt cross-products (a/b ≥ c/d ⇔ a·d ≥ c·b — no double
    * epsilon anywhere), and the fitted value is one HALF_UP 6-dp
    * division of exact long sums. Returns `groupCols ++ (score, n,
    * fitted)` — fitted is non-decreasing in score within every group
    * (the law LawsSpec pins, with a driver PAV reference and the
    * pooled-mass ledger Σ fitted·n == Σ pos). */
  def isotonicFromHistogram(h: DataFrame, groupCols: Seq[String]): DataFrame = {
    checkHistogram(h, groupCols, "isotonicFromHistogram")
    val g = groupCols.map(col)
    val pav = udf { (cells: Seq[org.apache.spark.sql.Row]) =>
      // blocks of (member (score, n) list, pooled pos, pooled n); cells
      // arrive sorted by score (sort_array on the leading struct field)
      final case class Block(members: List[(Double, Long)], p: Long, n: Long)
      val blocks = scala.collection.mutable.ArrayBuffer.empty[Block]
      cells.foreach { r =>
        var b = Block(List((r.getDouble(0), r.getLong(2))), r.getLong(1),
          r.getLong(2))
        // pool while the previous block's rate exceeds this one's:
        // prev.p/prev.n > b.p/b.n  ⇔  prev.p·b.n > b.p·prev.n
        while (blocks.nonEmpty &&
          BigInt(blocks.last.p) * b.n > BigInt(b.p) * blocks.last.n) {
          val prev = blocks.remove(blocks.length - 1)
          b = Block(prev.members ++ b.members, prev.p + b.p, prev.n + b.n)
        }
        blocks += b
      }
      blocks.iterator.flatMap { b =>
        val fitted = BigDecimal(b.p).bigDecimal
          .divide(BigDecimal(b.n).bigDecimal, 6,
            java.math.RoundingMode.HALF_UP).doubleValue
        b.members.map { case (sc, nc) => (sc, nc, fitted) }
      }.toSeq
    }
    h.groupBy(g: _*)
      .agg(sort_array(collect_list(struct(
        col("score").cast("double").as("s"),
        col("pos").cast("long").as("p"),
        (col("pos") + col("neg")).cast("long").as("n")))).as("cells"))
      .select(g :+ col("cells") :+
        explode(pav(col("cells"))).as("seg"): _*)
      .select(g :+ col("seg._1").as("score") :+ col("seg._2").as("n") :+
        col("seg._3").as("fitted"): _*)
  }

  /** Grouped PRECISION/RECALL/F1 at every score threshold from the
    * per-(group, score) class histogram — the sweep behind
    * [[avgPrecisionFromHistogram]] and the batch q_pr_curve id:
    * tp(t)/fp(t) fold by a within-group histogram self-join (score-
    * DOMAIN² arithmetic hash-joined on the group key — no
    * low-cardinality window, no global sort), F1 folds from integers
    * in ONE rounded division. `h` is read three times — pass it
    * pinned. Zero-positive groups drop (recall undefined). Returns
    * `groupCols ++ (threshold, tp, fp, fn, prec, rec, f1)`. */
  def prCurveFromHistogram(h: DataFrame, groupCols: Seq[String]): DataFrame = {
    val cum = cumulative(h, groupCols, "prCurveFromHistogram")
    val g = groupCols.map(col)
    val tot = h.groupBy(g: _*).agg(sum(col("pos")).as("p_all"))
    cum.join(tot, groupCols)
      .where(col("p_all") > 0L)
      .select(g :+ col("threshold") :+ col("tp") :+ col("fp") :+
        (col("p_all") - col("tp")).as("fn") :+
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
          .as("prec") :+
        round(col("tp").cast("double") / col("p_all"), 6).as("rec") :+
        round(lit(2.0) * col("tp") /
          (lit(2L) * col("tp") + col("fp") + col("p_all") - col("tp")), 6)
          .as("f1"): _*)
  }

  /** Grouped AVERAGE PRECISION (AUC-PR by the step rule) from the
    * class histogram: AP = Σ_t pos_t·prec(t)/P over the same cumulative
    * self-join as [[prCurveFromHistogram]], each term quantized to an
    * exact 1e-6-grain long BEFORE the group sum (term ≤ pos_t, so
    * micro-longs stay double-exact at any scale), one rounded division
    * by the positive total. `h` is read three times — pass it pinned.
    * Returns `groupCols ++ (n_pos, avg_prec)`. */
  def avgPrecisionFromHistogram(h: DataFrame,
                                groupCols: Seq[String]): DataFrame = {
    val cum = cumulative(h, groupCols, "avgPrecisionFromHistogram")
    val g = groupCols.map(col)
    val tot = h.groupBy(g: _*).agg(sum(col("pos")).as("p_all"))
    val terms = cum
      .join(h.select(g :+ col("score").as("threshold") :+
        col("pos").as("pos_t"): _*), groupCols :+ "threshold")
      .select(g :+
        round(col("pos_t").cast("double") * col("tp") /
          (col("tp") + col("fp")) * lit(1e6)).cast("long").as("term"): _*)
    terms.groupBy(g: _*).agg(sum(col("term")).as("m"))
      .join(tot, groupCols)
      .where(col("p_all") > 0L)
      .select(g :+ col("p_all").as("n_pos") :+
        round(col("m").cast("double") / col("p_all") / lit(1e6), 6)
          .as("avg_prec"): _*)
  }

  /** Grouped CALIBRATION (reliability diagram + Brier) from the same
    * per-(group, score) class histogram as [[aucFromHistogram]] — the
    * second metric the one histogram pays for: p̂ = score/`scoreMax`,
    * equi-width bins of `binWidth` clamped at `maxBin`, per bin the
    * count, mean p̂, empirical positive rate, their gap and the Brier
    * contribution. One histogram-sized aggregate (h is scanned ONCE —
    * no pin needed); with integral scores every numerator folds as an
    * exact integer, so the batch registry id (q_calibration) and the
    * streaming per-window twin ([[graft.streaming.Jobs
    * .calibrationPerWindow]]) are the SAME arithmetic by construction.
    * Returns `groupCols ++ (bin, n, mean_pred, frac_pos, gap, brier)`. */
  def calibrationFromHistogram(h: DataFrame, groupCols: Seq[String],
                               binWidth: Long = 5L, maxBin: Long = 9L,
                               scoreMax: Long = 50L): DataFrame = {
    checkHistogram(h, groupCols, "calibrationFromHistogram")
    val g = groupCols.map(col)
    val cellN = col("pos") + col("neg")
    h.groupBy(g :+ least(floor(col("score") / lit(binWidth)).cast("long"),
        lit(maxBin)).as("bin"): _*)
      .agg(sum(cellN).as("n"),
        sum(col("score") * cellN).as("ssum"),
        sum(col("pos")).as("posn"),
        sum((col("score") - lit(scoreMax)) * (col("score") - lit(scoreMax)) *
          col("pos") + col("score") * col("score") * col("neg")).as("sqsum"))
      .select(g :+ col("bin") :+ col("n") :+
        round(col("ssum").cast("double") /
          (lit(scoreMax.toDouble) * col("n")), 6).as("mean_pred") :+
        round(col("posn").cast("double") / col("n"), 6).as("frac_pos") :+
        round((lit(scoreMax) * col("posn") - col("ssum")).cast("double") /
          (lit(scoreMax.toDouble) * col("n")), 6).as("gap") :+
        round(col("sqsum").cast("double") /
          (lit(scoreMax.toDouble * scoreMax) * col("n")), 6).as("brier"): _*)
  }

  def aucFromHistogram(h: DataFrame, groupCols: Seq[String]): DataFrame = {
    checkHistogram(h, groupCols, "aucFromHistogram")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = groupCols.map(col)
    val h1 = h.select(g :+ col("score").as("s1") :+ col("pos"): _*)
    val h2 = h.select(g :+ col("score").as("s2") :+ col("neg"): _*)
    val num = h1.join(h2, groupCols).where(col("s1") >= col("s2"))
      .groupBy(g: _*)
      .agg(sum(col("pos").cast(dec) * col("neg").cast(dec) *
        when(col("s1") > col("s2"), lit(2)).otherwise(lit(1)).cast(dec))
        .as("num2"))
    val tot = h.groupBy(g: _*)
      .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
    tot.join(num, groupCols)
      .where(col("n_pos") > 0 && col("n_neg") > 0)
      .select(g :+ col("n_pos") :+ col("n_neg") :+
        round(col("num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"): _*)
  }

  /** The histogram folds' column contract, checked before any plan is
    * built: `h` carries score/pos/neg and every group column. The folds
    * hardcode the histogram shape both producers emit, and a
    * wrong-shaped input would otherwise surface as an opaque resolver
    * error three selects deep. `who` names the fold in the message. */
  private def checkHistogram(h: DataFrame, groupCols: Seq[String],
                             who: String): Unit = {
    val have = h.columns.toSet
    for (c <- Seq("score", "pos", "neg") ++ groupCols)
      require(have(c), s"$who input is missing column '$c' " +
        s"(have: ${h.columns.mkString(", ")})")
  }

  /** Per (group, threshold): the cumulative class counts `tp`/`fp` of
    * every histogram cell scoring ≥ the threshold — the within-group
    * domain² self-join the lift, PR and AP sweeps share. The join
    * re-keys on the group, so at least one group column is required
    * (checked first, then the column contract, on behalf of `who`). */
  private def cumulative(h: DataFrame, groupCols: Seq[String],
                         who: String): DataFrame = {
    require(groupCols.nonEmpty,
      s"$who needs at least one group column (the join " +
        "re-keys on it; wrap a global sweep in a constant group)")
    checkHistogram(h, groupCols, who)
    val g = groupCols.map(col)
    h.select(g :+ col("score").as("threshold"): _*)
      .join(h.select(g :+ col("score").as("s2") :+ col("pos") :+
        col("neg"): _*), groupCols)
      .where(col("s2") >= col("threshold"))
      .groupBy(g :+ col("threshold"): _*)
      .agg(sum(col("pos")).as("tp"), sum(col("neg")).as("fp"))
  }
}
