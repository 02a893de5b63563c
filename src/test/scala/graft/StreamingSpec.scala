package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import graft.streaming.{Processors, Streams}

/** Golden tests for the ⊘ streaming-stateful operators (SURVEY.md §2.I):
  * watermarked windows, watermark-bounded dedup, keyed `ValueState`
  * processors and event-time timers — the reference's Flink core, driven
  * through `MemoryStream` with controlled batch boundaries (FIXTURES.md §B).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)
  private var qn = 0
  private def nextName(): String = { qn += 1; s"stream_out_$qn" }

  test("tumbling window agg finalizes on watermark advance; late rows dropped") {
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .select(col("window.start").as("ws"), col("n"), col("s"))
    val name = nextName()
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // b1: two rows in [10:00,10:10), one in [10:10,10:20); wm → 10:07
      in.addData((ts("2024-01-01 10:01:00"), 1L), (ts("2024-01-01 10:06:00"), 2L),
        (ts("2024-01-01 10:12:00"), 4L))
      q.processAllAvailable()
      // b2: advance wm past 10:10 → first window finalizes next batch
      in.addData((ts("2024-01-01 10:21:00"), 8L))
      q.processAllAvailable()
      // b3: late row for the finalized window (dropped) + wm → 10:31
      in.addData((ts("2024-01-01 10:03:00"), 100L), (ts("2024-01-01 10:36:00"), 16L))
      q.processAllAvailable()
      // b4: flush
      in.addData((ts("2024-01-01 11:00:00"), 32L))
      q.processAllAvailable()
      val out = spark.table(name).as[(Timestamp, Long, Long)].collect()
        .map(r => r._1.toString -> (r._2, r._3)).toMap
      assert(out("2024-01-01 10:00:00.0") == (2L, 3L),
        s"late row must not count: $out")
      assert(out("2024-01-01 10:10:00.0") == (1L, 4L))
      assert(out("2024-01-01 10:20:00.0") == (1L, 8L))
    } finally q.stop()
  }

  test("windowedDegree: per-window degree finalizes once; late edges drop") {
    // trade-edge stream (ts, src, dst, w): the streaming twin of
    // q_graph_degree — out/in strength + edge counts per node per window
    val in = MemoryStream[(Timestamp, Long, Long, Double)]
    val deg = graft.streaming.Jobs.windowedDegree(
      in.toDF().toDF("ts", "src", "dst", "w"),
      "ts", "src", "dst", "w", "10 minutes", "5 minutes")
    val name = nextName()
    val q = deg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [10:00,10:10): 1->2 (5.0), 2->1 (2.0), 1->3 (1.5)
      in.addData((ts("2024-01-01 10:01:00"), 1L, 2L, 5.0),
        (ts("2024-01-01 10:04:00"), 2L, 1L, 2.0),
        (ts("2024-01-01 10:08:00"), 1L, 3L, 1.5))
      q.processAllAvailable()
      // advance the watermark past 10:10 → first window finalizes
      in.addData((ts("2024-01-01 10:21:00"), 4L, 5L, 9.0))
      q.processAllAvailable()
      // a late edge for the finalized window must NOT appear
      in.addData((ts("2024-01-01 10:02:00"), 9L, 1L, 100.0),
        (ts("2024-01-01 10:31:00"), 4L, 5L, 1.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 11:00:00"), 7L, 8L, 1.0))
      q.processAllAvailable()
      val w1 = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .collect().map(r => r.getLong(1) ->
          (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
      assert(w1.keySet == Set(1L, 2L, 3L), s"nodes: ${w1.keySet}")
      assert(w1(1L) == ((6.5, 2L, 2.0, 1L)), s"node 1: ${w1(1L)}")
      assert(w1(2L) == ((2.0, 1L, 5.0, 1L)), s"node 2: ${w1(2L)}")
      assert(w1(3L) == ((0.0, 0L, 1.5, 1L)), s"node 3: ${w1(3L)}")
      assert(!w1.contains(9L), "late edge finalized-window row must drop")
      // finalize-once: exactly one row per (window, node)
      val n1 = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 10:00:00")).count()
      assert(n1 == 3L, s"finalize-once violated: $n1 rows")
    } finally q.stop()
  }

  test("windowedClassHistogram + aucPerWindow: finalize-once AUC equals the batch fold") {
    // the eval-metric streaming twin of q_auc: same histogram shape,
    // same Analytics.aucFromHistogram fold — parity is a law
    val in = MemoryStream[(Timestamp, Double, Long)]
    val hist = graft.streaming.Jobs.windowedClassHistogram(
      in.toDF().toDF("ts", "score", "label"),
      "ts", "score", "label", "10 minutes", "5 minutes")
    val name = nextName()
    val q = hist.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [10:00,10:10): pos scores {3,1,2}, neg {2,4}
      // pairwise: (3>2)=1, (2=2)=½, rest 0 → AUC = 1.5/6 = 0.25
      in.addData((ts("2024-01-01 10:01:00"), 3.0, 1L),
        (ts("2024-01-01 10:02:00"), 1.0, 1L),
        (ts("2024-01-01 10:03:00"), 2.0, 1L),
        (ts("2024-01-01 10:04:00"), 2.0, 0L),
        (ts("2024-01-01 10:05:00"), 4.0, 0L))
      q.processAllAvailable()
      // advance the watermark past 10:10 (finalizes w1) and seed a
      // one-class window [10:20,10:30)
      in.addData((ts("2024-01-01 10:21:00"), 9.0, 1L))
      q.processAllAvailable()
      // a late row for finalized w1 must drop; advance past 10:30
      in.addData((ts("2024-01-01 10:06:00"), 9.0, 0L),
        (ts("2024-01-01 10:41:00"), 1.0, 1L))
      q.processAllAvailable()
      val finalized = spark.table(name)
      // finalize-once histogram: w1 has exactly its 4 distinct scores
      assert(finalized.filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .count() == 4L)
      val auc = graft.streaming.Jobs.aucPerWindow(finalized)
        .collect().map(r => r.getTimestamp(0).toString ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(auc.keySet == Set("2024-01-01 10:00:00.0"),
        s"one-class window must drop from the AUC view: ${auc.keySet}")
      assert(auc("2024-01-01 10:00:00.0") == ((3L, 2L, 0.25)), s"$auc")
      // parity law: the batch fold over the same (non-late) rows
      val batchRows = Seq((3.0, 1L), (1.0, 1L), (2.0, 1L), (2.0, 0L),
        (4.0, 0L)).toDF("score", "label")
      val h = batchRows.groupBy(lit("w").as("g"), col("score"))
        .agg(sum(when(col("label") =!= 0, 1L).otherwise(0L)).as("pos"),
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("neg"))
      val b = graft.operators.Analytics.aucFromHistogram(h, Seq("g"))
        .collect().head
      assert((b.getLong(1), b.getLong(2), b.getDouble(3)) == ((3L, 2L, 0.25)))
    } finally q.stop()
  }

  test("windowed metrics store: versioned commits, time travel, replayed batches are a no-op") {
    // the eval pack's Doris-analog: finalized class-histogram windows
    // fold into one wide (AUC, AP) row per window and land in the
    // versioned time-travel store, exactly-once under replay
    val in = MemoryStream[(Timestamp, Double, Long)]
    val hist = graft.streaming.Jobs.windowedClassHistogram(
      in.toDF().toDF("ts", "score", "label"),
      "ts", "score", "label", "10 minutes", "5 minutes")
    val base = java.nio.file.Files.createTempDirectory("metstore_")
      .toString + "/store"
    def start(ck: String) = graft.sources.IO
      .windowedMetricsStoreSink(hist, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live(v: Long): Map[String, (Long, Long, Double, Double)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, v, graft.sources.IO.WindowedMetricsSchema))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val ck1 = java.nio.file.Files.createTempDirectory("metstore_ck1_").toString
    val q1 = start(ck1)
    try {
      // w1 [10:00,10:10): the q_auc fixture — AUC = 0.25
      in.addData((ts("2024-01-01 10:01:00"), 3.0, 1L),
        (ts("2024-01-01 10:02:00"), 1.0, 1L),
        (ts("2024-01-01 10:03:00"), 2.0, 1L),
        (ts("2024-01-01 10:04:00"), 2.0, 0L),
        (ts("2024-01-01 10:05:00"), 4.0, 0L))
      q1.processAllAvailable()
      // advance the watermark past 10:10 (finalizes w1) and seed a
      // two-class w2 [10:20,10:30)
      in.addData((ts("2024-01-01 10:21:00"), 5.0, 1L),
        (ts("2024-01-01 10:22:00"), 1.0, 0L))
      q1.processAllAvailable()
      val vs1 = versions
      assert(vs1.nonEmpty, "w1 finalization must commit a version")
      // the store row IS the batch fold (parity by construction): AP
      // reference from the literal avg-precision fold on the fixture
      val h = Seq((3.0, 1L), (1.0, 1L), (2.0, 1L), (2.0, 0L), (4.0, 0L))
        .toDF("score", "label")
        .groupBy(lit("w").as("g"), col("score"))
        .agg(sum(when(col("label") =!= 0, 1L).otherwise(0L)).as("pos"),
          sum(when(col("label") === 0, 1L).otherwise(0L)).as("neg"))
      val apRef = graft.operators.Analytics
        .avgPrecisionFromHistogram(h, Seq("g")).collect().head.getDouble(2)
      val afterW1 = live(vs1.last)
      assert(afterW1.keySet == Set("2024-01-01 10:00:00.0"), s"$afterW1")
      assert(afterW1("2024-01-01 10:00:00.0") == ((3L, 2L, 0.25, apRef)),
        s"${afterW1("2024-01-01 10:00:00.0")} vs AP ref $apRef")
      // advance past 10:30 → w2 (AUC 1.0: pos 5 > neg 1) finalizes
      in.addData((ts("2024-01-01 10:41:00"), 1.0, 1L))
      q1.processAllAvailable()
      val vs2 = versions
      assert(vs2.size > vs1.size, "w2 finalization must commit a new version")
      val latest = live(vs2.last)
      assert(latest.keySet == Set("2024-01-01 10:00:00.0",
        "2024-01-01 10:20:00.0"), s"$latest")
      assert(latest("2024-01-01 10:20:00.0")._3 == 1.0, s"$latest")
      // TIME TRAVEL: the earlier version is immutable — it still shows
      // the historical state with only w1
      assert(live(vs1.last).keySet == Set("2024-01-01 10:00:00.0"),
        "old version must reproduce the historical window set")
    } finally q1.stop()
    // REPLAY: a restart from a fresh checkpoint redelivers every batch
    // id from 0 — the idempotent markers make the whole replay a no-op
    // (no new versions, identical content)
    val before = versions.map(v => v -> live(v)).toMap
    val ck2 = java.nio.file.Files.createTempDirectory("metstore_ck2_").toString
    val q2 = start(ck2)
    try q2.processAllAvailable() finally q2.stop()
    assert(versions.map(v => v -> live(v)).toMap == before,
      "replayed batches must not change the store")

    // TAKEDOWN verb: tombstone w1 — the live view loses exactly that
    // window, the version chain grows by one commit, and time travel
    // still reproduces the pre-delete state
    val preDelete = versions
    val n1 = graft.sources.IO.deleteFromWindowedMetricsStore(spark, base,
      Seq(ts("2024-01-01 10:00:00")).toDF("window_start"))
    assert(n1 == 1L, s"one live window should tombstone, got $n1")
    assert(versions.size == preDelete.size + 1, "delete commits one version")
    assert(live(versions.last).keySet == Set("2024-01-01 10:20:00.0"),
      s"w1 must leave the live view: ${live(versions.last)}")
    assert(live(preDelete.last).keySet == Set("2024-01-01 10:00:00.0",
      "2024-01-01 10:20:00.0"), "pre-delete version must be immutable")
    // REPLAY NO-OP without markers: repeating the delete finds nothing
    // live -> zero windows, NO new version, identical chain
    val chainAfter = versions.map(v => v -> live(v)).toMap
    val n2 = graft.sources.IO.deleteFromWindowedMetricsStore(spark, base,
      Seq(ts("2024-01-01 10:00:00")).toDF("window_start"))
    assert(n2 == 0L && versions.map(v => v -> live(v)).toMap == chainAfter,
      "replayed delete must be a no-op")
    // NO RESURRECTION: a replayed upsert of the taken-down window (its
    // ts_ms equals the tombstone's; d outranks u at the same instant)
    // cannot bring it back — rerun the full source replay
    val ck3 = java.nio.file.Files.createTempDirectory("metstore_ck3_").toString
    val q3 = start(ck3)
    try q3.processAllAvailable() finally q3.stop()
    assert(!live(versions.last).keySet.contains("2024-01-01 10:00:00.0"),
      "a replayed upsert must not resurrect a taken-down window")
    // RETENTION: expire everything before 10:30 — w2 goes; an immediate
    // re-expire is a no-op
    val n3 = graft.sources.IO.expireWindowedMetrics(spark, base,
      ts("2024-01-01 10:30:00"))
    assert(n3 == 1L, s"w2 should expire, got $n3")
    assert(live(versions.last).isEmpty, "expired store must read empty")
    assert(graft.sources.IO.expireWindowedMetrics(spark, base,
      ts("2024-01-01 10:30:00")) == 0L, "re-expire must be a no-op")
  }

  test("calibrationPerWindow: streaming reliability bins equal the batch fold") {
    // the calibration twin of the AUC parity law: same
    // windowedClassHistogram input, same calibrationFromHistogram fold
    val in = MemoryStream[(Timestamp, Double, Long)]
    val hist = graft.streaming.Jobs.windowedClassHistogram(
      in.toDF().toDF("ts", "score", "label"),
      "ts", "score", "label", "10 minutes", "5 minutes")
    val name = nextName()
    val q = hist.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [10:00,10:10): scores spanning bins 0 (3), 2 (12) and
      // 9 (50 — the clamp case); labels mixed
      in.addData((ts("2024-01-01 10:01:00"), 3.0, 1L),
        (ts("2024-01-01 10:02:00"), 3.0, 0L),
        (ts("2024-01-01 10:03:00"), 12.0, 1L),
        (ts("2024-01-01 10:04:00"), 50.0, 1L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:21:00"), 9.0, 1L)) // finalize w1
      q.processAllAvailable()
      val finalized = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      val got = graft.streaming.Jobs.calibrationPerWindow(finalized)
        .collect().map(r => r.getLong(1) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6))).toMap
      // batch fold over the same rows through the SAME operator
      val batchH = Seq((3.0, 1L, 0L), (3.0, 0L, 1L), (12.0, 1L, 0L),
          (50.0, 1L, 0L))
        .toDF("score", "pos", "neg")
        .groupBy("score").agg(sum("pos").as("pos"), sum("neg").as("neg"))
      val want = graft.operators.Analytics
        .calibrationFromHistogram(batchH, Seq.empty)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5))).toMap
      assert(got == want, s"stream $got != batch $want")
      // the clamp case landed in bin 9 with p-hat exactly 1.0
      assert(got(9L)._2 == 1.0 && got.keySet == Set(0L, 2L, 9L))
    } finally q.stop()
  }

  test("prCurvePerWindow + apPerWindow: streaming sweeps equal the batch folds") {
    // the PR/AP legs of the eval-pack symmetry: one histogram, four
    // metrics, identical folds in both modes
    val in = MemoryStream[(Timestamp, Double, Long)]
    val hist = graft.streaming.Jobs.windowedClassHistogram(
      in.toDF().toDF("ts", "score", "label"),
      "ts", "score", "label", "10 minutes", "5 minutes")
    val name = nextName()
    val q = hist.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [10:00,10:10): pos {3,1}, neg {2,2,4}
      in.addData((ts("2024-01-01 10:01:00"), 3.0, 1L),
        (ts("2024-01-01 10:02:00"), 1.0, 1L),
        (ts("2024-01-01 10:03:00"), 2.0, 0L),
        (ts("2024-01-01 10:04:00"), 2.0, 0L),
        (ts("2024-01-01 10:05:00"), 4.0, 0L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:21:00"), 9.0, 1L)) // finalize w1
      q.processAllAvailable()
      val finalized = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      val gotPr = graft.streaming.Jobs.prCurvePerWindow(finalized)
        .collect().map(r => (1 until r.length).map(r.get).toList).toSet
      val gotAp = graft.streaming.Jobs.apPerWindow(finalized)
        .collect().map(r => (1 until r.length).map(r.get).toList).toSet
      // batch folds over the same rows through the SAME operators,
      // keyed by a constant group
      val batchH = Seq((3.0, 1L, 0L), (1.0, 1L, 0L), (2.0, 0L, 1L),
          (2.0, 0L, 1L), (4.0, 0L, 1L))
        .toDF("score", "pos", "neg")
        .groupBy(lit("w").as("g"), col("score"))
        .agg(sum("pos").as("pos"), sum("neg").as("neg"))
        .localCheckpoint(true)
      val wantPr = graft.operators.Analytics
        .prCurveFromHistogram(batchH, Seq("g"))
        .collect().map(r => (1 until r.length).map(r.get).toList).toSet
      val wantAp = graft.operators.Analytics
        .avgPrecisionFromHistogram(batchH, Seq("g"))
        .collect().map(r => (1 until r.length).map(r.get).toList).toSet
      assert(gotPr == wantPr, s"PR sweep: stream $gotPr != batch $wantPr")
      assert(gotAp == wantAp, s"AP: stream $gotAp != batch $wantAp")
      // spot-check the sweep: at threshold 1 everything is predicted
      // positive -> precision = 2/5, recall 1
      // (rows are threshold, tp, fp, fn, prec, rec, f1)
      assert(wantPr.exists(r => r.head == 1.0 && r(4) == 0.4 && r(5) == 1.0),
        s"threshold-1 row wrong: $wantPr")
    } finally q.stop()
  }

  test("isotonicPerWindow: streaming PAV equals the batch fold") {
    val in = MemoryStream[(Timestamp, Double, Long)]
    val hist = graft.streaming.Jobs.windowedClassHistogram(
      in.toDF().toDF("ts", "score", "label"),
      "ts", "score", "label", "10 minutes", "5 minutes")
    val name = nextName()
    val q = hist.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [10:00,10:10): rates 1.0 @score1, 0.0 @score2, 1.0
      // @score3 — the middle violator pools with a neighbor
      in.addData((ts("2024-01-01 10:01:00"), 1.0, 1L),
        (ts("2024-01-01 10:02:00"), 2.0, 0L),
        (ts("2024-01-01 10:03:00"), 3.0, 1L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:21:00"), 9.0, 1L)) // finalize w1
      q.processAllAvailable()
      val finalized = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      val got = graft.streaming.Jobs.isotonicPerWindow(finalized)
        .collect().map(r => r.getDouble(1) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      // PAV: 1.0 then 0.0 violates -> pool {1,2} to 0.5; 1.0 stands
      assert(got == Map(1.0 -> (1L, 0.5), 2.0 -> (1L, 0.5),
        3.0 -> (1L, 1.0)), s"$got")
      // parity with the batch fold over the same histogram
      val batchH = Seq((1.0, 1L, 0L), (2.0, 0L, 1L), (3.0, 1L, 0L))
        .toDF("score", "pos", "neg").withColumn("g", lit(1L))
      val want = graft.operators.Analytics
        .isotonicFromHistogram(batchH, Seq("g"))
        .collect().map(r => r.getDouble(1) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got == want)
    } finally q.stop()
  }

  test("eval-pipeline composition: ONE windowed histogram feeds AUC, PR, AP, calibration and isotonic") {
    // the end-to-end claim behind the eval pack: a single watermarked
    // class histogram pays for every metric, and the metrics agree with
    // each other on the same finalized window
    val in = MemoryStream[(Timestamp, Double, Long)]
    val hist = graft.streaming.Jobs.windowedClassHistogram(
      in.toDF().toDF("ts", "score", "label"),
      "ts", "score", "label", "10 minutes", "5 minutes")
    val name = nextName()
    val q = hist.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // a PERFECTLY separated window: all positives above all negatives
      in.addData((ts("2024-01-01 10:01:00"), 40.0, 1L),
        (ts("2024-01-01 10:02:00"), 45.0, 1L),
        (ts("2024-01-01 10:03:00"), 10.0, 0L),
        (ts("2024-01-01 10:04:00"), 5.0, 0L),
        (ts("2024-01-01 10:05:00"), 15.0, 0L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:21:00"), 9.0, 1L)) // finalize w1
      q.processAllAvailable()
      val w1 = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .localCheckpoint(true)
      val rows = 5L
      // AUC and AP are both 1 on perfect separation
      val auc = graft.streaming.Jobs.aucPerWindow(w1)
        .select("auc").as[Double].head()
      assert(auc == 1.0)
      val ap = graft.streaming.Jobs.apPerWindow(w1)
        .select("avg_prec").as[Double].head()
      assert(ap == 1.0)
      // the PR sweep contains a perfect operating point (prec=rec=1)
      val pr = graft.streaming.Jobs.prCurvePerWindow(w1)
        .select("prec", "rec").as[(Double, Double)].collect()
      assert(pr.contains((1.0, 1.0)), s"perfect point missing: ${pr.toSeq}")
      // calibration bins partition the window's rows exactly
      val calib = graft.streaming.Jobs.calibrationPerWindow(w1)
        .select("n").as[Long].collect()
      assert(calib.sum == rows)
      // lift at full coverage is exactly 1 (random targeting)
      val lift = graft.streaming.Jobs.liftPerWindow(w1)
        .orderBy("threshold").select("frac_flagged", "lift")
        .as[(Double, Double)].collect()
      assert(lift.head == ((1.0, 1.0)), s"full-coverage lift: ${lift.head}")
      assert(lift.last._2 == 2.5, // top slice: 2 of 2 positives in 2/5 rows
        s"top-slice lift: ${lift.last}")
      // isotonic fit is monotone and its pooled mass recovers the
      // positives
      val iso = graft.streaming.Jobs.isotonicPerWindow(w1)
        .orderBy("score").select("n", "fitted").as[(Long, Double)].collect()
      assert(iso.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
      assert(math.abs(iso.map(r => r._1 * r._2).sum - 2.0) < 1e-6,
        "pooled mass must equal the window's positive count")
    } finally q.stop()
  }

  test("sliding window agg: rows land in every overlapping window; watermark finalizes") {
    val in = MemoryStream[(Timestamp, Long)]
    val agg = Streams.slidingAgg(
      Streams.watermarked(in.toDF().toDF("ts", "v"), "ts", "5 minutes"),
      "ts", "10 minutes", "5 minutes", Seq.empty,
      Seq(count(lit(1)).as("n"), sum(col("v")).as("s")))
    val name = nextName()
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // overlap assignment: 10:01 belongs to [09:55,10:05) and
      // [10:00,10:10); 10:06 to [10:00,10:10) and [10:05,10:15)
      in.addData((ts("2024-01-01 10:01:00"), 1L), (ts("2024-01-01 10:06:00"), 2L))
      q.processAllAvailable()
      // advance the watermark to 10:16: all three early windows finalize
      in.addData((ts("2024-01-01 10:21:00"), 8L))
      q.processAllAvailable()
      // and to 10:35: 10:21's two windows finalize
      in.addData((ts("2024-01-01 10:40:00"), 16L))
      q.processAllAvailable()
      val out = spark.table(name)
        .select(col("window_start").cast("string"), col("n"), col("s"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(out("2024-01-01 09:55:00") == (1L, 1L), s"got $out")
      assert(out("2024-01-01 10:00:00") == (2L, 3L), "both rows overlap [10:00,10:10)")
      assert(out("2024-01-01 10:05:00") == (1L, 2L))
      assert(out("2024-01-01 10:15:00") == (1L, 8L))
      assert(out("2024-01-01 10:20:00") == (1L, 8L))
      assert(out.size == 5, s"10:40's windows are not finalized yet: $out")
    } finally q.stop()
  }

  test("dedupWithinWatermark drops duplicate keys inside the watermark") {
    val in = MemoryStream[(Timestamp, String)]
    val out = Streams.dedupWithinWatermark(
      in.toDF().toDF("ts", "k"), "ts", "10 minutes", Seq("k"))
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-01 10:01:00"), "a"),
        (ts("2024-01-01 10:02:00"), "b"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:03:00"), "a")) // still within watermark → dup
      q.processAllAvailable()
      val rows = spark.table(name).as[(Timestamp, String)].collect()
      assert(rows.map(_._2).sorted.toSeq == Seq("a", "b"), rows.mkString(","))
    } finally q.stop()
  }

  test("FirstVisitProcessor: per-user ValueState first-visit flags across batches") {
    val in = MemoryStream[Processors.Visit]
    val out = in.toDS()
      .groupByKey(_.userId)
      .transformWithState(new Processors.FirstVisitProcessor,
        TimeMode.None(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(Processors.Visit(1L, "2024-01-01", 1000L),
        Processors.Visit(1L, "2024-01-01", 2000L),
        Processors.Visit(2L, "2024-01-01", 1500L))
      q.processAllAvailable()
      in.addData(Processors.Visit(1L, "2024-01-01", 3000L), // same day → not first
        Processors.Visit(1L, "2024-01-02", 4000L))          // new day → first
      q.processAllAvailable()
      val flags = spark.table(name).as[Processors.VisitOut].collect()
        .map(v => (v.userId, v.tsMs) -> v.isFirst).toMap
      assert(flags((1L, 1000L)) === true)
      assert(flags((1L, 2000L)) === false)
      assert(flags((2L, 1500L)) === true)
      assert(flags((1L, 3000L)) === false)
      assert(flags((1L, 4000L)) === true)
    } finally q.stop()
  }

  test("PackingProcessor: per-shard next-fit state across batches; batch parity") {
    val in = MemoryStream[Processors.PackDoc]
    val out = in.toDS()
      .groupByKey(_.shard)
      .transformWithState(new Processors.PackingProcessor(maxTokens = 100L),
        TimeMode.None(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // batch 1, shard 0: docs 2,0 (sorted → 0,2) fill bin 1 to 90;
      // shard 1: oversized doc 1 takes singleton bin 1
      in.addData(Processors.PackDoc(0L, 2L, 50L), Processors.PackDoc(0L, 0L, 40L),
        Processors.PackDoc(1L, 1L, 150L))
      q.processAllAvailable()
      // batch 2, shard 0: doc 4 (20) overflows 90+20 → bin 2; doc 6 (70)
      // fits bin 2 at 90; shard 1: doc 3 (10) opens bin 2 (prev fill 150)
      in.addData(Processors.PackDoc(0L, 6L, 70L), Processors.PackDoc(0L, 4L, 20L),
        Processors.PackDoc(1L, 3L, 10L))
      q.processAllAvailable()
      val got = spark.table(name).as[Processors.PackOut].collect()
        .map(p => p.docId -> (p.shard, p.seqId)).toMap
      assert(got == Map(0L -> (0L, 1L), 2L -> (0L, 1L), 1L -> (1L, 1L),
        4L -> (0L, 2L), 6L -> (0L, 2L), 3L -> (1L, 2L)), s"$got")
    } finally q.stop()
    // law: ONE batch holding all docs == the batch operator's packing
    val docs = Seq((0L, 40L), (1L, 150L), (2L, 50L), (3L, 10L), (4L, 20L),
      (6L, 70L))
    val in2 = MemoryStream[Processors.PackDoc]
    val out2 = in2.toDS()
      .groupByKey(_.shard)
      .transformWithState(new Processors.PackingProcessor(maxTokens = 100L),
        TimeMode.None(), OutputMode.Append())
    val name2 = nextName()
    val q2 = out2.writeStream.format("memory").queryName(name2)
      .outputMode("append").start()
    try {
      in2.addData(docs.map { case (id, n) =>
        Processors.PackDoc(id % 2, id, n) }: _*)
      q2.processAllAvailable()
      val stream = spark.table(name2).as[Processors.PackOut].collect()
        .map(p => (p.shard, p.seqId, p.docId, p.nTokens)).sortBy(_._3).toSeq
      val batch = graft.operators.Sampling.packSequencesSharded(
          docs.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens",
          maxTokens = 100L, nShards = 2)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._3).toSeq
      assert(stream == batch, s"stream $stream batch $batch")
    } finally q2.stop()
  }

  test("firstVisitClassic (flatMapGroupsWithState) matches the transformWithState semantics") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val in = MemoryStream[Processors.Visit]
    val out = in.toDS()
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(Processors.firstVisitClassic _)
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(Processors.Visit(1L, "2024-01-01", 1000L),
        Processors.Visit(1L, "2024-01-01", 2000L),
        Processors.Visit(2L, "2024-01-01", 1500L))
      q.processAllAvailable()
      in.addData(Processors.Visit(1L, "2024-01-01", 3000L),
        Processors.Visit(1L, "2024-01-02", 4000L))
      q.processAllAvailable()
      // the classic API must reproduce the transformWithState goldens
      val flags = spark.table(name).as[Processors.VisitOut].collect()
        .map(v => (v.userId, v.tsMs) -> v.isFirst).toMap
      assert(flags((1L, 1000L)) === true)
      assert(flags((1L, 2000L)) === false)
      assert(flags((2L, 1500L)) === true)
      assert(flags((1L, 3000L)) === false)
      assert(flags((1L, 4000L)) === true)
    } finally q.stop()
  }

  test("PaymentTimeoutProcessor: event-time timer emits timeout, paid disarms") {
    val in = MemoryStream[Processors.OrderEvent]
    val out = in.toDS()
      .withWatermark("ts", "0 seconds")
      .as[Processors.OrderEvent]
      .groupByKey(_.orderId)
      .transformWithState(new Processors.PaymentTimeoutProcessor(15 * 60 * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(Processors.OrderEvent(1L, "created", ts("2024-01-01 10:00:00")),
        Processors.OrderEvent(2L, "created", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      in.addData(Processors.OrderEvent(1L, "paid", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // advance watermark past order 2's 10:15 deadline
      in.addData(Processors.OrderEvent(99L, "created", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      in.addData(Processors.OrderEvent(98L, "created", ts("2024-01-01 10:31:00")))
      q.processAllAvailable()
      val rows = spark.table(name).as[Processors.OrderOut].collect()
        .map(o => o.orderId -> o.status).toMap
      assert(rows.get(1L).contains("paid"))
      assert(rows.get(2L).contains("timeout"))
    } finally q.stop()
  }

  test("PaymentTimeoutProcessor: duplicate created does not fire a premature timeout; paid-before-created never times out") {
    val in = MemoryStream[Processors.OrderEvent]
    val out = in.toDS()
      .withWatermark("ts", "0 seconds")
      .as[Processors.OrderEvent]
      .groupByKey(_.orderId)
      .transformWithState(new Processors.PaymentTimeoutProcessor(15 * 60 * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // order 1: created at 10:00, duplicate created at 10:20 (re-arms to
      // 10:35) — the stale 10:15 timer must NOT fire; paid at 10:35 wins.
      // order 2: paid arrives BEFORE created (out-of-order) — must never
      // emit a timeout afterwards.
      in.addData(Processors.OrderEvent(1L, "created", ts("2024-01-01 10:00:00")),
        Processors.OrderEvent(2L, "paid", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      in.addData(Processors.OrderEvent(1L, "created", ts("2024-01-01 10:20:00")),
        Processors.OrderEvent(2L, "created", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      in.addData(Processors.OrderEvent(1L, "paid", ts("2024-01-01 10:34:00")))
      q.processAllAvailable()
      // push the watermark far past every deadline
      in.addData(Processors.OrderEvent(99L, "created", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      in.addData(Processors.OrderEvent(98L, "created", ts("2024-01-01 12:01:00")))
      q.processAllAvailable()
      val byOrder = spark.table(name).as[Processors.OrderOut].collect()
        .groupBy(_.orderId).map { case (k, v) => k -> v.map(_.status).toSeq }
      assert(byOrder(1L) == Seq("paid"), s"order 1: ${byOrder.get(1L)}")
      assert(byOrder(2L) == Seq("paid"), s"order 2: ${byOrder.get(2L)}")
    } finally q.stop()
  }

  test("FirstVisitProcessor: TTL ages out dormant users (bounded state)") {
    // the bounded-store configuration: per-user state carries a
    // wall-clock TTL (the replay horizon). A dormant user's state
    // expires — the store holds recently-seen users, not every user ever.
    // Spark allows state TTL only in ProcessingTime mode, and a
    // ProcessingTime-mode TWS query re-triggers batches forever (the wall
    // clock always advances), so processAllAvailable/AvailableNow never
    // see it quiesce — the test polls the sink table instead.
    val in = MemoryStream[Processors.Visit]
    val out = in.toDS()
      .groupByKey(_.userId)
      .transformWithState(new Processors.FirstVisitProcessor(
        org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofSeconds(2))),
        TimeMode.ProcessingTime(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (spark.table(name).count() < n &&
        System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(spark.table(name).count() >= n, s"timed out waiting for $n rows")
    }
    try {
      in.addData(Processors.Visit(1L, "2024-01-01", 1000L),
        Processors.Visit(1L, "2024-01-01", 2000L))
      awaitRows(2)
      Thread.sleep(3500) // let the 2s TTL lapse (wall clock)
      in.addData(Processors.Visit(1L, "2024-01-01", 3000L))
      awaitRows(3)
      val flags = spark.table(name).as[Processors.VisitOut].collect()
        .map(v => v.tsMs -> v.isFirst).toMap
      assert(flags(1000L) === true)
      assert(flags(2000L) === false, "second visit within the TTL is a dup")
      assert(flags(3000L) === true,
        "after the TTL the user's state must be gone (bounded store)")
    } finally q.stop()
  }

  test("PaymentTimeoutProcessor: keyed state returns to zero past the retain horizon") {
    val ck = java.nio.file.Files.createTempDirectory("tws_ck_").toString
    val in = MemoryStream[Processors.OrderEvent]
    val out = in.toDS()
      .withWatermark("ts", "0 seconds")
      .as[Processors.OrderEvent]
      .groupByKey(_.orderId)
      .transformWithState(new Processors.PaymentTimeoutProcessor(15 * 60 * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    try {
      // two full lifecycles: order 1 settles by payment, order 2 by timeout
      in.addData(Processors.OrderEvent(1L, "created", ts("2024-01-01 10:00:00")),
        Processors.OrderEvent(2L, "created", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      in.addData(Processors.OrderEvent(1L, "paid", ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // watermark pushers use an unknown kind: they advance event time
      // without creating any state of their own. First past order 2's
      // 10:15 deadline, then past both cleanup horizons (paid 10:05 and
      // timeout 10:15, each + 15 min retain).
      for (t <- Seq("10:16:00", "10:17:00", "11:00:00", "11:01:00")) {
        in.addData(Processors.OrderEvent(0L, "noop", ts(s"2024-01-01 $t")))
        q.processAllAvailable()
      }
      val byOrder = spark.table(name).as[Processors.OrderOut].collect()
        .map(o => o.orderId -> o.status).toMap
      assert(byOrder.get(1L).contains("paid") && byOrder.get(2L).contains("timeout"))
    } finally q.stop()
    // the direct claim: after the horizon, the state store holds ZERO
    // rows for either state variable — terminal lifecycles fully clear.
    // (Read AFTER q.stop(): the state source would otherwise contend with
    // the live query's RocksDB instance locks.)
    for (v <- Seq("createdTs", "settledAt")) {
      val n = spark.read.format("statestore")
        .option("path", ck).option("stateVarName", v)
        .load().count()
      assert(n == 0L, s"state variable $v must be empty, found $n rows")
    }
  }

  test("RunningSumProcessor: keyed running aggregate across batches") {
    val in = MemoryStream[Processors.Measure]
    val out = in.toDS()
      .groupByKey(_.key)
      .transformWithState(new Processors.RunningSumProcessor,
        TimeMode.None(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(Processors.Measure("a", 1.0), Processors.Measure("a", 2.0))
      q.processAllAvailable()
      in.addData(Processors.Measure("a", 3.0), Processors.Measure("b", 10.0))
      q.processAllAvailable()
      val rows = spark.table(name).as[Processors.RunningOut].collect()
        .map(r => (r.key, r.n) -> r.runningSum).toMap
      assert(rows(("a", 1L)) == 1.0 && rows(("a", 2L)) == 3.0 && rows(("a", 3L)) == 6.0)
      assert(rows(("b", 1L)) == 10.0)
    } finally q.stop()
  }

  test("DriftMonitorProcessor: warmup learns the level, drift alerts and restarts across batches") {
    val in = MemoryStream[Processors.Drift]
    val out = in.toDS()
      .groupByKey(_.key)
      .transformWithState(new Processors.DriftMonitorProcessor(
        warmupN = 3, threshold = 1.0),
        TimeMode.None(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // batch 1: warmup only (mean 10.0 learned at n=3); stable key too
      in.addData(Processors.Drift("m", 10.0, 100L), Processors.Drift("m", 10.0, 200L),
        Processors.Drift("m", 10.0, 300L),
        Processors.Drift("stable", 5.0, 100L), Processors.Drift("stable", 5.0, 200L),
        Processors.Drift("stable", 5.0, 300L))
      q.processAllAvailable()
      // batch 2: DISTINCT values added OUT of event-time order — the
      // fold must sort on tsMs first (400: 10.5 → S=0.5; 500: 10.0 →
      // S=0.5; 600: 11.0 → S=1.5 > 1.0 alerts, then restarts); an
      // arrival-order fold would alert at the wrong position. The
      // stable key stays at its learned level and never alerts.
      in.addData(Processors.Drift("m", 11.0, 600L), Processors.Drift("m", 10.5, 400L),
        Processors.Drift("m", 10.0, 500L),
        Processors.Drift("stable", 5.0, 400L), Processors.Drift("stable", 5.0, 500L))
      q.processAllAvailable()
      // batch 3: drift continues after the restart — fires again (no
      // saturation), proving state (n, mu, S) carried across batches;
      // S = 0.5, 1.0 (== threshold: no alert), 1.5 → alert
      in.addData(Processors.Drift("m", 10.5, 700L), Processors.Drift("m", 10.5, 800L),
        Processors.Drift("m", 10.5, 900L))
      q.processAllAvailable()
      val rows = spark.table(name).as[Processors.DriftOut].collect()
        .map(r => (r.key, r.n) -> ((r.s * 2).round / 2.0, r.alert)).toMap
      // warmup rows: S pinned to 0, no alerts
      for (i <- 1L to 3L) assert(rows(("m", i)) == (0.0, false))
      assert(rows(("m", 4L)) == (0.5, false))
      assert(rows(("m", 5L)) == (0.5, false), "event-time fold: 10.0 lands at n=5")
      assert(rows(("m", 6L)) == (1.5, true), "S > threshold must alert")
      assert(rows(("m", 7L)) == (0.5, false), "S restarts after the alert")
      assert(rows(("m", 8L)) == (1.0, false), "S == threshold must NOT alert")
      assert(rows(("m", 9L)) == (1.5, true), "repeated drift keeps firing")
      assert(rows.filter(_._1._1 == "stable").values.forall(_ == (0.0, false)),
        "a stable series must never alert")
    } finally q.stop()
  }

  test("FunnelProcessor: ordered stage machine advances exactly once per stage across batches") {
    val in = MemoryStream[Processors.FunnelEvent]
    val out = in.toDS()
      .groupByKey(_.userId)
      .transformWithState(
        new Processors.FunnelProcessor(Seq("view", "click", "purchase")),
        TimeMode.None(), OutputMode.Append())
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // batch 1: u1 view+click; u2's click BEFORE any view must be ignored
      in.addData(Processors.FunnelEvent(1L, "view", 100L),
        Processors.FunnelEvent(2L, "click", 50L),
        Processors.FunnelEvent(1L, "click", 200L),
        Processors.FunnelEvent(1L, "view", 150L)) // duplicate stage: ignored
      q.processAllAvailable()
      // batch 2: u1 completes (state carried across batches); u2 starts
      in.addData(Processors.FunnelEvent(2L, "view", 300L),
        Processors.FunnelEvent(1L, "purchase", 400L))
      q.processAllAvailable()
      // batch 3: u2 advances click → purchase in one batch; a purchase
      // timestamped BEFORE the click must not complete anyone
      in.addData(Processors.FunnelEvent(2L, "click", 500L),
        Processors.FunnelEvent(3L, "purchase", 10L),
        Processors.FunnelEvent(2L, "purchase", 600L))
      q.processAllAvailable()
      val collected = spark.table(name).as[Processors.FunnelOut].collect()
      // assert on the RAW row count before Map-deduping: a duplicate
      // emission of the same (user, stage) is exactly the regression the
      // advance-once contract forbids, and a Map would silently absorb it
      assert(collected.length == 6,
        s"exactly six advancement rows, got ${collected.toSeq}")
      val rows = collected
        .map(r => (r.userId, r.stage) -> ((r.tsMs, r.completed))).toMap
      assert(rows((1L, 1)) == ((100L, false)))
      assert(rows((1L, 2)) == ((200L, false)))
      assert(rows((1L, 3)) == ((400L, true)))
      assert(rows((2L, 1)) == ((300L, false)))
      assert(rows((2L, 2)) == ((500L, false)))
      assert(rows((2L, 3)) == ((600L, true)))
      assert(!rows.contains((3L, 1)) && !rows.contains((3L, 3)),
        "stageless user 3 must emit nothing")
    } finally q.stop()
  }

  test("session window (streaming): sessions merge across batches and close on watermark") {
    val in = MemoryStream[(Timestamp, Long)]
    val out = Streams.sessionAgg(
      Streams.watermarked(in.toDF().toDF("ts", "user_id"), "ts", "5 minutes"),
      "ts", "30 minutes", Seq("user_id"), Seq(count(lit(1)).as("n")))
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L))
      q.processAllAvailable()
      // second event 20 min later: same session, must merge across batches
      in.addData((ts("2024-01-01 10:20:00"), 1L))
      q.processAllAvailable()
      // advance watermark far past session end → session closes
      in.addData((ts("2024-01-01 12:00:00"), 2L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 13:00:00"), 2L))
      q.processAllAvailable()
      val closed = spark.table(name).select("user_id", "n")
        .as[(Long, Long)].collect().toSet
      assert(closed.contains((1L, 2L)),
        s"user 1's two events must merge into one closed session: $closed")
    } finally q.stop()
  }

  test("SQL surface: spark.sql over registered views matches the DataFrame query") {
    graft.sources.Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem_v")
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS cnt
        |FROM lineitem_v GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val viaDf = graft.sources.Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toSeq).toSeq
    assert(viaSql == viaDf)
  }

  test("session window (batch form): 30-minute gap splits sessions") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 1L),
      (ts("2024-01-01 11:30:00"), 1L), // > 30 min gap → new session
      (ts("2024-01-01 10:05:00"), 2L)).toDF("ts", "user_id")
    val sessions = Streams.sessionAgg(df, "ts", "30 minutes",
      Seq("user_id"), Seq(count(lit(1)).as("n")))
      .select("user_id", "n").as[(Long, Long)].collect().sorted.toSeq
    assert(sessions == Seq((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("sliding window (batch form): rows land in overlapping windows") {
    val df = Seq((ts("2024-01-01 10:04:00"), 1L)).toDF("ts", "v")
    val out = Streams.slidingAgg(df, "ts", "10 minutes", "5 minutes",
      Seq.empty, Seq(count(lit(1)).as("n")))
      .select("window_start").as[Timestamp].collect().map(_.toString).sorted
    assert(out.toSeq == Seq("2024-01-01 09:55:00.0", "2024-01-01 10:00:00.0"))
  }

  test("stream-stream interval join: purchase within 1h of click, both sides watermarked") {
    // the reference's Flink intervalJoin bounds (SURVEY §7.4): inclusive
    // [click.ts, click.ts + 1h] on event time
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().toDF("b_ts", "b_user").withWatermark("b_ts", "10 minutes")
    val joined = c.join(b,
      expr("c_user = b_user AND b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 1 HOUR"))
    val name = nextName()
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
      buys.addData((ts("2024-01-01 10:30:00"), 1L),  // within bound → joins
        (ts("2024-01-01 11:30:00"), 2L))             // 1.5h later → outside bound
      q.processAllAvailable()
      clicks.addData((ts("2024-01-01 13:00:00"), 9L)) // advance watermark
      buys.addData((ts("2024-01-01 13:00:00"), 9L))
      q.processAllAvailable()
      val rows = spark.table(name).select("c_user", "b_ts")
        .as[(Long, Timestamp)].collect().toSet
      assert(rows.exists(_._1 == 1L), s"in-bound pair must join: $rows")
      assert(!rows.exists(r => r._1 == 2L && r._2 == ts("2024-01-01 11:30:00")),
        s"out-of-bound pair must not join: $rows")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched click emits null-padded after watermark") {
    // the retract-free outer-join semantics Spark gives: an unmatched
    // left row is held in state until the watermark proves no match can
    // still arrive, THEN emitted null-padded — the streaming twin of the
    // reference's left join producing late retractions
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().toDF("b_ts", "b_user").withWatermark("b_ts", "10 minutes")
    val joined = c.join(b,
      expr("c_user = b_user AND b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 1 HOUR"),
      "left_outer")
    val name = nextName()
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), 1L), // will match
        (ts("2024-01-01 10:00:00"), 2L))              // will NOT match
      buys.addData((ts("2024-01-01 10:30:00"), 1L))
      q.processAllAvailable()
      // user 2 unmatched but watermark hasn't passed 11:00 yet → held
      val early = spark.table(name).filter("c_user = 2").count()
      assert(early == 0L, "unmatched row must stay in state until the watermark passes")
      // advance both watermarks far past the join window + delay
      clicks.addData((ts("2024-01-01 14:00:00"), 9L))
      buys.addData((ts("2024-01-01 14:00:00"), 9L))
      q.processAllAvailable()
      val rows = spark.table(name).select("c_user", "b_user")
        .as[(Long, Option[Long])].collect().toSet
      assert(rows.contains((1L, Some(1L))), s"matched pair missing: $rows")
      assert(rows.contains((2L, None)), s"null-padded unmatched row missing: $rows")
    } finally q.stop()
  }

  test("chainedWindowRollup: 10s fine counts cascade into 1min coarse windows in one query") {
    val in = MemoryStream[(Timestamp, String)]
    val out = graft.streaming.Jobs.chainedWindowRollup(
      in.toDF().toDF("ts", "k"), "ts", "k", "10 seconds", "1 minute", "10 seconds")
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // three fine windows inside [10:00, 10:01), one inside [10:01, 10:02)
      in.addData((ts("2024-01-01 10:00:05"), "a"), (ts("2024-01-01 10:00:15"), "a"),
        (ts("2024-01-01 10:00:45"), "a"), (ts("2024-01-01 10:01:05"), "a"))
      q.processAllAvailable()
      // advance the watermark far past both coarse windows; both levels finalize
      in.addData((ts("2024-01-01 10:05:00"), "z"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:09:00"), "z"))
      q.processAllAvailable()
      val rows = spark.table(name)
        .select("window_start", "key", "cnt")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(rows.contains((ts("2024-01-01 10:00:00"), "a", 3L)),
        s"coarse rollup of three fine windows missing: $rows")
      assert(rows.contains((ts("2024-01-01 10:01:00"), "a", 1L)), s"got $rows")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER interval join: both sides null-pad after the watermark") {
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().toDF("b_ts", "b_user").withWatermark("b_ts", "10 minutes")
    val joined = c.join(b,
      expr("c_user = b_user AND b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 1 HOUR"),
      "full_outer")
    val name = nextName()
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), 1L), // matches
        (ts("2024-01-01 10:00:00"), 2L))              // left-unmatched
      buys.addData((ts("2024-01-01 10:30:00"), 1L),
        (ts("2024-01-01 10:30:00"), 5L))              // right-unmatched
      q.processAllAvailable()
      clicks.addData((ts("2024-01-01 14:00:00"), 9L)) // advance watermarks
      buys.addData((ts("2024-01-01 14:00:00"), 9L))
      q.processAllAvailable()
      val rows = spark.table(name).select("c_user", "b_user")
        .as[(Option[Long], Option[Long])].collect().toSet
      assert(rows.contains((Some(1L), Some(1L))), s"matched pair missing: $rows")
      assert(rows.contains((Some(2L), None)), s"left null-pad missing: $rows")
      assert(rows.contains((None, Some(5L))), s"right null-pad missing: $rows")
    } finally q.stop()
  }

  test("stream-static join: per-row dim enrichment without foreachBatch") {
    // the direct stream⋈static form (no foreachBatch): the static side is
    // re-planned each micro-batch, so a dim refresh between batches is
    // picked up — the lightest-weight lookup-join shape
    val dim = Seq((1L, "alice"), (2L, "bob")).toDF("uid", "uname")
    val in = MemoryStream[(Timestamp, Long)]
    val joined = in.toDF().toDF("ts", "user")
      .join(dim, col("user") === col("uid"), "left_outer")
      .select(col("user"), col("uname"))
    val name = nextName()
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:01"), 3L))
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Option[String])].collect().toSet
      assert(rows == Set((1L, Some("alice")), (3L, None)), s"got $rows")
    } finally q.stop()
  }

  test("dynamic-gap session window: a row's own gap decides how long it holds the session open") {
    // views hold a session 10 min, purchases 60 min
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), 7L, "view"),     // s1
      (ts("2024-01-01 10:05:00"), 7L, "view"),     // merges (≤10m) → s1
      (ts("2024-01-01 10:30:00"), 7L, "purchase"), // 25m later → NEW s2, holds 60m
      (ts("2024-01-01 11:20:00"), 7L, "view"),     // 50m later, inside purchase hold → s2
      (ts("2024-01-01 11:45:00"), 7L, "view")      // 25m after a 10m-gap view → NEW s3
    ).toDF("ts", "user_id", "event_type")
    // session_window demands CalendarIntervalType (string-literal form),
    // not the ANSI DayTimeInterval that INTERVAL literals produce
    val gap = when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("10 minutes"))
    val out = graft.streaming.Streams.sessionAggDynamicGap(
        rows, "ts", gap, Seq("user_id"), Seq(count(lit(1)).as("n")))
      .select("window_start", "n").as[(Timestamp, Long)].collect().toSet
    assert(out == Set(
      (ts("2024-01-01 10:00:00"), 2L),
      (ts("2024-01-01 10:30:00"), 2L),
      (ts("2024-01-01 11:45:00"), 1L)), s"got $out")
  }

  test("complete-mode aggregation: every micro-batch re-emits the full snapshot") {
    // append emits finalized windows once; COMPLETE re-emits the whole
    // aggregate table per batch — the Doris-style full-refresh sink mode
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "k").groupBy("k").count()
    val name = nextName()
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-01 10:00:01"), "a"),
        (ts("2024-01-01 10:00:02"), "b"))
      q.processAllAvailable()
      val snap1 = spark.table(name).as[(String, Long)].collect().toSet
      assert(snap1 == Set(("a", 2L), ("b", 1L)), s"got $snap1")
      in.addData((ts("2024-01-01 10:00:03"), "b"))
      q.processAllAvailable()
      // the sink holds the REPLACED table, including unchanged key 'a'
      val snap2 = spark.table(name).as[(String, Long)].collect().toSet
      assert(snap2 == Set(("a", 2L), ("b", 2L)), s"got $snap2")
    } finally q.stop()
  }

  test("streaming near-dup dedup sink: per-batch index advance, only novel docs admitted") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("nd_sink_").toString
    val idxDir = s"$base/idx"; val outDir = s"$base/out"; val ckDir = s"$base/ck"
    val baseA = (1 to 40).map(i => s"a$i").mkString(" ")
    val novel1 = (100 to 140).map(i => s"b$i").mkString(" ")
    val novel2 = (200 to 240).map(i => s"c$i").mkString(" ")
    // seed the index with one corpus doc
    graft.operators.Dedup.writeNearDupIndex(
      Seq((1L, baseA + " end1")).toDF("doc_id", "text"), "doc_id", "text", idxDir)

    val in = MemoryStream[(Long, String)]
    val q = graft.sources.IO.nearDupDedupSink(
        in.toDF().toDF("doc_id", "text"), idxDir, outDir, ckDir,
        "doc_id", "text", threshold = 0.5)
      .trigger(Trigger.ProcessingTime(0)) // multi-batch in-test (sink default: AvailableNow backfill)
      .start()
    try {
      // batch 1: near-copy of the SEEDED doc drops, novel doc admitted
      in.addData((10L, baseA + " endX"), (11L, novel1 + " t1"))
      q.processAllAvailable()
      val out1 = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      assert(out1 == Set(11L), s"batch-1 admissions: $out1")
      // batch 2: near-copy of the batch-1 ADMISSION drops (index advanced)
      in.addData((21L, novel1 + " t9"), (22L, novel2 + " s1"))
      q.processAllAvailable()
      val out2 = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      assert(out2 == Set(11L, 22L), s"final clean corpus: $out2")
    } finally q.stop()
  }

  test("streaming fused IVF-PQ ingest sink: batches advance the index + mirror, drift fires the split policy, replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("ivfpq_sink_").toString
    val idxDir = s"$base/idx"
    val e0 = Array(1f, 0f, 0f, 0f); val e1 = Array(0f, 0f, 1f, 0f)
    val rnd = new scala.util.Random(23)
    def near(c: Array[Float], axis1: Float = 0f): Seq[Float] =
      c.zipWithIndex.map { case (x, j) =>
        (if (j == 1) x + axis1 else x) + 0.01f * rnd.nextGaussian().toFloat
      }.toSeq
    // bootstrap: 4 vectors per center, explicit centroids, m=2 sub=2
    val seed = (0 until 4).map(i => (i.toLong, near(e0))) ++
      (4 until 8).map(i => (i.toLong, near(e1)))
    graft.operators.Similarity.ivfPqWriteIndex(
      seed.toDF("vec_id", "embedding"), "vec_id", "embedding",
      Array(e0, e1), dim = 4, idxDir, m = 2, kSub = 4)

    def mirrorHolds(when: String): Unit = {
      val cbs = graft.operators.Similarity.pqReadCodebooks(spark, idxDir)
      val cents = graft.operators.Similarity.ivfReadCentroids(spark, idxDir)
      def hex(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), r.getInt(1),
          r.getAs[Array[Byte]](2).map("%02x".format(_)).mkString)).toSet
      val stored = hex(spark.read.parquet(s"$idxDir/codes")
        .select(col("vec_id"), col("ivf_list").cast("int"), col("pq_code"))
        .collect())
      val expect = hex(graft.operators.Similarity.ivfPqEncodeResiduals(
          spark.read.parquet(s"$idxDir/vectors"), "vec_id", "embedding",
          cents, cbs)
        .select(col("vec_id"), col("ivf_list").cast("int"), col("pq_code"))
        .collect())
      assert(stored == expect, s"codes must mirror vectors $when")
    }

    val in = MemoryStream[(Long, Seq[Float])]
    def start(ck: String) = graft.sources.IO.ivfPqIndexSink(
        in.toDF().toDF("vec_id", "embedding"), idxDir, ck,
        "vec_id", "embedding", splitSkewFactor = 1.5)
      .trigger(Trigger.ProcessingTime(0)) // multi-batch in-test (sink default: AvailableNow backfill)
      .start()
    val q = start(s"$base/ck")
    try {
      // batch 1: 3 vectors near e0 — appended, probeable, mirror holds,
      // skew 7/5.5 = 1.27 below the 1.5 policy → NO split
      in.addData((10 until 13).map(i => (i.toLong, near(e0))): _*)
      q.processAllAvailable()
      mirrorHolds("after batch 1")
      assert(graft.operators.Similarity.ivfReadCentroids(spark, idxDir).length == 2,
        "no split below the skew policy")
      val top = graft.operators.Similarity.ivfPqTopK(spark, idxDir,
        "vec_id", "embedding", e0, k = 7, nprobe = 1, refine = 4)
        .select("vec_id").as[Long].collect().toSet
      assert(Set(10L, 11L, 12L).subsetOf(top),
        s"batch-1 vectors must be fused-probeable: $top")

      // batch 2: 10 more into list 0 in TWO sub-modes (axis-1 ±0.3) —
      // skew 17/10.5 = 1.62 fires the census; the in-sink incremental
      // lever splits list 0 (fused split: codes re-derive for both
      // touched partitions)
      in.addData((20 until 30).map(i =>
        (i.toLong, near(e0, if (i % 2 == 0) 0.3f else -0.3f))): _*)
      q.processAllAvailable()
      assert(graft.operators.Similarity.ivfReadCentroids(spark, idxDir).length == 3,
        "drifted append must fire the census and split the oversized list")
      mirrorHolds("after the in-sink split")
      val all = graft.operators.Similarity.ivfPqTopK(spark, idxDir,
        "vec_id", "embedding", e0, k = 17, nprobe = 3, refine = 8)
        .select("vec_id").as[Long].collect().toSet
      assert((Set(10L, 11L, 12L) ++ (20L until 30L)).subsetOf(all),
        s"every ingested vector must survive the split probeable: $all")
    } finally q.stop()

    // REPLAY: a restart from a fresh checkpoint redelivers batch ids
    // from 0 — the idempotent markers skip them, so the index bytes
    // (vectors, codes, centroids — including the split decision) are
    // untouched: no re-split, no fresh list ids
    def state() = (
      graft.operators.Similarity.ivfReadCentroids(spark, idxDir).length,
      spark.read.parquet(s"$idxDir/vectors").select("vec_id", "ivf_list")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(s"$idxDir/codes")
        .select(col("vec_id"), col("pq_code")).collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1).toSeq)
    val before = state()
    val q2 = start(s"$base/ck2")
    try q2.processAllAvailable() finally q2.stop()
    assert(state() == before, "replayed batches must not change the index")
  }

  test("typed Dataset surface: events as case-class Dataset") {
    val ev = graft.sources.Tables.eventsTyped(spark, sfDir)
    val n = ev.filter(_.event_type == "purchase").map(_.value).reduce(_ + _)
    assert(n > 0)
    val doc = graft.sources.Tables.documentsTyped(spark, sfDir).head()
    assert(doc.text.nonEmpty && doc.n_chars > 0)
  }

  test("DWS keyword job end-to-end: tokenize -> window -> counts over a stream") {
    val in = MemoryStream[(Timestamp, String)]
    val out = graft.streaming.Jobs.keywordWindowCounts(
      in.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes")
    val name = nextName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData((ts("2024-01-01 10:01:00"), "spark flink spark"),
        (ts("2024-01-01 10:04:00"), "spark kafka"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:30:00"), "flush flush")) // wm → 10:25
      q.processAllAvailable()
      in.addData((ts("2024-01-01 11:00:00"), "x"))
      q.processAllAvailable()
      val counts = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .select("word", "cnt").as[(String, Long)].collect().toMap
      assert(counts == Map("spark" -> 3L, "flink" -> 1L, "kafka" -> 1L))
    } finally q.stop()
  }

  test("DWD cleanse job: malformed JSON dropped, typed columns extracted") {
    val raw = Seq(
      """{"type":"page","ts":1704103260000,"payload":"{\"p\":1}"}""",
      """garbage""",
      """{"type":"err","ts":1704103270000,"payload":"{}"}""").toDF("value")
    val out = graft.streaming.Jobs.cleanseLogStream(raw)
      .select("type").as[String].collect().sorted.toSeq
    assert(out == Seq("err", "page"))
  }

  test("lateRows captures rows behind the watermark; enrichWithDim joins dim attributes") {
    val batch = Seq((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 12:00:00"), 2L))
      .toDF("ts", "user_id")
    val wmMs = ts("2024-01-01 11:00:00").getTime
    val late = Streams.lateRows(batch, "ts", wmMs).select("user_id").as[Long].collect()
    assert(late.toSeq == Seq(1L))
    // millisecond precision at the boundary: 10:59:59.999 is late,
    // 11:00:00.000 is not (second-truncation regression guard)
    val subSec = Seq((Timestamp.valueOf("2024-01-01 10:59:59.999"), 1L),
      (Timestamp.valueOf("2024-01-01 11:00:00.000"), 2L)).toDF("ts", "user_id")
    assert(Streams.lateRows(subSec, "ts", wmMs).select("user_id")
      .as[Long].collect().toSeq == Seq(1L))
    val dim = Seq((1L, "gold"), (3L, "silver")).toDF("cust_id", "tier")
    val enriched = Streams.enrichWithDim(batch, dim, Seq("user_id" -> "cust_id"))
      .select("user_id", "tier").as[(Long, String)].collect().toSet
    assert(enriched == Set((1L, "gold"), (2L, null)))
  }

  test("foreachBatch dim enrichment: broadcast join applied per micro-batch") {
    val in = MemoryStream[(Timestamp, Long)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("cust_id", "tier")
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = in.toDF().toDF("ts", "user_id").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val enriched = Streams.enrichWithDim(batch, dim, Seq("user_id" -> "cust_id"))
        collected.synchronized {
          collected ++= enriched.select("user_id", "tier")
            .collect().map(r => (r.getLong(0), r.getString(1)))
        }
        ()
      }.start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:01:00"), 2L), (ts("2024-01-01 10:02:00"), 7L))
      q.processAllAvailable()
      assert(collected.toSet == Set((1L, "gold"), (2L, "basic"), (7L, null)))
    } finally q.stop()
  }

  test("layered warehouse end-to-end: CDC dim upsert -> DWD cleanse -> dim enrichment -> DWS window agg -> exactly-once sink") {
    import org.apache.spark.sql.types._
    import graft.sources.IO
    import graft.streaming.{Cdc, Jobs}
    val root = java.nio.file.Files.createTempDirectory("graft_e2e_").toString
    val cdcIn = s"$root/ods_db"; val logIn = s"$root/ods_log"
    val dimSnap = s"$root/dim/user_tier"; val dwsOut = s"$root/dws/spend"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cdcIn))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logIn))
    val strSchema = StructType(Seq(StructField("value", StringType)))
    val snapSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("tier", StringType), StructField("op", StringType),
      StructField("ts_ms", LongType)))
    val paySchema = StructType(Seq(StructField("user_id", LongType),
      StructField("tier", StringType)))
    val logPaySchema = StructType(Seq(StructField("user_id", LongType),
      StructField("value", DoubleType)))

    def jq(s: String) = "\"" + s.replace("\"", "\\\"") + "\""
    def pay(id: Long, tier: String) = s"""{"user_id":$id,"tier":"$tier"}"""
    def cdcRow(op: String, before: String, after: String, tsMs: Long,
               table: String = "user_tier") = {
      val b = if (before == null) "null" else jq(before)
      val a = if (after == null) "null" else jq(after)
      s"""{"op":"$op","before":$b,"after":$a,"source":{"table":"$table"},"ts_ms":$tsMs}"""
    }
    def logRow(t: Timestamp, typ: String, userId: Long, value: Double) =
      s"""{"type":"$typ","ts":${t.getTime},"payload":${jq(s"""{"user_id":$userId,"value":$value}""")}}"""

    // ---- DIM layer: Debezium-style changelog -> routed -> keyed snapshot
    val config = Seq("user_tier").toDF("table")
    def runDim(): Unit = {
      val env = Cdc.parseEnvelope(IO.fileStream(spark, cdcIn, strSchema))
      val af = from_json(col("after"), paySchema)
      val bf = from_json(col("before"), paySchema)
      val keyed = Cdc.routeByConfig(env, config).select(
        coalesce(af.getField("user_id"), bf.getField("user_id")).as("user_id"),
        af.getField("tier").as("tier"), col("op"), col("ts_ms"))
      IO.upsertSink(keyed, dimSnap, s"$root/ck_dim", "user_id", snapSchema)
        .start().awaitTermination()
    }
    Seq(cdcRow("c", null, pay(1, "silver"), 10),
      cdcRow("c", null, pay(2, "basic"), 20),
      cdcRow("c", null, pay(3, "gold"), 30),
      cdcRow("c", null, """{"o_id":9}""", 25, table = "orders") // not whitelisted
    ).toDF("value").write.mode("append").parquet(cdcIn)
    runDim()
    Seq(cdcRow("u", pay(1, "silver"), pay(1, "gold"), 40),
      cdcRow("d", pay(3, "gold"), null, 50)
    ).toDF("value").write.mode("append").parquet(cdcIn)
    runDim()
    val dim = Cdc.liveView(spark.read.schema(snapSchema).parquet(dimSnap))
      .select(col("user_id").as("cust_id"), col("tier"))
    assert(dim.as[(Long, String)].collect().toSet ==
      Set((1L, "gold"), (2L, "basic")),
      "update applied, delete tombstoned, foreign table routed away")

    // ---- DWD -> DWS: cleanse raw log, enrich against the dim snapshot,
    // watermarked window agg by tier, exactly-once parquet sink
    def runDws(): Unit = {
      val cleansed = Jobs.cleanseLogStream(IO.fileStream(spark, logIn, strSchema))
      val p = from_json(col("payload"), logPaySchema)
      val typed = cleansed.filter(col("type") === "page")
        .select(col("ts"), p.getField("user_id").as("user_id"),
          p.getField("value").as("value"))
      val enriched = Streams.enrichWithDim(typed, dim, Seq("user_id" -> "cust_id"))
      val agg = Jobs.userWindowSpend(enriched, "ts", "tier", "value",
        "10 minutes", "5 minutes")
      IO.parquetSink(agg, dwsOut, s"$root/ck_dws").start().awaitTermination()
    }
    Seq(logRow(ts("2024-01-01 10:01:00"), "page", 1, 5.0),
      logRow(ts("2024-01-01 10:04:00"), "page", 2, 7.0),
      logRow(ts("2024-01-01 10:07:00"), "page", 7, 2.0), // no dim row
      logRow(ts("2024-01-01 10:05:00"), "err", 1, 9.0),  // split away
      "garbage not json"                                  // cleansed away
    ).toDF("value").write.mode("append").parquet(logIn)
    runDws() // watermark 10:02 — nothing finalized yet
    Seq(logRow(ts("2024-01-01 10:40:00"), "page", 1, 1.0))
      .toDF("value").write.mode("append").parquet(logIn)
    runDws() // watermark 10:35 — the 10:00 window finalizes
    val out = spark.read.parquet(dwsOut)
    val w0 = out.filter(col("window_start") === ts("2024-01-01 10:00:00"))
      .select("tier", "spend", "n_events")
      .as[(String, Double, Long)].collect().toSet
    assert(w0 == Set(("gold", 5.0, 1L), ("basic", 7.0, 1L), (null, 2.0, 1L)),
      s"per-tier finalized window: $w0")
    val rows = out.count()
    runDws() // no new input: the committed sink log must not grow
    assert(spark.read.parquet(dwsOut).count() == rows, "exactly-once replay")
  }

  test("stream split: routed branches partition the input") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val branches = Streams.split(ev, Map(
      "view" -> (col("event_type") === "view"),
      "error" -> (col("event_type") === "error"),
      "rest" -> (!col("event_type").isin("view", "error"))))
    val total = branches.values.map(_.count()).sum
    assert(total == ev.count())
  }

  test("hotKeysPerWindow + topKPerWindow: per-window leaderboard finalizes once") {
    val in = MemoryStream[(Timestamp, String)]
    val counts = graft.streaming.Jobs.hotKeysPerWindow(
      in.toDF().toDF("ts", "k"), "ts", "k", "10 minutes", "5 minutes")
    val name = nextName()
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [10:00,10:10): a×3, b×2, c×1 — then advance the watermark
      // past 10:10 so the window emits exactly once
      in.addData(
        (ts("2024-01-01 10:01:00"), "a"), (ts("2024-01-01 10:02:00"), "a"),
        (ts("2024-01-01 10:03:00"), "a"), (ts("2024-01-01 10:04:00"), "b"),
        (ts("2024-01-01 10:05:00"), "b"), (ts("2024-01-01 10:06:00"), "c"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:21:00"), "z"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:40:00"), "z"))
      q.processAllAvailable()

      // the finalized micro-batch output is a bounded batch — rank it
      val top2 = graft.streaming.Jobs.topKPerWindow(
        spark.table(name).filter(col("window_start") === ts("2024-01-01 10:00:00")), 2)
        .select("key", "cnt").as[(String, Long)].collect().toSeq
      assert(top2 == Seq(("a", 3L), ("b", 2L)), s"leaderboard: $top2")
      // each (window, key) emitted exactly once (append mode + watermark)
      val n = spark.table(name)
        .filter(col("window_start") === ts("2024-01-01 10:00:00")).count()
      assert(n == 3, s"one finalized row per key: $n")
    } finally q.stop()
  }

  test("windowedUniques: per-window approx distinct users within the rsd band") {
    val in = MemoryStream[(Timestamp, Long)]
    val agg = graft.streaming.Jobs.windowedUniques(
      in.toDF().toDF("ts", "user_id"), "ts", "user_id", "10 minutes", "5 minutes")
    val name = nextName()
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // window [10:00,10:10): users 1..40, some repeating; [10:10,10:20): 3
      in.addData((1 to 40).map(u => (ts("2024-01-01 10:05:00"), u.toLong)): _*)
      in.addData((ts("2024-01-01 10:06:00"), 7L), (ts("2024-01-01 10:07:00"), 7L),
        (ts("2024-01-01 10:12:00"), 1L), (ts("2024-01-01 10:13:00"), 2L),
        (ts("2024-01-01 10:14:00"), 2L))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:31:00"), 99L)) // advance watermark
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:50:00"), 99L))
      q.processAllAvailable()
      val out = spark.table(name)
        .as[(Timestamp, Long, Long)].collect()
        .map(r => r._1.toString -> (r._2, r._3)).toMap
      val (u1, n1) = out("2024-01-01 10:00:00.0")
      assert(n1 == 42L, s"event count exact: $n1")
      assert(math.abs(u1 - 40L) <= 6, s"approx uniques ~40 at rsd 5%: $u1")
      val (u2, n2) = out("2024-01-01 10:10:00.0")
      assert(n2 == 3L && math.abs(u2 - 2L) <= 1, s"window 2: $u2/$n2")
    } finally q.stop()
  }

  test("FunnelProcessor state schema EVOLVES across a restart that adds a field (avro encoding)") {
    // long-lived streaming state must survive code evolution: phase 1
    // runs the SHIPPED FunnelProcessor (state = FunnelState(reachedTs)),
    // phase 2 restarts the SAME checkpoint with a "next release" whose
    // state class ADDS a field. The avro state encoding reads v1 rows
    // with the new field defaulted — the path the old kryo encoding
    // (opaque bytes) could never take. The parquet sink supports
    // checkpoint recovery (memory sink does not, in append mode).
    spark.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
    try {
      val ck = java.nio.file.Files.createTempDirectory("tws_evolve_ck_").toString
      val outDir = java.nio.file.Files.createTempDirectory("tws_evolve_out_").toString
      val in = MemoryStream[Processors.FunnelEvent]
      def start(proc: org.apache.spark.sql.streaming.StatefulProcessor[
          Long, Processors.FunnelEvent, Processors.FunnelOut]) =
        in.toDS().groupByKey(_.userId)
          .transformWithState(proc, TimeMode.None(), OutputMode.Append())
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ck).outputMode("append").start()
      val stages = Seq("view", "click", "purchase")
      val q1 = start(new Processors.FunnelProcessor(stages))
      try {
        in.addData(Processors.FunnelEvent(1L, "view", 100L),
          Processors.FunnelEvent(1L, "click", 200L))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start(new FunnelEvolution.FunnelProcessorV2(stages))
      try {
        // u1's purchase can only complete if v2 READ v1's carried
        // stage-2 state; u2 exercises a fresh v2-format write
        in.addData(Processors.FunnelEvent(1L, "purchase", 400L),
          Processors.FunnelEvent(2L, "view", 300L))
        q2.processAllAvailable()
      } finally q2.stop()
      val rows = spark.read.parquet(outDir).as[Processors.FunnelOut].collect()
        .map(r => (r.userId, r.stage) -> ((r.tsMs, r.completed))).toMap
      assert(rows((1L, 1)) == ((100L, false)) && rows((1L, 2)) == ((200L, false)))
      assert(rows((1L, 3)) == ((400L, true)),
        s"v2 must complete from v1's carried state: $rows")
      assert(rows((2L, 1)) == ((300L, false)))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.encodingFormat")
  }

  test("decontaminateIngestSink: gate drops probe-overlap, quarantine audits, replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("decon_sink_").toString
    val probeDir = s"$base/probe"; val outDir = s"$base/out"
    val quarDir = s"$base/quarantine"
    Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").write.parquet(probeDir)
    val in = MemoryStream[(Long, String)]
    def start(ck: String) = graft.sources.IO.decontaminateIngestSink(
        in.toDF().toDF("doc_id", "text"), probeDir, outDir, quarDir, ck,
        "doc_id", "text", n = 5)
      .trigger(Trigger.ProcessingTime(0)) // multi-batch in-test
      .start()
    def ids(dir: String): Set[Long] =
      spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
    val q = start(s"$base/ck1")
    try {
      // batch 1: doc 10 carries the probe 5-gram "alpha beta gamma
      // delta epsilon" → quarantined; doc 11 is clean
      in.addData((10L, "intro alpha beta gamma delta epsilon outro"),
        (11L, "one two three four five six seven"))
      q.processAllAvailable()
      assert(ids(outDir) == Set(11L), s"batch-1 corpus: ${ids(outDir)}")
      assert(ids(quarDir) == Set(10L), s"batch-1 quarantine: ${ids(quarDir)}")
      // batch 2: suffix overlap "beta gamma delta epsilon zeta" flags 20
      in.addData((20L, "x beta gamma delta epsilon zeta"),
        (21L, "eight nine ten eleven twelve thirteen"))
      q.processAllAvailable()
      assert(ids(outDir) == Set(11L, 21L), s"corpus: ${ids(outDir)}")
      assert(ids(quarDir) == Set(10L, 20L), s"quarantine: ${ids(quarDir)}")
    } finally q.stop()
    // replay: a FRESH checkpoint re-delivers every batch id from 0, but
    // the committed-batch markers in outDir make each one a no-op —
    // neither corpus nor quarantine may double-append
    val q2 = start(s"$base/ck2")
    try {
      in.addData((10L, "intro alpha beta gamma delta epsilon outro"),
        (11L, "one two three four five six seven"))
      q2.processAllAvailable()
      assert(ids(outDir) == Set(11L, 21L), s"replayed corpus: ${ids(outDir)}")
      assert(ids(quarDir) == Set(10L, 20L),
        s"replayed quarantine: ${ids(quarDir)}")
    } finally q2.stop()
  }

  test("windowedQualitySums + qualityPerWindow + qualityAuditSink: parity with the batch fold; mean law; replay no-op") {
    // PARITY LAW: streaming (window, source) weight sums over the REAL
    // documents table in one window == the q_dsir_hashed per-doc
    // relation joined to source and summed — exact longs, so equality
    // is associativity, not tolerance
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val lm = graft.operators.Sampling.dsirLm(docs, "text",
      col("lang") === "en").localCheckpoint(true)
    val batchFold = Queries.q_dsir_hashed(spark, sfDir)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(sum("n_tokens").as("n_tokens"), sum("weight_pico").as("w"))
      .as[(String, Long, Long)].collect().toSet
    val root = java.nio.file.Files.createTempDirectory("quality_").toString
    val lmDir = s"$root/lm"; val base = s"$root/store"
    lm.write.parquet(lmDir)
    val in = MemoryStream[(Timestamp, String, String)]
    val hist = graft.streaming.Jobs.windowedQualitySums(
      in.toDF().toDF("ts", "source", "text"), "ts", "source", "text",
      spark.read.parquet(lmDir), "10 minutes", "5 minutes")
    val ck = java.nio.file.Files.createTempDirectory("quality_ck_").toString
    def start() = graft.sources.IO.qualityAuditSink(hist, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    val rows = docs.select("source", "text").as[(String, String)]
      .collect().toSeq
    val q1 = start()
    try {
      in.addData(rows.map(r => (ts("2024-01-01 10:01:00"), r._1, r._2)))
      in.addData((ts("2024-01-01 10:41:00"), "wmpush", "x"))
      q1.processAllAvailable()
    } finally q1.stop()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    val live = graft.streaming.Cdc.liveView(
        graft.sources.IO.readSnapshotVersion(spark, base, versions.last,
          graft.sources.IO.QualityAuditSchema))
      .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      .select("source", "n_tokens", "weight_pico")
      .as[(String, Long, Long)].collect().toSet
    assert(live == batchFold,
      s"streaming quality sums diverged from the batch fold: ${(live -- batchFold).take(3)}")
    // mean is the exact integer division of the sums
    val means = graft.streaming.Cdc.liveView(
        graft.sources.IO.readSnapshotVersion(spark, base, versions.last,
          graft.sources.IO.QualityAuditSchema))
      .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      .select("n_tokens", "weight_pico", "mean_pico_per_token")
      .as[(Long, Long, Long)].collect()
    means.foreach { case (n, w, m) =>
      // Spark SQL `div` truncates toward zero (weights are negative here)
      assert(m == w / n, s"mean law: $n $w $m")
    }
    // replay from a fresh checkpoint: marker no-op, no new versions
    val vBefore = versions
    val ck2 = java.nio.file.Files.createTempDirectory("quality_ck2_").toString
    val q2 = graft.sources.IO.qualityAuditSink(hist, base, ck2)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      in.addData((ts("2024-01-01 10:02:00"), "late", "y z"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(versions == vBefore,
      s"replayed batches must be marker no-ops: $vBefore -> $versions")
  }

  test("audit-store sinks: a micro-batch that finalizes no window writes only its marker") {
    // one event and no watermark advance past its window's end: the
    // windowed relation's micro-batch is empty, so the store commits no
    // v=<n> snapshot and the first-seen index dir is never created —
    // but the batch is still marked committed
    val root = java.nio.file.Files.createTempDirectory("audit_empty_").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    def assertMarkerOnly(base: String): Unit = {
      assert(graft.sources.IO.snapshotVersions(spark, base).isEmpty,
        s"$base: an empty batch must commit no snapshot version")
      assert(exists(s"$base/_markers/0"),
        s"$base: an empty batch must still write its marker")
    }
    // stateless store: qualityAuditSink
    val lmDir = s"$root/lm"
    Seq((0L, 1L)).toDF("b", "ratio_pico").write.parquet(lmDir)
    val qIn = MemoryStream[(Timestamp, String, String)]
    val qHist = graft.streaming.Jobs.windowedQualitySums(
      qIn.toDF().toDF("ts", "source", "text"), "ts", "source", "text",
      spark.read.parquet(lmDir), "10 minutes", "5 minutes")
    val q1 = graft.sources.IO
      .qualityAuditSink(qHist, s"$root/quality", s"$root/quality_ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      qIn.addData((ts("2024-01-01 10:01:00"), "s", "a b c d"))
      q1.processAllAvailable()
    } finally q1.stop()
    assertMarkerOnly(s"$root/quality")
    // indexed store: noveltyAuditSink
    val nIn = MemoryStream[(Timestamp, String)]
    val nHist = graft.streaming.Jobs.windowedGramDocFreq(
      nIn.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes")
    val idxDir = s"$root/grams"
    val q2 = graft.sources.IO
      .noveltyAuditSink(nHist, idxDir, s"$root/novelty", s"$root/novelty_ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      nIn.addData((ts("2024-01-01 10:01:00"), "a b c d"))
      q2.processAllAvailable()
    } finally q2.stop()
    assertMarkerOnly(s"$root/novelty")
    assert(!exists(idxDir), "an empty batch must not create the first-seen index")
  }

  test("dsirGateSink: quality gate admits target-like docs, audits every decision, replay is a no-op") {
    // LM trained batch-side (Sampling.dsirLm — what the sink re-reads
    // per micro-batch): target rows are 'good'-vocabulary docs, raw adds
    // 'junk' vocabulary, so per-token log-ratios are positive on 'good'
    // tokens and negative on 'junk' ones
    val corpus = Seq(
      (true, "good solid prose with signal"),
      (true, "solid signal good prose here"),
      (false, "junk spam junk spam junk"),
      (false, "spam junk spam noise noise")).toDF("t", "text")
    val root = java.nio.file.Files.createTempDirectory("dsirgate_").toString
    val lmDir = s"$root/lm"; val outDir = s"$root/clean"
    val auditDir = s"$root/audit"
    graft.operators.Sampling.dsirLm(corpus, "text", col("t"))
      .write.parquet(lmDir)
    val in = MemoryStream[(Long, String)]
    // the sink's default trigger is AvailableNow, which fixes its end
    // offset when the query thread first plans: data added after
    // start() races that and can leave the query with no batch, so
    // every addData here comes before its start()
    def start(ck: String) = graft.sources.IO.dsirGateSink(
      in.toDF().toDF("doc_id", "text"), lmDir, outDir, auditDir, ck,
      "doc_id", "text", thresholdPicoPerToken = 0L).start()
    val ck1 = java.nio.file.Files.createTempDirectory("dsirgate_ck1_").toString
    in.addData((1L, "good signal prose"), (2L, "junk spam noise"),
      (3L, ""))
    val q1 = start(ck1)
    try q1.processAllAvailable()
    finally q1.stop()
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L), s"gate admitted $admitted")
    val audit = spark.read.parquet(auditDir)
      .select("doc_id", "n_tokens", "admitted")
      .as[(Long, Long, Boolean)].collect().toSet
    // every input has a decision — including the token-less doc 3
    assert(audit.map(_._1) == Set(1L, 2L, 3L), s"audit set: $audit")
    assert(audit.contains((3L, 0L, false)), s"empty doc audited: $audit")
    assert(audit.collect { case (id, _, a) if a => id } == Set(1L))
    // replay from a fresh checkpoint: the committed-batch marker makes
    // the whole decision a no-op — no new corpus rows, no new audit rows
    val (nOut, nAudit) = (spark.read.parquet(outDir).count(),
      spark.read.parquet(auditDir).count())
    val ck2 = java.nio.file.Files.createTempDirectory("dsirgate_ck2_").toString
    in.addData((1L, "good signal prose"))
    val q2 = start(ck2)
    try q2.processAllAvailable()
    finally q2.stop()
    assert(spark.read.parquet(outDir).count() == nOut &&
      spark.read.parquet(auditDir).count() == nAudit,
      "replayed batch must be a marker no-op on both dirs")
  }

  test("decontaminateSpanSink: quote excised and admitted, verbatim copy emptied and dropped, audit trail, replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("decon_span_").toString
    val probeDir = s"$base/probe"; val outDir = s"$base/out"
    val auditDir = s"$base/audit"
    val bench = (1 to 12).map(i => s"k$i").mkString(" ")
    Seq((0L, bench)).toDF("doc_id", "text").write.parquet(probeDir)
    val in = MemoryStream[(Long, String)]
    def start(ck: String) = graft.sources.IO.decontaminateSpanSink(
        in.toDF().toDF("doc_id", "text"), probeDir, outDir, auditDir, ck,
        "doc_id", "text", n = 5)
      .trigger(Trigger.ProcessingTime(0)) // multi-batch in-test
      .start()
    def corpus: Map[Long, String] = spark.read.parquet(outDir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    def audit: Map[Long, (Long, Long, Boolean)] = spark.read.parquet(auditDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val fresh1 = (1 to 10).map(i => s"x$i").mkString(" ")
    val fresh2 = (11 to 20).map(i => s"x$i").mkString(" ")
    val quote = (4 to 9).map(i => s"k$i").mkString(" ")
    val q = start(s"$base/ck1")
    try {
      // doc 10 quotes 6 benchmark tokens mid-text → admitted with the
      // quote excised; doc 11 IS the benchmark → emptied, dropped;
      // doc 12 is fresh → verbatim
      in.addData(
        (10L, s"$fresh1 $quote $fresh2"),
        (11L, bench),
        (12L, "fresh one two three four five"))
      q.processAllAvailable()
      assert(corpus == Map(
        10L -> s"$fresh1 $fresh2",
        12L -> "fresh one two three four five"), s"corpus: $corpus")
      assert(audit == Map(
        10L -> ((26L, 6L, false)),
        11L -> ((12L, 12L, true))), s"audit: $audit")
    } finally q.stop()
    // replay from a fresh checkpoint: committed-batch markers → no
    // double-append on either dir
    val q2 = start(s"$base/ck2")
    try {
      in.addData((10L, s"$fresh1 $quote $fresh2"), (11L, bench))
      q2.processAllAvailable()
      assert(corpus.keySet == Set(10L, 12L), s"replayed corpus: $corpus")
      assert(audit.keySet == Set(10L, 11L), s"replayed audit: $audit")
    } finally q2.stop()
  }

  test("winnowIngestSink: substring gate advances with admissions, flags carry best match, replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("winnow_sink_").toString
    val idxDir = s"$base/idx"; val outDir = s"$base/out"
    val flagDir = s"$base/flagged"
    val runA = (1 to 20).map(i => s"a$i").mkString(" ")
    val runC = (1 to 30).map(i => s"c$i").mkString(" ")
    val in = MemoryStream[(Long, String)]
    def start(ck: String) = graft.sources.IO.winnowIngestSink(
        in.toDF().toDF("doc_id", "text"), idxDir, outDir, flagDir, ck,
        "doc_id", "text")
      .trigger(Trigger.ProcessingTime(0)) // multi-batch in-test
      .start()
    def ids(dir: String): Set[Long] =
      spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
    val q = start(s"$base/ck1")
    try {
      // batch 1: cold start — both docs admitted, index seeded
      in.addData((1L, runA + " tail1"), (2L, runC))
      q.processAllAvailable()
      assert(ids(outDir) == Set(1L, 2L), s"batch-1 admissions: ${ids(outDir)}")
      // batch 2: doc 10 embeds a 12-token run of doc 1 → flagged with
      // best match 1; doc 11 is fresh → admitted
      in.addData(
        (10L, "x y " + (1 to 12).map(i => s"a$i").mkString(" ") + " z w q r"),
        (11L, (1 to 30).map(i => s"d$i").mkString(" ")))
      q.processAllAvailable()
      assert(ids(outDir) == Set(1L, 2L, 11L), s"corpus: ${ids(outDir)}")
      val flagged = spark.read.parquet(flagDir)
        .select("doc_id", "match_id").as[(Long, Long)].collect().toSet
      assert(flagged == Set((10L, 1L)), s"flag audit: $flagged")
      // batch 3: a near-copy of batch-2's ADMISSION flags (gate advanced)
      in.addData((20L, (1 to 30).map(i => s"d$i").mkString(" ") + " suffix"))
      q.processAllAvailable()
      assert(ids(outDir) == Set(1L, 2L, 11L), s"final corpus: ${ids(outDir)}")
      assert(ids(flagDir) == Set(10L, 20L), s"final flags: ${ids(flagDir)}")
      // batch 4: TWO overlapping docs in the SAME micro-batch — the
      // intra-batch gate keeps the min-id canonical (25) and flags the
      // sibling (26) with its within-batch partner (VERDICT r13 #1)
      val runE = (1 to 15).map(i => s"e$i").mkString(" ")
      in.addData((25L, runE + " left one two"), (26L, runE + " right ten"))
      q.processAllAvailable()
      assert(ids(outDir) == Set(1L, 2L, 11L, 25L),
        s"intra-collapsed corpus: ${ids(outDir)}")
      val intraFlag = spark.read.parquet(flagDir)
        .filter($"doc_id" === 26L)
        .select("match_id").as[Long].collect().toSeq
      assert(intraFlag == Seq(25L), s"intra flag audit: $intraFlag")
    } finally q.stop()
    // replay from a fresh checkpoint: markers make every batch a no-op
    val q2 = start(s"$base/ck2")
    try {
      in.addData((1L, runA + " tail1"), (2L, runC))
      q2.processAllAvailable()
      assert(ids(outDir) == Set(1L, 2L, 11L, 25L),
        s"replayed corpus: ${ids(outDir)}")
      assert(ids(flagDir) == Set(10L, 20L, 26L),
        s"replayed flags: ${ids(flagDir)}")
    } finally q2.stop()
  }

  test("semanticDedupSink: cosine gate advances with admissions, replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("sem_sink_").toString
    val idxDir = s"$base/idx"; val outDir = s"$base/out"
    val e0 = Array(1f, 0f, 0f, 0f); val e1 = Array(0f, 1f, 0f, 0f)
    val e2 = Array(0f, 0f, 1f, 0f); val e3 = Array(0f, 0f, 0f, 1f)
    val rnd = new scala.util.Random(11)
    def near(c: Array[Float]): Seq[Float] =
      c.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq
    // pre-seed: the IVF index needs trained centroids (sink contract)
    val seed = (0 until 4).map(i => (i.toLong, near(e0)))
    graft.operators.Similarity.ivfWriteIndex(
      seed.toDF("vec_id", "embedding"), "embedding",
      Array(e0, e1, e2, e3), idxDir)
    val in = MemoryStream[(Long, Seq[Float])]
    def start(ck: String) = graft.sources.IO.semanticDedupSink(
        in.toDF().toDF("vec_id", "embedding"), idxDir, outDir, ck,
        "vec_id", "embedding", threshold = 0.95, nprobe = 2)
      .trigger(Trigger.ProcessingTime(0)) // multi-batch in-test
      .start()
    def ids(dir: String): Set[Long] =
      spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet
    val q = start(s"$base/ck1")
    try {
      // batch 1: near-copy of the seeded cluster drops; novel admits
      in.addData((10L, near(e0)), (11L, near(e1)))
      q.processAllAvailable()
      assert(ids(outDir) == Set(11L), s"batch-1 admissions: ${ids(outDir)}")
      // batch 2: near-copy of the batch-1 ADMISSION drops (index
      // advanced); a third direction admits
      in.addData((20L, near(e1)), (21L, near(e2)))
      q.processAllAvailable()
      assert(ids(outDir) == Set(11L, 21L), s"final clean set: ${ids(outDir)}")
      // batch 3: TWO near-identical vectors in the SAME micro-batch —
      // the intra-batch gate admits exactly the min-id canonical
      // (VERDICT r13 #1)
      in.addData((30L, near(e3)), (31L, near(e3)))
      q.processAllAvailable()
      assert(ids(outDir) == Set(11L, 21L, 30L),
        s"intra-collapsed clean set: ${ids(outDir)}")
    } finally q.stop()
    // replay from a fresh checkpoint: markers make each batch a no-op
    val q2 = start(s"$base/ck2")
    try {
      in.addData((10L, near(e0)), (11L, near(e1)))
      q2.processAllAvailable()
      assert(ids(outDir) == Set(11L, 21L, 30L), s"replayed: ${ids(outDir)}")
    } finally q2.stop()
  }

  test("windowedShingleHits + contaminationFracPerWindow: per-window ppm equals the batch fold") {
    // the corpus-audit streaming twin of q_contamination_frac: same
    // shingle plan, same Analytics.halfUpPpm fold — parity is a law
    val leak = "alpha beta gamma delta epsilon"
    val probe = Seq(leak + " p1 p2 p3").toDF("text")
    val in = MemoryStream[(Timestamp, String)]
    val hist = graft.streaming.Jobs.windowedShingleHits(
      in.toDF().toDF("ts", "text"), "ts", "text", probe, "text",
      "10 minutes", "5 minutes")
    val name = nextName()
    val q = hist.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // w1 [10:00,10:10): doc A carries the leak 5-gram (1 hit of its
      // 6 distinct shingles), doc B is clean (6 shingles)
      in.addData((ts("2024-01-01 10:01:00"), leak + " a1 a2 a3 a4 a5"),
        (ts("2024-01-01 10:02:00"), (1 to 10).map(i => s"b$i").mkString(" ")))
      q.processAllAvailable()
      // finalize w1; seed w2 [10:20,10:30) with a clean doc
      in.addData((ts("2024-01-01 10:21:00"),
        (1 to 10).map(i => s"c$i").mkString(" ")))
      q.processAllAvailable()
      // finalize w2
      in.addData((ts("2024-01-01 10:41:00"), "tail doc for watermark push"))
      q.processAllAvailable()
      val out = graft.streaming.Jobs
        .contaminationFracPerWindow(spark.table(name))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      // 1/12 shingles hit → floor((2e6+12)/24) = 83333 ppm (HALF_UP)
      assert(out.get("2024-01-01 10:00:00.0").contains((12L, 1L, 83333L)),
        s"w1: $out")
      assert(out.get("2024-01-01 10:20:00.0").contains((6L, 0L, 0L)),
        s"w2: $out")
      // the literal batch fold over the same rows agrees (halfUpPpm is
      // the shared column — asserted against an independent computation)
      assert(Seq((12L, 1L)).toDF("n_shingles", "n_hit")
        .select(graft.operators.Analytics
          .halfUpPpm(col("n_hit"), col("n_shingles"))).head.getLong(0)
        == 83333L)
    } finally q.stop()
  }

  test("windowedGramDocCounts + boilerplateMassPerWindow: window-scoped df census equals the batch fold") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    def doc(i: Int): String = shared + s" t${i}a t${i}b t${i}c"
    val w1docs = (1 to 4).map(i => (i.toLong, doc(i))) :+
      (5L, (1 to 12).map(i => s"u$i").mkString(" "))
    val w2docs = Seq((10L, doc(1)), (11L, doc(2))) // df 2 < 4: no boiler
    // the batch q_boilerplate fold, window-scoped — the parity reference
    def expected(docs: Seq[(Long, String)], minDf: Long)
        : (Long, Long, Long) = {
      val win = docs.toDF("doc_id", "text")
        .select(col("doc_id"), explode(graft.operators.Dedup.shingleList(8)(
          graft.functions.Text.tokens(col("text")))).as("sh_str"))
        .select(col("doc_id"), xxhash64(col("sh_str")).as("sh"))
        .localCheckpoint(true)
      val hot = win.select("doc_id", "sh").distinct()
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDf).select("sh").withColumn("__hot", lit(1))
      val r = win.join(hot, Seq("sh"), "left")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("b"))
        .select(col("n"), col("b"),
          graft.operators.Analytics.halfUpPpm(col("b"), col("n")).as("p"))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val in = MemoryStream[(Timestamp, Long, String)]
    val rel = graft.streaming.Jobs.windowedGramDocCounts(
      in.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
      "10 minutes", "5 minutes")
    val name = nextName()
    val q = rel.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      w1docs.foreach { case (id, t) =>
        in.addData((ts("2024-01-01 10:01:00"), id, t))
      }
      q.processAllAvailable()
      in.addData(w2docs.map { case (id, t) =>
        (ts("2024-01-01 10:21:00"), id, t)
      }: _*)
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:41:00"), 99L, "watermark push doc"))
      q.processAllAvailable()
      val out = graft.streaming.Jobs
        .boilerplateMassPerWindow(spark.table(name))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val e1 = expected(w1docs, 4L); val e2 = expected(w2docs, 4L)
      assert(out.get("2024-01-01 10:00:00.0").contains(e1),
        s"w1: $out vs $e1")
      assert(out.get("2024-01-01 10:20:00.0").contains(e2),
        s"w2: $out vs $e2")
      // fixture sanity: w1 really has boilerplate mass, w2 none
      assert(e1._2 > 0L && e2._2 == 0L, s"fixture: $e1 / $e2")
    } finally q.stop()
  }

  test("corpusAuditStoreSink: contamination rows land versioned, replay is a no-op") {
    val leak = "alpha beta gamma delta epsilon"
    val probe = Seq(leak + " p1 p2 p3").toDF("text")
    val in = MemoryStream[(Timestamp, String)]
    val hist = graft.streaming.Jobs.windowedShingleHits(
      in.toDF().toDF("ts", "text"), "ts", "text", probe, "text",
      "10 minutes", "5 minutes")
    val base = java.nio.file.Files.createTempDirectory("corpaudit_")
      .toString + "/store"
    def start(ck: String) = graft.sources.IO
      .corpusAuditStoreSink(hist, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live(v: Long): Map[String, (Long, Long, Long)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, v, graft.sources.IO.CorpusAuditSchema))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ck1 = java.nio.file.Files.createTempDirectory("corpaudit_ck1_")
      .toString
    val q1 = start(ck1)
    try {
      in.addData((ts("2024-01-01 10:01:00"), leak + " a1 a2 a3 a4 a5"),
        (ts("2024-01-01 10:02:00"), (1 to 10).map(i => s"b$i").mkString(" ")))
      q1.processAllAvailable()
      in.addData((ts("2024-01-01 10:21:00"), "watermark push past w1"))
      q1.processAllAvailable()
      val vs = versions
      assert(vs.nonEmpty, "w1 finalization must commit a version")
      val row = live(vs.last)
      assert(row == Map("2024-01-01 10:00:00.0" -> ((12L, 1L, 83333L))),
        s"store row: $row")
    } finally q1.stop()
    // replay from a fresh checkpoint: committed-batch markers → no-op
    val before = versions
    val ck2 = java.nio.file.Files.createTempDirectory("corpaudit_ck2_")
      .toString
    val q2 = start(ck2)
    try q2.processAllAvailable() finally q2.stop()
    assert(versions == before, "replay must commit no new versions")
    assert(live(versions.last) ==
      Map("2024-01-01 10:00:00.0" -> ((12L, 1L, 83333L))))
  }

  test("windowedLangCounts + mixDriftPerWindow: parity with q_mix_drift; live flood alarm") {
    // PARITY LAW (the noveltyBySourcePerWindow convention): the fold
    // over the REAL documents table — one window, baseline = the
    // table's own language marginal — must reproduce the registered
    // batch id's (source, n_docs, kl_pico) rows exactly: the KL term is
    // the literal same float expression, pico-quantized per term.
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val w0 = ts("2024-01-01 10:00:00")
    val rel = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_sl"))
      .select(lit(w0).as("window_start"), col("source"), col("lang"),
        col("n_sl"))
    val baseline = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .crossJoin(docs.agg(count(lit(1)).as("n_total")))
    val live = graft.streaming.Jobs.mixDriftPerWindow(rel, baseline)
      .select("source", "n_docs", "kl_pico")
      .as[(String, Long, Long)].collect().toSet
    val batch = Queries.q_mix_drift(spark, sfDir)
      .as[(String, Long, Long)].collect().toSet
    assert(live == batch,
      s"streaming mix-drift fold diverged from q_mix_drift: ${live -- batch}")

    // LIVE GOLDEN: a balanced window reads near-zero drift, a one-lang
    // flood window reads large positive drift — per source, finalized
    // once on watermark advance
    val in = MemoryStream[(Timestamp, String, String)]
    val winRel = graft.streaming.Jobs.windowedLangCounts(
      in.toDF().toDF("ts", "source", "lang"),
      "ts", "source", "lang", "10 minutes", "5 minutes")
    val name = nextName()
    val q = winRel.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // w1: srcA mirrors the 50/50 baseline; w2: srcA floods 'en'
      in.addData(
        (ts("2024-01-01 10:01:00"), "srcA", "en"),
        (ts("2024-01-01 10:02:00"), "srcA", "de"),
        (ts("2024-01-01 10:21:00"), "srcA", "en"),
        (ts("2024-01-01 10:22:00"), "srcA", "en"),
        (ts("2024-01-01 10:23:00"), "srcA", "en"),
        (ts("2024-01-01 10:24:00"), "srcA", "en"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:41:00"), "push", "en"))
      q.processAllAvailable()
      val base2 = Seq(("en", 5L, 10L), ("de", 5L, 10L))
        .toDF("lang", "n_l", "n_total")
      val out = graft.streaming.Jobs
        .mixDriftPerWindow(spark.table(name), base2)
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(2), r.getLong(3)))).toMap
      // w1: p == q exactly → every term ln(1) = 0 → kl_pico = 0
      assert(out("2024-01-01 10:00:00.0") == ((2L, 0L)), s"balanced: $out")
      // w2: all-en flood → KL = 1.0·ln(1.0/0.5) = ln 2 → 693147180559
      assert(out("2024-01-01 10:20:00.0") == ((4L, 693147180559L)),
        s"flood: $out")
    } finally q.stop()
  }

  test("mixDriftPerWindow: unseen-language flood emits the alarm row (null KL, n_unseen)") {
    // ADVICE r15: a (window, source) whose documents are ALL in
    // languages outside the baseline support must still land a row —
    // the strongest possible drift can't vanish from the store.
    val w0 = ts("2024-01-01 10:00:00")
    val rel = Seq(
      (w0, "srcA", "xx", 3L),            // wholly unseen language
      (w0, "srcB", "en", 2L),            // covered…
      (w0, "srcB", "yy", 2L),            // …plus an unseen half
      (w0, "srcC", "en", 1L),            // fully covered control
      (w0, "srcC", "de", 1L))
      .toDF("window_start", "source", "lang", "n_sl")
    val baseline = Seq(("en", 5L, 10L), ("de", 5L, 10L))
      .toDF("lang", "n_l", "n_total")
    val out = graft.streaming.Jobs.mixDriftPerWindow(rel, baseline)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getLong(4)))).toMap
    // srcA: all-unseen → alarm row, null KL sentinel, full n_docs fold
    assert(out("srcA") == ((3L, None, 3L)), s"srcA: $out")
    // srcB: covered terms fold exactly as before (p=0.5 vs q=0.5 → 0),
    // the unseen half is billed in n_unseen, n_docs is the FULL fold
    assert(out("srcB") == ((4L, Some(0L), 2L)), s"srcB: $out")
    // srcC: fully covered — the legacy shape, n_unseen = 0
    assert(out("srcC")._1 == 2L && out("srcC")._3 == 0L, s"srcC: $out")
  }

  test("windowedTokenCounts + ttrPerWindow: streaming TTR equals the batch fold") {
    val in = MemoryStream[(Timestamp, String)]
    val rel = graft.streaming.Jobs.windowedTokenCounts(
      in.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes")
    val name = nextName()
    val q = rel.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // w1: diverse text — 8 tokens, 7 types (one repeat), 6 hapax
      in.addData(
        (ts("2024-01-01 10:01:00"), "a b c d"),
        (ts("2024-01-01 10:02:00"), "a e f g"))
      q.processAllAvailable()
      // w2: template spam — 8 tokens, 2 types, 0 hapax (TTR collapse)
      in.addData(
        (ts("2024-01-01 10:21:00"), "x y x y"),
        (ts("2024-01-01 10:22:00"), "x y x y"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:41:00"), "wm push"))
      q.processAllAvailable()
      val out = graft.streaming.Jobs.ttrPerWindow(spark.table(name))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5)))).toMap
      assert(out.get("2024-01-01 10:00:00.0")
        .contains((8L, 7L, 6L, 0.875, 0.857143)), s"w1: $out")
      assert(out.get("2024-01-01 10:20:00.0")
        .contains((8L, 2L, 0L, 0.25, 0.0)), s"w2: $out")
      // parity with the batch q_ttr fold on the same rows (source
      // column standing in for the window key)
      val batch = Seq(("w1", "a b c d"), ("w1", "a e f g"))
        .toDF("source", "text")
        .select(col("source"), explode(graft.functions.Text.tokens(
          col("text"))).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("ttr", round(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 6))
        .withColumn("hapax_frac", round(col("n_hapax").cast("double") /
          col("n_types").cast("double"), 6))
        .head()
      assert((batch.getLong(1), batch.getLong(2), batch.getLong(3),
        batch.getDouble(4), batch.getDouble(5)) ==
        ((8L, 7L, 6L, 0.875, 0.857143)), "batch-fold parity reference")
    } finally q.stop()
  }

  test("windowedPadTokens + padWastePerWindow: parity with q_pad_waste; live short-doc drift") {
    // PARITY LAW (the mixDriftPerWindow convention): the SAME function
    // run over the REAL documents table in batch mode — one window —
    // must reproduce the registered batch id's (source, n_docs,
    // n_tokens, n_pad, waste_ppm) rows exactly (all-integer fold; the
    // watermark node is eliminated on batch plans).
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .withColumn("ts", lit(ts("2024-01-01 10:00:00")))
    val live = graft.streaming.Jobs.padWastePerWindow(
        graft.streaming.Jobs.windowedPadTokens(
          docs, "ts", "source", "text", "10 minutes", "5 minutes"))
      .select("source", "n_docs", "n_tokens", "n_pad", "waste_ppm")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val batch = Queries.q_pad_waste(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(live == batch,
      s"streaming pad-waste fold diverged from q_pad_waste: ${live -- batch}")

    // LIVE GOLDEN: a long-doc window wastes little, a short-doc window
    // wastes nearly everything — per source, finalized on watermark
    val in = MemoryStream[(Timestamp, String, String)]
    val rel = graft.streaming.Jobs.windowedPadTokens(
      in.toDF().toDF("ts", "source", "text"),
      "ts", "source", "text", "10 minutes", "5 minutes")
    val name = nextName()
    val q = rel.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // w1: one 600-token doc (pads to 1024 → 424 pad); w2: two 1-token
      // docs (each pads to 512 → 1022 pad of 1024)
      in.addData(
        (ts("2024-01-01 10:01:00"), "srcA",
          (1 to 600).map(i => s"t$i").mkString(" ")),
        (ts("2024-01-01 10:21:00"), "srcA", "x"),
        (ts("2024-01-01 10:22:00"), "srcA", "y"))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:41:00"), "srcA", "wm push"))
      q.processAllAvailable()
      val out = graft.streaming.Jobs
        .padWastePerWindow(spark.table(name))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      // 424/1024 → HALF_UP ppm = floor((2e6·424 + 1024)/2048) = 414063
      assert(out("2024-01-01 10:00:00.0") == ((1L, 600L, 424L, 414063L)),
        s"long-doc window: $out")
      // 1022/1024 → floor((2e6·1022 + 1024)/2048) = 998047
      assert(out("2024-01-01 10:20:00.0") == ((2L, 2L, 1022L, 998047L)),
        s"short-doc window: $out")
    } finally q.stop()
  }

  test("noveltyAuditSink: earliest-window attribution, index advance, replay is a no-op") {
    val in = MemoryStream[(Timestamp, String)]
    val hist = graft.streaming.Jobs.windowedGramDocFreq(
      in.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes")
    val root = java.nio.file.Files.createTempDirectory("novelty_").toString
    val base = s"$root/store"; val idxDir = s"$root/grams"
    def start(ck: String) = graft.sources.IO
      .noveltyAuditSink(hist, idxDir, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live: Map[String, (Long, Long, Long)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, versions.last, graft.sources.IO.NoveltyAuditSchema))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ck1 = java.nio.file.Files.createTempDirectory("novelty_ck1_").toString
    val q1 = start(ck1)
    try {
      // w1 and w2 finalize in ONE micro-batch (all data lands before the
      // watermark advances): the shared grams "a b c"/"b c d" must
      // attribute novelty to w1 only — the intra-batch min-window path
      in.addData(
        (ts("2024-01-01 10:01:00"), "a b c d"),
        (ts("2024-01-01 10:02:00"), "a b c e"),
        (ts("2024-01-01 10:21:00"), "a b c d"),
        (ts("2024-01-01 10:22:00"), "x y z w"),
        (ts("2024-01-01 10:41:00"), "wm push")) // 2 tokens: zero grams
      q1.processAllAvailable()
      assert(live == Map(
        "2024-01-01 10:00:00.0" -> ((4L, 3L, 750000L)),
        "2024-01-01 10:20:00.0" -> ((4L, 2L, 500000L))), s"round 1: $live")
      val idx1 = spark.read.parquet(idxDir)
        .collect().map(r => r.getLong(0) -> r.getTimestamp(1).toString)
      assert(idx1.length == 5, s"gram universe after round 1: ${idx1.length}")
      assert(idx1.count(_._2 == "2024-01-01 10:00:00.0") == 3 &&
        idx1.count(_._2 == "2024-01-01 10:20:00.0") == 2,
        s"first-seen stamps: ${idx1.toSeq}")
      // round 2 gates against the PERSISTED index: "a b c d" is fully
      // known, "p q r s" is fully novel
      in.addData(
        (ts("2024-01-01 11:01:00"), "a b c d"),
        (ts("2024-01-01 11:02:00"), "p q r s"),
        (ts("2024-01-01 11:41:00"), "wm push"))
      q1.processAllAvailable()
      assert(live.get("2024-01-01 11:00:00.0")
        .contains((4L, 2L, 500000L)), s"round 2: $live")
      assert(spark.read.parquet(idxDir).count() == 7L,
        "round-2 append must add exactly the 2 novel grams")
    } finally q1.stop()
    // conservation across the store's whole history: Σ n_novel == the
    // persisted gram universe (the batch id's law, live form)
    assert(live.values.map(_._2).sum == 7L)
    // replay from a fresh checkpoint: committed-batch markers → no new
    // versions, no index growth
    val vBefore = versions
    val ck2 = java.nio.file.Files.createTempDirectory("novelty_ck2_").toString
    val q2 = start(ck2)
    try q2.processAllAvailable() finally q2.stop()
    assert(versions == vBefore, "replay must commit no new versions")
    assert(spark.read.parquet(idxDir).count() == 7L,
      "replay must not grow the gram index")
  }

  test("noveltyBySourcePerWindow: single-window parity with the batch " +
       "q_novelty_by_source id, and rollup conservation to the WHEN fold") {
    // stream the REAL documents table (constant ts → one window, empty
    // index) through the WHO relation + fold: per-source rows must
    // reproduce the registered batch id exactly — the q_auc convention
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (ts("2024-01-01 10:01:00"), r.getLong(0), r.getString(1),
        r.getString(2))).toSeq
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val rel = graft.streaming.Jobs.windowedGramSourceDocFreq(
      in.toDF().toDF("ts", "doc_id", "source", "text"),
      "ts", "doc_id", "source", "text", "10 minutes", "5 minutes")
    val name = nextName()
    val q = rel.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(docs)
      q.processAllAvailable()
      in.addData((ts("2024-01-01 11:01:00"), 999999L, "wm", "wm push"))
      q.processAllAvailable()
    } finally q.stop()
    val hist = spark.table(name)
      .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      .localCheckpoint(true) // feeds the fold twice (first + winners)
    val emptyKnown = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sh",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("first_window",
          org.apache.spark.sql.types.TimestampType))))
    val live = graft.streaming.Jobs
      .noveltyBySourcePerWindow(hist, emptyKnown)
      .select("source", "n_grams", "n_novel", "novelty_ppm")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = graft.Queries.q_novelty_by_source(spark, sfDir)
      .select("source", "n_grams", "n_novel", "novelty_ppm")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(live == batch,
      s"single-window WHO fold must equal the batch id; " +
        s"diff=${(live.toSet diff batch.toSet).take(3)} / " +
        s"${(batch.toSet diff live.toSet).take(3)}")
    // rollup conservation: summing the WHO rows over source reproduces
    // the WHEN fold on the source-blind relation (each gram attributed
    // to exactly ONE source — nothing counted twice)
    val whoRollup = graft.streaming.Jobs
      .noveltyBySourcePerWindow(hist, emptyKnown)
      .groupBy("window_start")
      .agg(sum(col("n_grams")).as("n_grams"),
        sum(col("n_novel")).as("n_novel"))
      .head()
    val whenRel = hist.groupBy("window_start", "sh")
      .agg(sum(col("n_docs")).as("n_docs"))
      .select("window_start", "sh", "n_docs")
    val whenRow = graft.streaming.Jobs
      .noveltyPerWindow(whenRel, emptyKnown).head()
    assert((whoRollup.getLong(1), whoRollup.getLong(2)) ==
      ((whenRow.getLong(1), whenRow.getLong(2))),
      s"rollup: who=$whoRollup when=$whenRow")
  }

  test("mixDriftAuditSink: per-(window, source) KL vs the persisted baseline; replay is a no-op") {
    val in = MemoryStream[(Timestamp, String, String)]
    val hist = graft.streaming.Jobs.windowedLangCounts(
      in.toDF().toDF("ts", "source", "lang"),
      "ts", "source", "lang", "10 minutes", "5 minutes")
    val root = java.nio.file.Files.createTempDirectory("mixdrift_").toString
    val base = s"$root/store"; val blDir = s"$root/baseline"
    // the guarded reference mix: 50/50 en/de
    Seq(("en", 5L, 10L), ("de", 5L, 10L)).toDF("lang", "n_l", "n_total")
      .write.parquet(blDir)
    def start(ck: String) = graft.sources.IO
      .mixDriftAuditSink(hist, blDir, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live: Map[(String, String), (Long, Long)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, versions.last, graft.sources.IO.MixDriftAuditSchema))
        .collect().map(r => (r.getTimestamp(1).toString, r.getString(2)) ->
          ((r.getLong(3), r.getLong(4)))).toMap
    val ck1 = java.nio.file.Files.createTempDirectory("mixdrift_ck1_").toString
    val q1 = start(ck1)
    try {
      // w1: srcA mirrors the baseline exactly (KL = 0); w2: srcA floods
      // 'en' (KL = ln 2 → 693147180559 pico — the mixDriftPerWindow golden)
      in.addData(
        (ts("2024-01-01 10:01:00"), "srcA", "en"),
        (ts("2024-01-01 10:02:00"), "srcA", "de"),
        (ts("2024-01-01 10:21:00"), "srcA", "en"),
        (ts("2024-01-01 10:22:00"), "srcA", "en"),
        (ts("2024-01-01 10:23:00"), "srcA", "en"),
        (ts("2024-01-01 10:24:00"), "srcA", "en"),
        (ts("2024-01-01 10:41:00"), "srcA", "en"))
      q1.processAllAvailable()
      assert(live == Map(
        ("2024-01-01 10:00:00.0", "srcA") -> ((2L, 0L)),
        ("2024-01-01 10:20:00.0", "srcA") -> ((4L, 693147180559L))),
        s"round 1: $live")
    } finally q1.stop()
    // replay from a fresh checkpoint: committed-batch markers → no new
    // store versions (the metrics-store upsert law)
    val vBefore = versions
    val ck2 = java.nio.file.Files.createTempDirectory("mixdrift_ck2_").toString
    val q2 = start(ck2)
    try {
      in.addData((ts("2024-01-01 10:01:00"), "srcA", "en"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(versions == vBefore,
      s"replayed batches must be marker no-ops: $vBefore -> $versions")
  }

  test("diversityGateSink: bucket cap admits the q_diversity_sample pick, budget advances, replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("div_gate_").toString
    val idxDir = s"$base/occ"; val outDir = s"$base/out"
    val e1 = Seq.fill(64)(0.5); val e2 = e1.map(-_)
    val in = MemoryStream[(Long, Seq[Double])]
    def start(ck: String) = graft.sources.IO.diversityGateSink(
        in.toDF().toDF("vec_id", "embedding"), idxDir, outDir, ck,
        "vec_id", "embedding", cap = 2)
      .trigger(Trigger.ProcessingTime(0)) // multi-batch in-test
      .start()
    def ids: Set[Long] =
      spark.read.parquet(outDir).select("vec_id").as[Long].collect().toSet
    // batch-fold PARITY: the gate's first batch over an empty index
    // must admit exactly the q_diversity_sample machinery's pick —
    // bottom-2 by md5 in the dense bucket, plus the outlier
    val b1 = Seq((10L, e1), (11L, e1), (12L, e1), (13L, e2))
    val expected1 = graft.operators.Sampling.diversityCapRanked(
        b1.toDF("vec_id", "embedding"), "vec_id", "embedding", 2)
      .select("vec_id").as[Long].collect().toSet
    assert(expected1.size == 3 && expected1.contains(13L),
      s"fixture: 2 of the dense region + the outlier: $expected1")
    val q = start(s"$base/ck1")
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(ids == expected1, s"batch-1 admissions: $ids vs $expected1")
      // batch 2: the dense bucket is AT cap (occupancy 2) → both its
      // rows reject; the outlier bucket has budget 1 left → admits
      in.addData((20L, e1), (21L, e1), (22L, e2))
      q.processAllAvailable()
      assert(ids == expected1 + 22L, s"batch-2 (index advanced): $ids")
      // batch 3: every bucket full — nothing admits
      in.addData((30L, e1), (31L, e2))
      q.processAllAvailable()
      assert(ids == expected1 + 22L, s"batch-3 (all at cap): $ids")
    } finally q.stop()
    // replay from a fresh checkpoint: markers make each batch a no-op
    val q2 = start(s"$base/ck2")
    try {
      in.addData((40L, e1))
      q2.processAllAvailable()
      assert(ids == expected1 + 22L, s"replayed: $ids")
    } finally q2.stop()
  }

  test("diversityGateSink: seeded membership index bills the existing corpus; takedown frees budget") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("div_seed_").toString
    val idxDir = s"$base/occ"; val outDir = s"$base/out"
    val e1 = Seq.fill(64)(0.5); val e2 = e1.map(-_)
    // cold-start seed: the existing corpus already fills region A's cap
    graft.operators.Sampling.writeBucketMembershipIndex(
      Seq((100L, e1), (101L, e1)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idxDir)
    val in = MemoryStream[(Long, Seq[Double])]
    def start() = graft.sources.IO.diversityGateSink(
        in.toDF().toDF("vec_id", "embedding"), idxDir, outDir,
        s"$base/ck", "vec_id", "embedding", cap = 2)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def ids: Set[Long] =
      spark.read.parquet(outDir).select("vec_id").as[Long].collect().toSet
    val q = start()
    try {
      // region A is pre-billed at cap → rejected; region B is fresh
      in.addData((10L, e1), (11L, e2))
      q.processAllAvailable()
      assert(ids == Set(11L), s"seeded gate admissions: $ids")
    } finally q.stop()
    // takedown one region-A corpus vector → its budget frees
    val touched = graft.operators.Sampling.deleteFromBucketMembershipIndex(
      Seq(100L).toDF("vec_id"), "vec_id", idxDir)
    assert(touched.nonEmpty, "takedown must touch the seeded bucket")
    val q2 = start() // same checkpoint: the stream resumes
    try {
      in.addData((20L, e1), (21L, e1))
      q2.processAllAvailable()
      // exactly ONE slot freed → the md5-first of {20, 21} admits
      val admitted = ids -- Set(11L)
      assert(admitted.size == 1 && Set(20L, 21L).exists(admitted.contains),
        s"freed budget must admit exactly one region-A arrival: $ids")
    } finally q2.stop()
  }

  test("diversityGateSink census: O(planes) occupancy state — pre-census index upgrades in place, torn swap recovers") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Sampling
    val base = java.nio.file.Files.createTempDirectory("div_census_").toString
    val idxDir = s"$base/occ"; val outDir = s"$base/out"
    val e1 = Seq.fill(64)(0.5); val e2 = e1.map(-_)
    Sampling.writeBucketMembershipIndex(
      Seq((100L, e1)).toDF("vec_id", "embedding"), "vec_id", "embedding",
      idxDir)
    // simulate a PRE-census index (an r16 seed): drop the sidecar
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idxDir/_census"), true)
    // the upgrade path: occupancy derives from the index (countDistinct)
    val derived = Sampling.readBucketOccupancy(spark, idxDir)
      .select("n_occ").as[Long].collect().toSeq
    assert(derived == Seq(1L), s"pre-census derivation: $derived")
    // an admitting batch judges against the derived census and then
    // MATERIALIZES the sidecar (advance = derived + delta)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.sources.IO.diversityGateSink(
        in.toDF().toDF("vec_id", "embedding"), idxDir, outDir,
        s"$base/ck", "vec_id", "embedding", cap = 2)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((10L, e1), (11L, e2))
      q.processAllAvailable()
      val ids = spark.read.parquet(outDir)
        .select("vec_id").as[Long].collect().toSet
      assert(ids == Set(10L, 11L), s"upgrade-batch admissions: $ids")
      assert(new java.io.File(s"$idxDir/_census").exists,
        "admitting batch must materialize the census")
      val occ = Sampling.readBucketOccupancy(spark, idxDir)
        .select("n_occ").as[Long].collect().sorted.toSeq
      assert(occ == Seq(1L, 2L), s"advanced census: $occ")
      // torn-batch duplicate index rows never inflate occupancy: append
      // a duplicate of vector 10's (bucket, id) row — the countDistinct
      // census semantics absorb it on the next rebuild
      val dup = spark.read.parquet(idxDir).limit(1)
      graft.sources.IO.alignToPartitions(
          dup.withColumn("__bucket",
            org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.xxhash64(col("bucket")),
              lit(64L))), "__bucket")
        .write.mode("append").partitionBy("__bucket").parquet(idxDir)
      Sampling.writeBucketCensus(spark, idxDir)
      val occDup = Sampling.readBucketOccupancy(spark, idxDir)
        .select("n_occ").as[Long].collect().sorted.toSeq
      assert(occDup == Seq(1L, 2L),
        s"duplicate rows must not inflate the census: $occDup")
      // torn swap: current census lost mid-rename → _bak recovers
      fs.rename(new org.apache.hadoop.fs.Path(s"$idxDir/_census"),
        new org.apache.hadoop.fs.Path(s"$idxDir/_census_bak"))
      val recovered = Sampling.readBucketOccupancy(spark, idxDir)
        .select("n_occ").as[Long].collect().sorted.toSeq
      assert(recovered == Seq(1L, 2L), s"bak recovery: $recovered")
    } finally q.stop()
  }

  // ---- the composed live ingest chain (VERDICT r16 #1/#2) ------------

  // shared chain fixture: one doc per stage outcome + a diversity
  // competition. runB is 40 tokens so the 20-token lift in doc 32 clears
  // the winnow gate but not the near-dup bar.
  private val chainRunA = (1 to 40).map(i => s"a$i").mkString(" ")
  private val chainRunB = (100 to 139).map(i => s"b$i").mkString(" ")
  private val chainLeak = "alpha beta gamma delta epsilon"
  private val chainE1 = Seq.fill(64)(0.5)
  private val chainE2 = chainE1.map(-_)
  private def chainDocs = Seq(
    (1L, chainRunA + " end1", None),
    (2L, chainRunA + " end1", None), // exact dup of 1
    (3L, chainRunA + " end3", None), // near dup of 1
    (10L, chainRunB + " tail", None),
    (32L, (100 to 119).map(i => s"b$i").mkString(" ") + " " +
      (1 to 22).map(i => s"w$i").mkString(" "), None), // winnow lift of 10
    (20L, chainLeak + " " + (300 to 330).map(i => s"z$i").mkString(" "),
      None), // contaminated
    (40L, "", None), // token-less → quality reject
    (50L, (500 to 540).map(i => s"c$i").mkString(" "), Some(chainE1)),
    (51L, (600 to 640).map(i => s"d$i").mkString(" "), Some(chainE1)),
    (52L, (700 to 740).map(i => s"e$i").mkString(" "), Some(chainE1)),
    (53L, (800 to 840).map(i => s"f$i").mkString(" "), Some(chainE2)))
    .toDF("doc_id", "text", "embedding")
  private def chainProbe = Seq(
    (900L, chainLeak + " probe suffix tokens padding"))
    .toDF("doc_id", "text")
  private def chainCfg(base: String) = graft.operators.ChainConfig(
    "doc_id", "text",
    fpIndexDir = s"$base/fp", bandIndexDir = s"$base/band",
    nearDupThreshold = 0.5,
    winnowIndexDir = Some(s"$base/win"),
    probeDir = Some(s"$base/probe"),
    lmDir = Some(s"$base/lm"),
    qualityThresholdPicoPerToken = -10000000000000L, // -1e13/token: below any
    // achievable mean log-ratio, and thr*n_tokens stays far from overflow
    embCol = Some("embedding"),
    diversityIndexDir = Some(s"$base/div"), diversityCap = 2)
  private def seedChainInputs(base: String): Unit = {
    chainProbe.write.parquet(s"$base/probe")
    graft.operators.Sampling.dsirLm(
        chainDocs.withColumn("__t", col("doc_id") % 2 === 0), "text",
        col("__t"))
      .write.parquet(s"$base/lm")
  }

  test("composedIngestSink: single-batch stream == buildCorpus (survivors AND every seeded artifact); ledger + decisions account every doc") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.{CorpusBuild, Sampling}
    val base = java.nio.file.Files.createTempDirectory("chain_par_").toString
    seedChainInputs(base)
    val docs = chainDocs
    // the batch oracle: the SAME corpus through buildCorpus with the
    // same stages (fixture avoids the documented decon/diversity
    // order divergence: contaminated docs are unembedded)
    val bb = s"$base/batch"
    CorpusBuild.buildCorpus(docs.drop("embedding"), chainProbe,
      "doc_id", "text", "text", "doc_id",
      s"$bb/fp", s"$bb/band", s"$bb/shards",
      nearDupThreshold = 0.5,
      winnowIndexDir = Some(s"$bb/win"),
      qualityLm = Some(spark.read.parquet(s"$base/lm")),
      qualityThresholdPico = -10000000000000L,
      diversityEmb = Some(docs.filter(col("embedding").isNotNull)
        .select("doc_id", "embedding")),
      diversityCap = 2, diversityIndexDir = Some(s"$bb/div"))
    val expected = spark.read.parquet(s"$bb/shards")
      .select("doc_id").as[Long].collect().toSet
    // one micro-batch through the chain
    val in = MemoryStream[(Long, String, Option[Seq[Double]])]
    in.addData(docs.as[(Long, String, Option[Seq[Double]])].collect(): _*)
    val q = graft.sources.IO.composedIngestSink(
        in.toDF().toDF("doc_id", "text", "embedding"),
        s"$base/out", s"$base/ck", chainCfg(base))
      .start()
    q.processAllAvailable(); q.stop()
    val shipped = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().toSet
    assert(shipped == expected, s"chain $shipped != buildCorpus $expected")
    assert(expected.size == 5 && Set(1L, 10L, 53L).subsetOf(expected),
      s"fixture sanity: $expected")
    // every seeded artifact equal (index == the batch build's)
    def fps(d: String) = spark.read.parquet(d)
      .select("fp").as[String].collect().toSet
    assert(fps(s"$base/fp") == fps(s"$bb/fp"), "fp index differs")
    def bandIds(d: String) = spark.read.parquet(s"$d/docs")
      .select("id").as[Long].collect().toSet
    assert(bandIds(s"$base/band") == bandIds(s"$bb/band"),
      "band index differs")
    def winIds(d: String) = spark.read.parquet(s"$d/fps")
      .select("id").distinct().as[Long].collect().toSet
    assert(winIds(s"$base/win") == winIds(s"$bb/win"),
      "winnow index differs")
    def divIds(d: String) = spark.read.parquet(d)
      .select("id").as[Long].collect().toSet
    assert(divIds(s"$base/div") == divIds(s"$bb/div"),
      "bucket membership differs")
    val occ = Sampling.readBucketOccupancy(spark, s"$base/div")
      .select("n_occ").as[Long].collect().sorted.toSeq
    assert(occ == Seq(1L, 2L), s"chain census: $occ")
    // the decisions audit names every input doc's dropping stage
    val outcomes = spark.read.parquet(s"$base/out/_decisions")
      .select("id", "outcome").as[(Long, String)].collect().toMap
    assert(outcomes.size == 11, s"every doc decided: ${outcomes.size}")
    assert(outcomes(2L) == "exact_dup" && outcomes(3L) == "near_dup" &&
      outcomes(32L) == "winnow_dup" && outcomes(20L) == "decontaminated" &&
      outcomes(40L) == "quality", s"outcomes: $outcomes")
    assert(outcomes.count(_._2 == "diversity") == 1,
      s"one dense-bucket doc over cap: $outcomes")
    // the ledger row is the buildCorpus cascade at batch grain
    val led = spark.read.parquet(s"$base/out/_ledger")
      .select("raw", "after_exact", "after_near_dup", "after_winnow",
        "after_decontaminate", "after_quality", "admitted")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(led == Seq((11L, 10L, 9L, 8L, 7L, 6L, 5L)), s"ledger: $led")
  }

  test("composedIngestSink: multi-batch — every gate holds across batches, replay is a no-op, per-batch ledger") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("chain_mb_").toString
    seedChainInputs(base)
    val in = MemoryStream[(Long, String, Option[Seq[Double]])]
    def start(ck: String) = graft.sources.IO.composedIngestSink(
        in.toDF().toDF("doc_id", "text", "embedding"),
        s"$base/out", ck, chainCfg(base))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def shipped: Set[Long] = spark.read.parquet(s"$base/out")
      .select("doc_id").as[Long].collect().toSet
    val q = start(s"$base/ck1")
    try {
      in.addData((1L, chainRunA + " end1", None),
        (50L, (500 to 540).map(i => s"c$i").mkString(" "),
          Some(chainE1): Option[Seq[Double]]),
        (51L, (600 to 640).map(i => s"d$i").mkString(" "), Some(chainE1)))
      q.processAllAvailable()
      assert(shipped == Set(1L, 50L, 51L), s"batch 1: $shipped")
      // batch 2: one hit per gate — exact copy of 1, near-dup of 1,
      // winnow lift of 1, contaminated, dense-bucket arrival (at cap),
      // and one fresh admit
      in.addData(
        (101L, chainRunA + " end1", None), // exact dup of indexed 1
        (102L, chainRunA + " endX", None), // near dup of indexed 1
        (103L, (1 to 20).map(i => s"a$i").mkString(" ") + " " +
          (1 to 22).map(i => s"y$i").mkString(" "), None), // winnow lift
        (104L, chainLeak + " " +
          (400 to 430).map(i => s"q$i").mkString(" "), None),
        (105L, (900 to 940).map(i => s"g$i").mkString(" "),
          Some(chainE1)), // dense bucket AT cap from batch 1
        (106L, (950 to 990).map(i => s"h$i").mkString(" "), None))
      q.processAllAvailable()
      assert(shipped == Set(1L, 50L, 51L, 106L), s"batch 2: $shipped")
      val outcomes = spark.read.parquet(s"$base/out/_decisions")
        .filter(col("id") >= 100L)
        .select("id", "outcome").as[(Long, String)].collect().toMap
      assert(outcomes == Map(101L -> "exact_dup", 102L -> "near_dup",
        103L -> "winnow_dup", 104L -> "decontaminated",
        105L -> "diversity", 106L -> "admitted"), s"batch-2: $outcomes")
      // one ledger row per batch
      val led = spark.read.parquet(s"$base/out/_ledger")
        .select("__batch", "raw", "admitted")
        .as[(Int, Long, Long)].collect().toSet
      assert(led == Set((0, 3L, 3L), (1, 6L, 1L)), s"ledger rows: $led")
    } finally q.stop()
    // restart on the SAME checkpoint (the crash/restart shape): the
    // stream resumes — new data processes as the next batch
    val q2 = start(s"$base/ck1")
    try {
      in.addData((200L, (995 to 1035).map(i => s"k$i").mkString(" "), None))
      q2.processAllAvailable()
      assert(shipped == Set(1L, 50L, 51L, 106L, 200L), s"resumed: $shipped")
    } finally q2.stop()
    // full redelivery (a FRESH checkpoint re-batches everything as
    // batch 0): the committed-batch markers make it a no-op — corpus
    // and ledger unchanged, no duplicate rows anywhere
    val ledgerBefore = spark.read.parquet(s"$base/out/_ledger").count()
    val q3 = start(s"$base/ck2")
    try {
      q3.processAllAvailable()
      assert(shipped == Set(1L, 50L, 51L, 106L, 200L), s"replayed: $shipped")
      assert(spark.read.parquet(s"$base/out/_ledger").count() == ledgerBefore,
        "redelivered batches must not write ledger rows")
    } finally q3.stop()
  }

  test("composedIngestSink crash recovery: the WAL is the ONE commit point — mid-apply crashes replay to the clean-run state") {
    import graft.operators.{ChainConfig, Checkpoints, CorpusBuild, Dedup, Sampling}
    val root = java.nio.file.Files.createTempDirectory("chain_crash_")
      .toString
    val batch = chainDocs.localCheckpoint(true)
    // clean twin: decide + one full apply — the oracle state
    val twin = s"$root/twin"; seedChainInputs(twin)
    val twinDecisions = Checkpoints.scoped(spark)(pins =>
      CorpusBuild.chainDecide(batch, chainCfg(twin), pins).localCheckpoint(true))
    CorpusBuild.chainApply(batch, twinDecisions, s"$twin/out",
      chainCfg(twin), 0L, isReplay = false)
    def state(base: String): (Set[Long], Set[String], Set[Long], Set[Long],
        Set[Long], Seq[Long], Long) = (
      spark.read.parquet(s"$base/out").select("doc_id")
        .as[Long].collect().toSet,
      spark.read.parquet(s"$base/fp").select("fp")
        .as[String].collect().toSet,
      spark.read.parquet(s"$base/band/docs").select("id")
        .as[Long].collect().toSet,
      spark.read.parquet(s"$base/win/fps").select("id").distinct()
        .as[Long].collect().toSet,
      spark.read.parquet(s"$base/div").select("id")
        .as[Long].collect().toSet,
      Sampling.readBucketOccupancy(spark, s"$base/div")
        .select("n_occ").as[Long].collect().sorted.toSeq,
      spark.read.parquet(s"$base/band/docs").count()) // dup-row witness
    // crash window 1: WAL committed, fp index advanced, CRASH — the
    // VERDICT #2 hazard window (corpus has nothing yet, fp has content)
    val c1 = s"$root/c1"; seedChainInputs(c1)
    val d1 = Checkpoints.scoped(spark)(pins =>
      CorpusBuild.chainDecide(batch, chainCfg(c1), pins).localCheckpoint(true))
    d1.write.mode("overwrite").parquet(s"$c1/out/_decisions/__batch=0")
    Dedup.writeFingerprintIndex(
      batch.join(d1.filter(col("outcome") =!= "exact_dup")
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi"),
      "text", s"$c1/fp")
    // ... the hazard, demonstrated: recomputing decisions NOW (against
    // the half-advanced state) would drop EVERYTHING at the fp gate —
    // the WAL is what makes the replay converge instead
    val drifted = Checkpoints.scoped(spark)(pins =>
      CorpusBuild.chainDecide(batch, chainCfg(c1), pins)
        .filter(col("outcome") === "exact_dup").count())
    assert(drifted == batch.count(),
      s"hazard sanity: post-advance recompute self-matches all: $drifted")
    // the replay path: re-apply FROM the WAL
    CorpusBuild.chainApply(batch,
      spark.read.parquet(s"$c1/out/_decisions/__batch=0"), s"$c1/out",
      chainCfg(c1), 0L, isReplay = true)
    assert(state(c1) == state(twin), "crash window 1 must recover")
    // crash window 2: EVERYTHING applied, crash before the marker —
    // the replay must not duplicate a single index row
    val c2 = s"$root/c2"; seedChainInputs(c2)
    val d2 = Checkpoints.scoped(spark)(pins =>
      CorpusBuild.chainDecide(batch, chainCfg(c2), pins).localCheckpoint(true))
    d2.write.mode("overwrite").parquet(s"$c2/out/_decisions/__batch=0")
    CorpusBuild.chainApply(batch,
      spark.read.parquet(s"$c2/out/_decisions/__batch=0"), s"$c2/out",
      chainCfg(c2), 0L, isReplay = false)
    CorpusBuild.chainApply(batch,
      spark.read.parquet(s"$c2/out/_decisions/__batch=0"), s"$c2/out",
      chainCfg(c2), 0L, isReplay = true)
    assert(state(c2) == state(twin), "crash window 2 must not duplicate")
  }

  test("composedIngestSink: the WAL pins decisions — a probe grown mid-crash cannot rewrite a batch's excisions on replay") {
    import graft.operators.{Checkpoints, CorpusBuild}
    val root = java.nio.file.Files.createTempDirectory("chain_wal_")
      .toString
    val base = s"$root/b"; seedChainInputs(base)
    val cfg = chainCfg(base).copy(decontaminateSpans = true,
      embCol = None, diversityIndexDir = None, lmDir = None)
    val batch = chainDocs.drop("embedding").localCheckpoint(true)
    val d = Checkpoints.scoped(spark)(pins =>
      CorpusBuild.chainDecide(batch, cfg, pins).localCheckpoint(true))
    d.write.mode("overwrite").parquet(s"$base/out/_decisions/__batch=0")
    // span mode: the contaminated doc 20 ships EXCISED, not dropped
    val shipText = d.filter(col("id") === 20L)
      .select("outcome", "ship_text").as[(String, String)].head()
    assert(shipText._1 == "admitted" &&
      shipText._2 == (300 to 330).map(i => s"z$i").mkString(" "),
      s"span mode excises the leak: $shipText")
    // the benchmark GROWS before the crash replay — the WAL's excision
    // must ship, not a re-derived one
    Seq((901L, (300 to 310).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(s"$base/probe")
    // (a decide against the grown probe WOULD excise more — the gate
    // tightened for the future; measured BEFORE any apply advances the
    // indexes, which would shadow this at the fp gate)
    val fresh = Checkpoints.scoped(spark)(pins =>
      CorpusBuild.chainDecide(batch, cfg, pins)
        .filter(col("id") === 20L).select("ship_text").as[String].head())
    assert(fresh == (311 to 330).map(i => s"z$i").mkString(" "),
      s"grown probe tightens future batches: $fresh")
    CorpusBuild.chainApply(batch,
      spark.read.parquet(s"$base/out/_decisions/__batch=0"), s"$base/out",
      cfg, 0L, isReplay = true)
    val shipped = spark.read.parquet(s"$base/out")
      .filter(col("doc_id") === 20L).select("text").as[String].head()
    assert(shipped == shipText._2,
      s"replay must ship the WAL's text, got: $shipped")
  }

  // each DataFrame becomes one file of a file stream read one file per
  // micro-batch, in order; `sink` runs until the files are drained
  private def runBatches(batches: org.apache.spark.sql.DataFrame*)(
      sink: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
      : Unit = {
    val in = java.nio.file.Files.createTempDirectory("batches_").toString + "/in"
    batches.foreach(_.coalesce(1).write.mode("append").parquet(in))
    val q = sink(spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("a chain stage decides like its standalone sink: winnow, span, quality, diversity") {
    import graft.sources.IO
    val root = java.nio.file.Files.createTempDirectory("chain_vs_sink_").toString
    // no exact or near duplicates: the chain's fixed stages pass every doc
    val docs = chainDocs.filter(!col("doc_id").isin(2L, 3L)).localCheckpoint(true)
    val text = docs.drop("embedding")
    def rows(dir: String): Map[Long, String] = spark.read.parquet(dir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    def ids(dir: String): Set[Long] = spark.read.parquet(dir)
      .select("doc_id").as[Long].collect().toSet
    // one batch through the chain with only `stage` on
    def chain(stage: String): Map[Long, String] = {
      val base = s"$root/chain_$stage"; seedChainInputs(base)
      val all = chainCfg(base).copy(qualityThresholdPicoPerToken = 0L)
      val off = all.copy(winnowIndexDir = None, probeDir = None,
        lmDir = None, embCol = None, diversityIndexDir = None)
      val cfg = stage match {
        case "winnow" => off.copy(winnowIndexDir = all.winnowIndexDir)
        case "span" => off.copy(probeDir = all.probeDir, decontaminateSpans = true)
        case "quality" => off.copy(lmDir = all.lmDir)
        case "diversity" => off.copy(embCol = all.embCol,
          diversityIndexDir = all.diversityIndexDir)
      }
      runBatches(docs)(IO.composedIngestSink(_, s"$base/out", s"$base/ck", cfg))
      rows(s"$base/out")
    }
    val sk = s"$root/sink"; seedChainInputs(sk)
    val docIds = docs.select("doc_id").as[Long].collect().toSet
    // winnow: doc 32 lifts 20 tokens of doc 10
    runBatches(text)(IO.winnowIngestSink(_, s"$sk/win", s"$sk/win_out",
      s"$sk/win_flag", s"$sk/win_ck", "doc_id", "text"))
    val winnow = chain("winnow").keySet
    assert(winnow == ids(s"$sk/win_out") && winnow == docIds - 32L,
      s"winnow: chain $winnow, sink ${ids(s"$sk/win_out")}")
    // span: doc 20's leaked run is excised, the rest ships verbatim
    runBatches(text)(IO.decontaminateSpanSink(_, s"$sk/probe", s"$sk/span_out",
      s"$sk/span_audit", s"$sk/span_ck", "doc_id", "text"))
    val span = chain("span")
    assert(span == rows(s"$sk/span_out"),
      s"span: chain $span, sink ${rows(s"$sk/span_out")}")
    assert(span(20L) == (300 to 330).map(i => s"z$i").mkString(" "),
      s"span fixture excises doc 20: ${span(20L)}")
    // quality at threshold 0: the token-less doc and off-target docs drop
    runBatches(text)(IO.dsirGateSink(_, s"$sk/lm", s"$sk/q_out", s"$sk/q_audit",
      s"$sk/q_ck", "doc_id", "text", thresholdPicoPerToken = 0L))
    val quality = chain("quality").keySet
    assert(quality == ids(s"$sk/q_out") && !quality.contains(40L) &&
      quality.nonEmpty, s"quality: chain $quality, sink ${ids(s"$sk/q_out")}")
    // diversity at cap 2: three docs share one bucket; the sink ranks
    // the vectors it is given, the chain the embedded docs and passes
    // the rest
    val vecs = docs.filter(col("embedding").isNotNull).select("doc_id", "embedding")
    runBatches(vecs)(IO.diversityGateSink(_, s"$sk/div", s"$sk/div_out",
      s"$sk/div_ck", "doc_id", "embedding", cap = 2))
    val embedded = vecs.select("doc_id").as[Long].collect().toSet
    val diversity = chain("diversity").keySet
    assert((diversity & embedded) == ids(s"$sk/div_out") &&
      diversity -- embedded == docIds -- embedded &&
      (embedded -- diversity).size == 1,
      s"diversity: chain $diversity, sink ${ids(s"$sk/div_out")}")
  }

  test("the composed chain and the gate sinks release every per-batch pin") {
    import graft.sources.IO
    val root = java.nio.file.Files.createTempDirectory("gate_pins_").toString
    seedChainInputs(root) // its LM training pin predates every count
    val docs = chainDocs.localCheckpoint(true)
    val (first, second) = (docs.filter(col("doc_id") < 30L),
      docs.filter(col("doc_id") >= 30L))
    val (t1, t2) = (first.drop("embedding"), second.drop("embedding"))
    def vecs(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("embedding").isNotNull).select("doc_id", "embedding")
    // two micro-batches per sink; every checkpoint RDD a batch pinned
    // must be unregistered once the batch is done
    def leftPinned(name: String)(run: => Unit): Seq[String] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run
      spark.sparkContext.getPersistentRDDs.toSeq
        .filter { case (id, _) => !before(id) }
        .map { case (_, rdd) => s"$name: $rdd" }
    }
    val left = Seq(
      leftPinned("composedIngestSink")(runBatches(first, second)(
        IO.composedIngestSink(_, s"$root/c_out", s"$root/c_ck", chainCfg(root)))),
      leftPinned("winnowIngestSink")(runBatches(t1, t2)(IO.winnowIngestSink(_,
        s"$root/w_idx", s"$root/w_out", s"$root/w_flag", s"$root/w_ck",
        "doc_id", "text"))),
      leftPinned("decontaminateSpanSink")(runBatches(t1, t2)(
        IO.decontaminateSpanSink(_, s"$root/probe", s"$root/s_out",
          s"$root/s_audit", s"$root/s_ck", "doc_id", "text"))),
      leftPinned("dsirGateSink")(runBatches(t1, t2)(IO.dsirGateSink(_,
        s"$root/lm", s"$root/q_out", s"$root/q_audit", s"$root/q_ck",
        "doc_id", "text", thresholdPicoPerToken = 0L))),
      leftPinned("diversityGateSink")(runBatches(
        vecs(docs.filter(col("doc_id") < 52L)), vecs(docs.filter(col("doc_id") >= 52L)))(
        IO.diversityGateSink(_, s"$root/d_idx", s"$root/d_out", s"$root/d_ck",
          "doc_id", "embedding", cap = 2))),
      leftPinned("decontaminateIngestSink")(runBatches(t1, t2)(
        IO.decontaminateIngestSink(_, s"$root/probe", s"$root/x_out",
          s"$root/x_quar", s"$root/x_ck", "doc_id", "text"))),
      leftPinned("nearDupDedupSink")(runBatches(t1, t2)(IO.nearDupDedupSink(_,
        s"$root/n_idx", s"$root/n_out", s"$root/n_ck", "doc_id", "text", 0.5)))
    ).flatten
    assert(left.isEmpty, left.mkString("checkpoint RDDs left registered:\n", "\n", ""))
    // the runs did their work: both batches shipped through every sink
    assert(spark.read.parquet(s"$root/c_out/_ledger").count() == 2L)
  }

  test("the per-window folds never pin their input: the caller's one pin is the only one") {
    import graft.streaming.Jobs
    val (w1, w2) = (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"))
    val hist = Seq((w1, 3.0, 1L, 0L), (w1, 1.0, 1L, 0L), (w1, 2.0, 1L, 1L),
      (w2, 5.0, 1L, 0L), (w2, 1.0, 0L, 1L))
      .toDF("window_start", "score", "pos", "neg")
    val grams = Seq((w1, 7L, 1L, 2L), (w1, 7L, 2L, 1L), (w2, 9L, 3L, 4L))
      .toDF("window_start", "sh", "doc_id", "n_pos")
    val langs = Seq((w1, "srcA", "en", 1L), (w1, "srcA", "de", 1L),
      (w2, "srcB", "fr", 2L)).toDF("window_start", "source", "lang", "n_sl")
    val baseline = Seq(("en", 5L, 10L), ("de", 5L, 10L))
      .toDF("lang", "n_l", "n_total")
    val buckets = Seq((w1, 0L, 3L), (w1, 1L, 1L), (w2, 0L, 2L))
      .toDF("window_start", "bucket", "n_b")
    val folds: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "aucPerWindow" -> (() => Jobs.aucPerWindow(hist)),
      "apPerWindow" -> (() => Jobs.apPerWindow(hist)),
      "prCurvePerWindow" -> (() => Jobs.prCurvePerWindow(hist)),
      "liftPerWindow" -> (() => Jobs.liftPerWindow(hist)),
      "boilerplateMassPerWindow" -> (() => Jobs.boilerplateMassPerWindow(grams, 2L)),
      "mixDriftPerWindow" -> (() => Jobs.mixDriftPerWindow(langs, baseline)),
      "bucketEntropyPerWindow" -> (() => Jobs.bucketEntropyPerWindow(buckets)),
      "spectralDriftPerWindow" -> (() =>
        Jobs.spectralDriftPerWindow(buckets, Map(0L -> 1L, 1L -> 1L), 2L)))
    val pinned = folds.flatMap { case (name, fold) =>
      val before = spark.sparkContext.getPersistentRDDs
      val rows = fold().collect()
      assert(rows.nonEmpty, s"$name folded no window")
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before.keySet
      if (left.isEmpty) None else Some(s"$name: ${left.size}")
    }
    assert(pinned.isEmpty, pinned.mkString("folds that pinned their input: ", ", ", ""))
  }

  test("the audit sinks whose folds pin their batch release those pins, replay included") {
    import graft.sources.IO
    val root = java.nio.file.Files.createTempDirectory("audit_pins_").toString
    Seq(("en", 5L, 10L), ("de", 5L, 10L)).toDF("lang", "n_l", "n_total")
      .write.parquet(s"$root/baseline")
    graft.operators.Spectral.writeDirection(
      graft.sources.Tables.embeddings(spark, sfDir), "embedding", s"$root/pc1")
    val (w1, w2) = (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00"))
    // finalized window rows, one window per micro-batch
    val hist = Seq((w1, 3.0, 1L, 0L), (w1, 1.0, 1L, 0L), (w1, 2.0, 1L, 1L),
      (w1, 4.0, 0L, 1L), (w2, 5.0, 1L, 0L), (w2, 1.0, 0L, 1L))
      .toDF("window_start", "score", "pos", "neg")
    val langs = Seq((w1, "srcA", "en", 1L), (w1, "srcA", "de", 1L),
      (w2, "srcA", "en", 4L), (w2, "srcB", "fr", 2L))
      .toDF("window_start", "source", "lang", "n_sl")
    val buckets = Seq((w1, "srcA", 0L, 3L), (w1, "srcA", 1L, 1L),
      (w2, "srcA", 0L, 2L), (w2, "srcB", 5L, 2L))
      .toDF("window_start", "source", "bucket", "n_b")
    def perWindow(df: org.apache.spark.sql.DataFrame) =
      Seq(df.filter(col("window_start") === w1),
        df.filter(col("window_start") === w2))
    // two micro-batches, then a replay of both from a fresh checkpoint
    // (marker-skipped); every checkpoint RDD the runs pinned must be
    // unregistered once they are done
    def leftPinned(name: String, batches: Seq[org.apache.spark.sql.DataFrame])(
        sink: (org.apache.spark.sql.DataFrame, String) =>
          org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
        : Seq[String] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      for (run <- Seq("ck", "replay_ck"))
        runBatches(batches: _*)(sink(_, s"$root/$name/$run"))
      assert(IO.snapshotVersions(spark, s"$root/$name/store").nonEmpty,
        s"$name committed no store version")
      spark.sparkContext.getPersistentRDDs.toSeq
        .filter { case (id, _) => !before(id) }
        .map { case (_, rdd) => s"$name: $rdd" }
    }
    val left = Seq(
      leftPinned("metrics", perWindow(hist))((df, ck) =>
        IO.windowedMetricsStoreSink(df, s"$root/metrics/store", ck)),
      leftPinned("mixdrift", perWindow(langs))((df, ck) =>
        IO.mixDriftAuditSink(df, s"$root/baseline", s"$root/mixdrift/store", ck)),
      leftPinned("diversity", perWindow(buckets.drop("source")))((df, ck) =>
        IO.diversityAuditSink(df, s"$root/diversity/store", ck)),
      leftPinned("bysource", perWindow(buckets))((df, ck) =>
        IO.diversityBySourceAuditSink(df, s"$root/bysource/store", ck)),
      leftPinned("spectral", perWindow(buckets.drop("source")))((df, ck) =>
        IO.spectralDriftAuditSink(df, s"$root/pc1", s"$root/spectral/store", ck))
    ).flatten
    assert(left.isEmpty, left.mkString("checkpoint RDDs left registered:\n", "\n", ""))
  }

  test("windowedBucketCounts + bucketEntropyPerWindow: parity with q_bucket_entropy; concentration alarm") {
    // PARITY LAW (the mixDriftPerWindow convention): the fold over the
    // REAL embeddings table — one window — must reproduce the
    // registered batch id's single census row exactly: the entropy term
    // is the literal same float expression, pico-quantized per term.
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val w0 = ts("2024-01-01 10:00:00")
    val rel = emb
      .select(graft.operators.Sampling.diversityBucket(col("embedding"))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_b"))
      .select(lit(w0).as("window_start"), col("bucket"), col("n_b"))
    val live = graft.streaming.Jobs.bucketEntropyPerWindow(rel)
      .select("n_vecs", "n_buckets", "entropy_pico", "max_bucket",
        "min_bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val batch = Queries.q_bucket_entropy(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(live == batch,
      s"streaming entropy fold diverged from q_bucket_entropy: $live vs $batch")

    // LIVE GOLDEN: a one-region window reads entropy 0, an evenly split
    // window reads 2·floor(½·ln2·1e12) — finalized on watermark advance
    val e1 = Seq.fill(64)(0.5); val e2 = e1.map(-_)
    val in = MemoryStream[(Timestamp, Seq[Double])]
    val winRel = graft.streaming.Jobs.windowedBucketCounts(
      in.toDF().toDF("ts", "embedding"), "ts", "embedding",
      "10 minutes", "5 minutes")
    val name = nextName()
    val q = winRel.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 10:01:00"), e1), (ts("2024-01-01 10:02:00"), e1),
        (ts("2024-01-01 10:03:00"), e1), (ts("2024-01-01 10:04:00"), e1),
        (ts("2024-01-01 10:21:00"), e1), (ts("2024-01-01 10:22:00"), e1),
        (ts("2024-01-01 10:23:00"), e2), (ts("2024-01-01 10:24:00"), e2))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 10:41:00"), e1))
      q.processAllAvailable()
      val out = graft.streaming.Jobs
        .bucketEntropyPerWindow(spark.table(name))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(out("2024-01-01 10:00:00.0") == ((4L, 1L, 0L)),
        s"concentrated window must read zero entropy: $out")
      val half = math.floor(0.5 * math.log(2.0) * 1e12).toLong
      assert(out("2024-01-01 10:20:00.0") == ((4L, 2L, 2L * half)),
        s"even split must read 2·floor(½ln2·1e12): $out")
    } finally q.stop()
  }

  test("bucketEntropyBySourcePerWindow: rollup parity + by-source audit store, replay no-op") {
    // ROLLUP-PARITY LAW (the noveltyBySourcePerWindow convention): a
    // batch restricted to ONE source must reproduce the per-window fold
    // exactly — same pico term, same integer addition
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val w0 = ts("2024-01-01 10:00:00")
    val rel = emb
      .select(graft.operators.Sampling.diversityBucket(col("embedding"))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_b"))
      .select(lit(w0).as("window_start"), lit("srcA").as("source"),
        col("bucket"), col("n_b"))
    val bySrc = graft.streaming.Jobs.bucketEntropyBySourcePerWindow(rel)
      .select("n_vecs", "n_buckets", "entropy_pico", "max_bucket",
        "min_bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val perWindow = graft.streaming.Jobs.bucketEntropyPerWindow(
        rel.drop("source"))
      .select("n_vecs", "n_buckets", "entropy_pico", "max_bucket",
        "min_bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(bySrc == perWindow,
      s"single-source by-source fold must equal the window fold: $bySrc vs $perWindow")

    // live sink golden: srcA pools in one region (entropy 0), srcB
    // splits evenly — each lands its own versioned (window, source) row
    val e1 = Seq.fill(64)(0.5); val e2 = e1.map(-_)
    val in = MemoryStream[(Timestamp, String, Seq[Double])]
    val hist = graft.streaming.Jobs.windowedBucketCountsBySource(
      in.toDF().toDF("ts", "source", "embedding"), "ts", "source",
      "embedding", "10 minutes", "5 minutes")
    val root = java.nio.file.Files.createTempDirectory("divsrc_").toString
    val base = s"$root/store"
    def start(ck: String) = graft.sources.IO
      .diversityBySourceAuditSink(hist, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live: Map[(String, String), (Long, Long, Long)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, versions.last,
          graft.sources.IO.DiversityBySourceAuditSchema))
        .collect().map(r => (r.getTimestamp(1).toString, r.getString(2)) ->
          ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val ck1 = java.nio.file.Files.createTempDirectory("divsrc_ck1_").toString
    val q1 = start(ck1)
    try {
      in.addData(
        (ts("2024-01-01 10:01:00"), "srcA", e1),
        (ts("2024-01-01 10:02:00"), "srcA", e1),
        (ts("2024-01-01 10:03:00"), "srcB", e1),
        (ts("2024-01-01 10:04:00"), "srcB", e2),
        (ts("2024-01-01 10:41:00"), "srcA", e1))
      q1.processAllAvailable()
      val half = math.floor(0.5 * math.log(2.0) * 1e12).toLong
      assert(live == Map(
        ("2024-01-01 10:00:00.0", "srcA") -> ((2L, 1L, 0L)),
        ("2024-01-01 10:00:00.0", "srcB") -> ((2L, 2L, 2L * half))),
        s"round 1: $live")
    } finally q1.stop()
    // replay from a fresh checkpoint: marker no-ops
    val vBefore = versions
    val ck2 = java.nio.file.Files.createTempDirectory("divsrc_ck2_").toString
    val q2 = start(ck2)
    try {
      in.addData((ts("2024-01-01 10:01:00"), "srcA", e1))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(versions == vBefore,
      s"replayed batches must be marker no-ops: $vBefore -> $versions")
  }

  test("diversityAuditSink: per-window entropy census lands versioned, replay is a no-op") {
    val e1 = Seq.fill(64)(0.5); val e2 = e1.map(-_)
    val in = MemoryStream[(Timestamp, Seq[Double])]
    val hist = graft.streaming.Jobs.windowedBucketCounts(
      in.toDF().toDF("ts", "embedding"), "ts", "embedding",
      "10 minutes", "5 minutes")
    val root = java.nio.file.Files.createTempDirectory("divaudit_").toString
    val base = s"$root/store"
    def start(ck: String) = graft.sources.IO
      .diversityAuditSink(hist, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live: Map[String, (Long, Long, Long)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, versions.last, graft.sources.IO.DiversityAuditSchema))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ck1 = java.nio.file.Files.createTempDirectory("divaudit_ck1_").toString
    val q1 = start(ck1)
    try {
      // w1: pooled in one region (entropy 0); w2: even 2-bucket split
      in.addData(
        (ts("2024-01-01 10:01:00"), e1), (ts("2024-01-01 10:02:00"), e1),
        (ts("2024-01-01 10:03:00"), e1),
        (ts("2024-01-01 10:21:00"), e1), (ts("2024-01-01 10:22:00"), e2),
        (ts("2024-01-01 10:41:00"), e1))
      q1.processAllAvailable()
      val half = math.floor(0.5 * math.log(2.0) * 1e12).toLong
      assert(live == Map(
        "2024-01-01 10:00:00.0" -> ((3L, 1L, 0L)),
        "2024-01-01 10:20:00.0" -> ((2L, 2L, 2L * half))),
        s"round 1: $live")
    } finally q1.stop()
    // replay from a fresh checkpoint: committed-batch markers → no new
    // store versions (the metrics-store upsert law)
    val vBefore = versions
    val ck2 = java.nio.file.Files.createTempDirectory("divaudit_ck2_").toString
    val q2 = start(ck2)
    try {
      in.addData((ts("2024-01-01 10:01:00"), e1))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(versions == vBefore,
      s"replayed batches must be marker no-ops: $vBefore -> $versions")
  }

  test("spectralDriftAuditSink: self-window reads 0 drift, axis-shifted window bills TV exactly, replay is a no-op") {
    import graft.operators.Spectral
    val root = java.nio.file.Files.createTempDirectory("specdrift_").toString
    val art = s"$root/pc1"; val base = s"$root/store"
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    Spectral.writeDirection(emb, "embedding", art)
    val (m, v, _, width, ref, refN) = Spectral.readDirection(spark, art)
    // float→double is exact, so the stream's double vectors quantize to
    // the artifact corpus's exact integer grid
    val vecs = emb.select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble))
    val in = MemoryStream[(Timestamp, Seq[Double])]
    val hist = graft.streaming.Jobs.windowedProjBuckets(
      in.toDF().toDF("ts", "embedding"), "ts", "embedding",
      m, v, width, "10 minutes", "5 minutes")
    def start(ck: String) = graft.sources.IO
      .spectralDriftAuditSink(hist, art, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live: Map[String, (Long, Long, Long)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, versions.last,
          graft.sources.IO.SpectralDriftAuditSchema))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ck1 = java.nio.file.Files
      .createTempDirectory("specdrift_ck1_").toString
    val q1 = start(ck1)
    try {
      // w1: the reference corpus itself (drift must read EXACTLY 0);
      // w2: every vector SHIFTED along the fitted axis (+0.8·v/1000 per
      // coordinate — the one direction the monitor must see); a mirror
      // would NOT do: the cloud is near-symmetric about its mean, so
      // negation reproduces almost the same histogram (measured 58k
      // ppm). The 10:41 row only pushes the watermark.
      val shifted = vecs.map(e =>
        e.indices.map(j => e(j) + 0.8 * (v(j) / 1000.0)).toSeq)
      in.addData(vecs.toSeq.map(e => (ts("2024-01-01 10:01:00"), e)) ++
        shifted.toSeq.map(e => (ts("2024-01-01 10:21:00"), e)) :+
        ((ts("2024-01-01 10:41:00"), vecs.head)))
      q1.processAllAvailable()
      // driver replay of the shifted window's histogram and TV bill
      def tdiv(a: Long, b: Long): Long = if (a >= 0) a / b else -((-a) / b)
      val h2 = shifted.map { e =>
        val q = e.map(x => math.floor(x * 256.0).toLong)
        tdiv(q.indices.map(j => (q(j) - m(j)) * v(j)).sum, width)
      }.groupBy(identity).map { case (b, g) => b -> g.length.toLong }
      val expTv = Spectral.tvDriftPpm(h2, vecs.length.toLong, ref, refN)
      assert(expTv > 200000L,
        s"the axis-shifted corpus must drift heavily, got $expTv ppm")
      val got = live
      assert(got("2024-01-01 10:00:00.0") ==
        ((refN, ref.size.toLong, 0L)), s"w1 (self): $got")
      assert(got("2024-01-01 10:20:00.0") ==
        ((vecs.length.toLong, h2.size.toLong, expTv)), s"w2 (shift): $got")
    } finally q1.stop()
    // replay from a fresh checkpoint: committed-batch markers → no new
    // store versions (the metrics-store upsert law)
    val vBefore = versions
    val ck2 = java.nio.file.Files
      .createTempDirectory("specdrift_ck2_").toString
    val q2 = start(ck2)
    try {
      in.addData((ts("2024-01-01 10:01:00"), vecs.head))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(versions == vBefore,
      s"replayed batches must be marker no-ops: $vBefore -> $versions")
  }

  test("noveltyBySourceAuditSink: source attribution across windows, " +
       "index advance, replay is a no-op") {
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val hist = graft.streaming.Jobs.windowedGramSourceDocFreq(
      in.toDF().toDF("ts", "doc_id", "source", "text"),
      "ts", "doc_id", "source", "text", "10 minutes", "5 minutes")
    val root = java.nio.file.Files.createTempDirectory("novsrc_").toString
    val base = s"$root/store"; val idxDir = s"$root/grams"
    def start(ck: String) = graft.sources.IO
      .noveltyBySourceAuditSink(hist, idxDir, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live: Map[(String, String), (Long, Long, Long)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, versions.last,
          graft.sources.IO.NoveltyBySourceAuditSchema))
        .collect().map(r => (r.getTimestamp(1).toString, r.getString(2)) ->
          ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val ck1 = java.nio.file.Files.createTempDirectory("novsrc_ck1_").toString
    val q1 = start(ck1)
    try {
      // w1, one micro-batch: gram "a b c" spans sources A (doc 1) and
      // B (doc 2) — novelty must go to A alone (min doc id), the batch
      // id's attribution. A also owns "b c d"; B owns "b c e".
      // w2: source B re-sends "a b c d" — all grams first seen in w1.
      in.addData(
        (ts("2024-01-01 10:01:00"), 1L, "A", "a b c d"),
        (ts("2024-01-01 10:02:00"), 2L, "B", "a b c e"),
        (ts("2024-01-01 10:21:00"), 3L, "B", "a b c d"),
        (ts("2024-01-01 10:41:00"), 4L, "A", "wm push"))
      q1.processAllAvailable()
      assert(live == Map(
        ("2024-01-01 10:00:00.0", "A") -> ((2L, 2L, 1000000L)),
        ("2024-01-01 10:00:00.0", "B") -> ((2L, 1L, 500000L)),
        ("2024-01-01 10:20:00.0", "B") -> ((2L, 0L, 0L))), s"round 1: $live")
      // 4 distinct grams persisted: "a b c","b c d","b c e" @w1 (w2's
      // grams are w1-known) ... a b c/b c d from w1; nothing new in w2
      val idx1 = spark.read.parquet(idxDir)
        .collect().map(r => r.getLong(0) -> r.getTimestamp(1).toString)
      assert(idx1.length == 3 &&
        idx1.forall(_._2 == "2024-01-01 10:00:00.0"),
        s"first-seen stamps: ${idx1.toSeq}")
      // round 2 gates against the PERSISTED index: source C's "a b c e"
      // is fully known → 0 novel; its "p q r s" grams are fully novel
      in.addData(
        (ts("2024-01-01 11:01:00"), 5L, "C", "a b c e"),
        (ts("2024-01-01 11:02:00"), 6L, "C", "p q r s"),
        (ts("2024-01-01 11:41:00"), 7L, "A", "wm push"))
      q1.processAllAvailable()
      assert(live.get(("2024-01-01 11:00:00.0", "C"))
        .contains((4L, 2L, 500000L)), s"round 2: $live")
      assert(spark.read.parquet(idxDir).count() == 5L,
        "round-2 append must add exactly the 2 novel grams")
    } finally q1.stop()
    // conservation across the store's whole history: Σ n_novel over
    // every (window, source) == the persisted gram universe
    assert(live.values.map(_._2).sum == 5L)
    // replay from a fresh checkpoint: committed-batch markers → no new
    // versions, no index growth (the metrics-store upsert law)
    val vBefore = versions
    val ck2 = java.nio.file.Files.createTempDirectory("novsrc_ck2_").toString
    val q2 = start(ck2)
    try q2.processAllAvailable() finally q2.stop()
    assert(versions == vBefore, "replay must commit no new versions")
    assert(spark.read.parquet(idxDir).count() == 5L,
      "replay must not grow the gram index")
  }

  test("windowedFpCounts + dupRatePerWindow: single-window parity with the batch copy census") {
    // stream the REAL documents table (constant ts → one window, empty
    // index): the window's dup count must equal the batch exact-dedup
    // copy census Σ(n_copies − 1) — the q_auc parity convention
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("text").collect()
      .map(r => (ts("2024-01-01 10:01:00"), r.getString(0))).toSeq
    val in = MemoryStream[(Timestamp, String)]
    val rel = graft.streaming.Jobs.windowedFpCounts(
      in.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes")
    val name = nextName()
    val q = rel.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(docs)
      q.processAllAvailable()
      in.addData((ts("2024-01-01 11:01:00"), "wm push"))
      q.processAllAvailable()
    } finally q.stop()
    val hist = spark.table(name)
      .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      .localCheckpoint(true)
    val emptyKnown = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("first_window",
          org.apache.spark.sql.types.TimestampType))))
    val row = graft.streaming.Jobs.dupRatePerWindow(hist, emptyKnown).head()
    val census = graft.operators.Dedup
      .exactByContent(graft.sources.Tables.documents(spark, sfDir),
        "doc_id", "text")
      .agg(sum(col("n_copies")).as("n"),
        sum(col("n_copies") - 1L).as("d")).head()
    assert(row.getLong(1) == census.getLong(0),
      s"window doc count ${row.getLong(1)} != corpus ${census.getLong(0)}")
    assert(row.getLong(2) == census.getLong(1),
      s"window dup count ${row.getLong(2)} != copy census ${census.getLong(1)}")
    val expectPpm = spark.range(1)
      .select(graft.operators.Analytics.halfUpPpm(
        lit(census.getLong(1)), lit(census.getLong(0))).as("p"))
      .head().getLong(0)
    assert(row.getLong(3) == expectPpm)
  }

  test("dupRateAuditSink: earliest-window attribution, fp-index advance, replay is a no-op") {
    val in = MemoryStream[(Timestamp, String)]
    val hist = graft.streaming.Jobs.windowedFpCounts(
      in.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes")
    val root = java.nio.file.Files.createTempDirectory("duprate_").toString
    val base = s"$root/store"; val idxDir = s"$root/fps"
    def start(ck: String) = graft.sources.IO
      .dupRateAuditSink(hist, idxDir, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def versions: Seq[Long] = graft.sources.IO.snapshotVersions(spark, base)
    def live: Map[String, (Long, Long, Long)] =
      graft.streaming.Cdc.liveView(graft.sources.IO.readSnapshotVersion(
          spark, base, versions.last, graft.sources.IO.DupRateAuditSchema))
        .collect().map(r => r.getTimestamp(0).toString ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ck1 = java.nio.file.Files.createTempDirectory("duprate_ck1_").toString
    val q1 = start(ck1)
    try {
      // w1 and w2 finalize in ONE micro-batch: "alpha" in both windows
      // must attribute its canonical copy to w1 (intra-batch min-window),
      // making BOTH w2 copies duplicates
      in.addData(
        (ts("2024-01-01 10:01:00"), "alpha"),
        (ts("2024-01-01 10:02:00"), "alpha"),
        (ts("2024-01-01 10:03:00"), "beta"),
        (ts("2024-01-01 10:21:00"), "alpha"),
        (ts("2024-01-01 10:22:00"), "gamma"),
        (ts("2024-01-01 10:41:00"), "wm push"))
      q1.processAllAvailable()
      // w1: 3 docs, 1 dup (alpha×2); w2: 2 docs, 1 dup (alpha known)
      assert(live == Map(
        "2024-01-01 10:00:00.0" -> ((3L, 1L, 333333L)),
        "2024-01-01 10:20:00.0" -> ((2L, 1L, 500000L))), s"round 1: $live")
      val idx1 = spark.read.parquet(idxDir)
        .collect().map(r => r.getString(0) -> r.getTimestamp(1).toString)
      assert(idx1.length == 3, s"fp universe after round 1: ${idx1.length}")
      // round 2 finalizes the 10:40 "wm push" window too (1 doc, 0 dup,
      // its fp indexes) and gates 11:00 against the PERSISTED index:
      // "beta" is known (all copies dup), "delta" is fresh (one canonical)
      in.addData(
        (ts("2024-01-01 11:01:00"), "beta"),
        (ts("2024-01-01 11:02:00"), "delta"),
        (ts("2024-01-01 11:41:00"), "wm push"))
      q1.processAllAvailable()
      assert(live.get("2024-01-01 11:00:00.0")
        .contains((2L, 1L, 500000L)), s"round 2: $live")
      assert(spark.read.parquet(idxDir).count() == 5L,
        "round-2 append must add exactly the 1 novel fp")
    } finally q1.stop()
    // conservation: corpus docs − Σ n_dup == the persisted fp universe
    // (every fingerprint has exactly one canonical copy, ever)
    assert(live.values.map(v => v._1 - v._2).sum == 5L)
    // replay from a fresh checkpoint: committed-batch markers → no new
    // versions, no index growth
    val vBefore = versions
    val ck2 = java.nio.file.Files.createTempDirectory("duprate_ck2_").toString
    val q2 = start(ck2)
    try q2.processAllAvailable() finally q2.stop()
    assert(versions == vBefore, "replay must commit no new versions")
    assert(spark.read.parquet(idxDir).count() == 5L,
      "replay must not grow the fp index")
  }

  test("writeFpFirstSeenIndex: a sink started on a seeded index reads re-ingested content as duplicate") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("duprate_seed_").toString
    val base = s"$root/store"; val idxDir = s"$root/fps"
    graft.operators.Dedup.writeFpFirstSeenIndex(
      Seq("alpha", "beta").toDF("text"), "text", idxDir,
      ts("2024-01-01 09:00:00"), buckets = 8)
    assert(spark.read.parquet(idxDir).count() == 2L)
    val in = MemoryStream[(Timestamp, String)]
    val hist = graft.streaming.Jobs.windowedFpCounts(
      in.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes")
    val ck = java.nio.file.Files.createTempDirectory("duprate_seed_ck_").toString
    val q = graft.sources.IO.dupRateAuditSink(hist, idxDir, base, ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      in.addData(
        (ts("2024-01-01 10:01:00"), "alpha"), // seeded -> duplicate
        (ts("2024-01-01 10:02:00"), "fresh"), // novel -> canonical
        (ts("2024-01-01 10:41:00"), "wm push"))
      q.processAllAvailable()
    } finally q.stop()
    val v = graft.sources.IO.snapshotVersions(spark, base)
    val live = graft.streaming.Cdc.liveView(graft.sources.IO
        .readSnapshotVersion(spark, base, v.last,
          graft.sources.IO.DupRateAuditSchema))
      .collect().map(r => r.getTimestamp(0).toString ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(live == Map("2024-01-01 10:00:00.0" -> ((2L, 1L))), s"$live")
    // the append honored the seeded bucket sidecar and added only "fresh"
    assert(spark.read.parquet(idxDir).count() == 3L)
    assert(graft.sources.IO.readBucketCount(spark, idxDir).contains(8))
  }
}

/** Test-only "next release" of the funnel processor: the SAME state
  * variable name with a state class that ADDS `lastAdvanceMs` — the
  * schema-evolution scenario the restart test drives. Logic mirrors
  * [[graft.streaming.Processors.FunnelProcessor]] with the extra field
  * maintained. */
object FunnelEvolution {
  import org.apache.spark.sql.streaming._

  case class FunnelStateV2(reachedTs: Seq[Long], lastAdvanceMs: Option[Long])

  class FunnelProcessorV2(stages: Seq[String])
      extends StatefulProcessor[Long, Processors.FunnelEvent, Processors.FunnelOut] {
    @transient private var reached: ValueState[FunnelStateV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      reached = getHandle.getValueState[FunnelStateV2]("reached",
        org.apache.spark.sql.Encoders.product[FunnelStateV2], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Processors.FunnelEvent],
                                 timers: TimerValues): Iterator[Processors.FunnelOut] = {
      val prior = if (reached.exists()) reached.get()
                  else FunnelStateV2(Seq.fill(stages.size)(Long.MinValue), None)
      val ts = prior.reachedTs.toArray
      var last = prior.lastAdvanceMs
      val out = Vector.newBuilder[Processors.FunnelOut]
      var changed = false
      rows.toArray.sortBy(e => (e.tsMs, stages.indexOf(e.etype))).foreach { e =>
        val k = stages.indexOf(e.etype)
        if (k == 0 && ts(0) == Long.MinValue) {
          ts(0) = e.tsMs; changed = true; last = Some(e.tsMs)
          out += Processors.FunnelOut(key, 1, e.tsMs, completed = stages.size == 1)
        } else if (k > 0 && ts(k) == Long.MinValue &&
                   ts(k - 1) != Long.MinValue && e.tsMs >= ts(k - 1)) {
          ts(k) = e.tsMs; changed = true; last = Some(e.tsMs)
          out += Processors.FunnelOut(key, k + 1, e.tsMs,
            completed = k == stages.size - 1)
        }
      }
      if (changed) reached.update(FunnelStateV2(ts.toSeq, last))
      out.result().iterator
    }
  }
}
