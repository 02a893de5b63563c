package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Composed streaming jobs — end-to-end pipelines mirroring the
  * reference's job mains (SURVEY.md §3): each is a pure
  * stream-DataFrame → stream-DataFrame function, sink-agnostic, so the
  * same composition runs against Kafka on a cluster or MemoryStream in
  * tests.
  */
object Jobs {

  /** The one windowed-aggregate shape the window relations below end in
    * (Structured Streaming's watermark → `window()` → group → aggregate):
    * group `df` by the tumbling window of `ts` and `keys`, aggregate,
    * and lead the projection with the window's start as `window_start`
    * ahead of the builder's own `out` columns. The caller places the
    * watermark (it must stay upstream of the aggregate). State is keyed
    * by (window, keys); in append mode each row emits exactly once, when
    * the watermark passes the window end, and late rows drop. */
  private def windowAgg(df: DataFrame, ts: Column, windowDur: String,
                        keys: Seq[Column], aggs: Seq[Column])
                       (out: Column*): DataFrame =
    df.groupBy(window(ts, windowDur) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start") +: out: _*)

  /** The DWS traffic-keyword job (SURVEY.md §3.3, the reference's
    * signature composition): text events → tokenize (UDTF shape) →
    * watermarked tumbling window → per-window keyword counts.
    * Input schema: (ts timestamp, text string). Output: one row per
    * (window, word) with its count — the Doris-bound aggregate.
    */
  def keywordWindowCounts(textStream: DataFrame, tsCol: String,
                          textCol: String, windowDur: String,
                          watermarkDelay: String): DataFrame =
    windowAgg(textStream.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), explode(Text.tokens(col(textCol))).as("word")),
      col(tsCol), windowDur, Seq(col("word")), Seq(count(lit(1)).as("cnt")))(
      col("window.end").as("window_end"), col("word"), col("cnt"))

  /** The DWD log-split job (SURVEY.md §3.2 shape): dirty-JSON guard then
    * fan-out by payload type. Input: raw JSON strings with a `type` field
    * and epoch-millis `ts`. Returns the cleansed typed stream; route with
    * [[Streams.split]]. */
  def cleanseLogStream(raw: DataFrame, jsonCol: String = "value"): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType)))
    raw.select(from_json(col(jsonCol), schema).as("e"))
      .filter(col("e").isNotNull && col("e.type").isNotNull && col("e.ts").isNotNull)
      .select(col("e.type").as("type"),
        timestamp_millis(col("e.ts")).as("ts"), col("e.payload").as("payload"))
  }

  /** The DWS per-user spend job: watermarked window × user aggregate with
    * broadcast dim enrichment applied per micro-batch via foreachBatch
    * (use [[Streams.enrichWithDim]] in the sink). */
  def userWindowSpend(events: DataFrame, tsCol: String, userCol: String,
                      valueCol: String, windowDur: String,
                      watermarkDelay: String): DataFrame =
    windowAgg(events.withWatermark(tsCol, watermarkDelay), col(tsCol),
      windowDur, Seq(col(userCol)),
      Seq(sum(col(valueCol)).as("spend"), count(lit(1)).as("n_events")))(
      col(userCol), col("spend"), col("n_events"))

  /** The DWS hot-keys job: watermarked tumbling per-key counts. In
    * append mode each window's counts emit exactly once, when the
    * watermark passes its end — compose with [[topKPerWindow]] inside
    * the sink's `foreachBatch` for the ranked leaderboard (streaming
    * queries cannot run rank windows; the emitted micro-batch is a
    * finalized bounded batch, where one can). Output schema:
    * (window_start, key, cnt). */
  def hotKeysPerWindow(events: DataFrame, tsCol: String, keyCol: String,
                       windowDur: String, watermarkDelay: String): DataFrame =
    windowAgg(events.withWatermark(tsCol, watermarkDelay), col(tsCol),
      windowDur, Seq(col(keyCol)), Seq(count(lit(1)).as("cnt")))(
      col(keyCol).as("key"), col("cnt"))

  /** The DWS unique-visitors job: watermarked tumbling windows with an
    * APPROXIMATE distinct-user count (HyperLogLog++). The sketch merges
    * inside partial aggregation, so per-window state is O(sketch bytes),
    * not O(users) — the only distinct that survives 100 TB/day streams;
    * `rsd` trades sketch size against the ±error band. */
  def windowedUniques(events: DataFrame, tsCol: String, userCol: String,
                      windowDur: String, watermarkDelay: String,
                      rsd: Double = 0.05): DataFrame =
    windowAgg(events.withWatermark(tsCol, watermarkDelay), col(tsCol),
      windowDur, Nil,
      Seq(approx_count_distinct(col(userCol), rsd).as("approx_uniques"),
        count(lit(1)).as("n_events")))(
      col("approx_uniques"), col("n_events"))

  /** Chained two-level windowed aggregation (Spark ≥3.4 multiple
    * stateful operators): fine-grain tumbling counts roll up into a
    * coarse window IN THE SAME streaming query — the classic
    * 10s-preagg → 1min-rollup cascade the reference builds as two jobs
    * joined by a Kafka topic, collapsed to one query with two state
    * stores. `window_time` re-derives the event-time column from the
    * finalized fine window, so the coarse agg's watermark is exact.
    * Output: (window_start, key, cnt) at the coarse grain. */
  def chainedWindowRollup(events: DataFrame, tsCol: String, keyCol: String,
                          fineDur: String, coarseDur: String,
                          watermarkDelay: String): DataFrame =
    windowAgg(events
        .withWatermark(tsCol, watermarkDelay)
        .groupBy(window(col(tsCol), fineDur), col(keyCol))
        .agg(count(lit(1)).as("fine_cnt")),
      window_time(col("window")), coarseDur, Seq(col(keyCol)),
      Seq(sum(col("fine_cnt")).as("cnt")))(col(keyCol).as("key"), col("cnt"))

  /** Streaming twin of the batch graph pack's `q_graph_degree`
    * (SURVEY.md §2.K): per-window weighted degree over a trade-edge
    * stream — out-strength (weight the node emits as src), in-strength
    * (weight it receives as dst) and edge counts, per tumbling window.
    * The edge stream is symmetrized by a union of two projections of
    * the SAME watermarked stream before the windowed aggregate (both
    * branches carry the watermark, so append-mode finalize-once
    * semantics hold). State is (open windows × nodes)-sized — never
    * edge-sized — which is what survives an unbounded edge stream.
    * Output: (window_start, node, out_w, out_edges, in_w, in_edges). */
  def windowedDegree(edges: DataFrame, tsCol: String, srcCol: String,
                     dstCol: String, weightCol: String, windowDur: String,
                     watermarkDelay: String): DataFrame = {
    val wm = edges.withWatermark(tsCol, watermarkDelay)
    val outs = wm.select(col(tsCol).as("__ts"), col(srcCol).as("node"),
      col(weightCol).cast("double").as("out_w"), lit(1L).as("out_edges"),
      lit(0.0).as("in_w"), lit(0L).as("in_edges"))
    val ins = wm.select(col(tsCol).as("__ts"), col(dstCol).as("node"),
      lit(0.0).as("out_w"), lit(0L).as("out_edges"),
      col(weightCol).cast("double").as("in_w"), lit(1L).as("in_edges"))
    windowAgg(outs.union(ins), col("__ts"), windowDur, Seq(col("node")),
      Seq(round(sum(col("out_w")), 2).as("out_w"),
        sum(col("out_edges")).as("out_edges"),
        round(sum(col("in_w")), 2).as("in_w"),
        sum(col("in_edges")).as("in_edges")))(
      col("node"), col("out_w"), col("out_edges"), col("in_w"),
      col("in_edges"))
  }

  /** Per-window (score → class counts) histogram over a labeled event
    * stream — the streaming half of the grouped-AUC pipeline (the
    * eval-metric twin of [[windowedDegree]]'s graph story): watermarked
    * tumbling windows, one (window, score)-keyed conditional aggregate.
    * State is (open windows × score domain)-sized — the score domain is
    * bounded by construction (the at-scale AUC contract: continuous
    * scores get bucketed before this job), so state never grows with
    * the event rate. Append mode. `labelCol` is numeric, nonzero = positive; NULL labels are
    * FILTERED before the aggregate (an unlabeled event belongs to
    * neither class — dropping it keeps pos+neg equal to the counted
    * row population instead of silently understating both). Output:
    * (window_start, score, pos, neg) — feed finalized micro-batches to
    * [[aucPerWindow]]. */
  def windowedClassHistogram(events: DataFrame, tsCol: String,
                             scoreCol: String, labelCol: String,
                             windowDur: String,
                             watermarkDelay: String): DataFrame =
    windowAgg(events.filter(col(labelCol).isNotNull)
        .withWatermark(tsCol, watermarkDelay), col(tsCol), windowDur,
      Seq(col(scoreCol).as("score")),
      Seq(sum(when(col(labelCol) =!= 0, 1L).otherwise(0L)).as("pos"),
        sum(when(col(labelCol) === 0, 1L).otherwise(0L)).as("neg")))(
      col("score"), col("pos"), col("neg"))

  /** A finalized batch as a per-window fold reads it: one fresh
    * RDD-scan leaf over the same rows, so the fold's self-joins resolve
    * over any input (a memory sink's table is a single relation
    * instance, which a self-join cannot re-instance). The leaf re-reads
    * its input per consumer and never pins it: a caller that reads the
    * batch more than once pins it once (the audit sinks' batch pin). */
  private def rescanned(batch: DataFrame): DataFrame =
    batch.sparkSession.createDataFrame(batch.rdd, batch.schema)

  /** Per-window ROC-AUC over a FINALIZED [[windowedClassHistogram]]
    * micro-batch — [[graft.operators.Analytics.aucFromHistogram]] keyed
    * by window_start, so the streaming metric is BY CONSTRUCTION the
    * same fold as the batch q_auc registry id (StreamingSpec pins the
    * parity as a law). One-class windows are dropped (AUC undefined),
    * mirroring the batch filter. The fold reads the batch three times
    * and never pins it: a caller that re-reads it pins it once (the
    * audit sinks' batch pin). */
  def aucPerWindow(batch: DataFrame): DataFrame =
    graft.operators.Analytics.aucFromHistogram(
      rescanned(batch), Seq("window_start"))

  /** Per-window CALIBRATION over a FINALIZED [[windowedClassHistogram]]
    * micro-batch — the second metric the one histogram pays for:
    * [[graft.operators.Analytics.calibrationFromHistogram]] keyed by
    * window_start, so the streaming reliability diagram is BY
    * CONSTRUCTION the q_calibration fold (StreamingSpec parity law).
    * Bins follow the batch contract (p̂ = score/50, width-5 bins
    * clamped at 9) unless overridden. The single histogram-sized
    * aggregate scans the batch once — no pin needed. */
  def calibrationPerWindow(batch: DataFrame, binWidth: Long = 5L,
                           maxBin: Long = 9L,
                           scoreMax: Long = 50L): DataFrame =
    graft.operators.Analytics.calibrationFromHistogram(
      batch, Seq("window_start"), binWidth, maxBin, scoreMax)

  /** Per-window ISOTONIC calibration over a FINALIZED
    * [[windowedClassHistogram]] micro-batch — the PAV fold keyed by
    * window_start: every finalized window yields a fresh monotone
    * calibration map (one histogram-sized aggregate, scanned once). */
  def isotonicPerWindow(batch: DataFrame): DataFrame =
    graft.operators.Analytics.isotonicFromHistogram(
      batch, Seq("window_start"))

  /** Per-window PRECISION/RECALL sweep over a FINALIZED
    * [[windowedClassHistogram]] micro-batch — the q_pr_curve fold keyed
    * by window_start (the sweep self-joins the histogram three times;
    * the caller pins, as for [[aucPerWindow]]). Completes the eval pack's batch/stream
    * symmetry: AUC, calibration, PR and AP all ride the ONE histogram
    * both modes share (StreamingSpec parity laws). */
  def prCurvePerWindow(batch: DataFrame): DataFrame =
    graft.operators.Analytics.prCurveFromHistogram(
      rescanned(batch), Seq("window_start"))

  /** Per-window LIFT / cumulative-gains sweep over a FINALIZED
    * [[windowedClassHistogram]] micro-batch — the q_lift_curve fold
    * keyed by window_start (read three times; the caller pins). */
  def liftPerWindow(batch: DataFrame): DataFrame =
    graft.operators.Analytics.liftFromHistogram(
      rescanned(batch), Seq("window_start"))

  /** Per-window AVERAGE PRECISION over a FINALIZED
    * [[windowedClassHistogram]] micro-batch — the q_avg_precision fold
    * keyed by window_start (read three times; the caller pins). */
  def apPerWindow(batch: DataFrame): DataFrame =
    graft.operators.Analytics.avgPrecisionFromHistogram(
      rescanned(batch), Seq("window_start"))

  /** Per-window top-k over a FINALIZED [[hotKeysPerWindow]] micro-batch:
    * a rank window partitioned by window_start (each partition is one
    * window's key set — bounded, scale-safe; ties break on the key for
    * determinism). */
  def topKPerWindow(batch: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(desc("cnt"), col("key"))
    batch.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Per-window benchmark-contamination histogram — the streaming half
    * of the corpus-audit monitoring pair (VERDICT r13 #5, the
    * [[windowedClassHistogram]] convention): per watermarked tumbling
    * window of document arrivals, the total distinct-per-doc 5-gram
    * shingle count and how many of those shingles hit the PROBE
    * (benchmark) set. The probe is STATIC and benchmark-sized — its
    * distinct shingles broadcast into a stream-static left join ahead
    * of the windowed aggregate (the q_contamination_frac plan, window-
    * keyed instead of doc-keyed), so state is open-windows-sized, two
    * longs each. Append mode; feed finalized micro-batches to
    * [[contaminationFracPerWindow]]. */
  def windowedShingleHits(docs: DataFrame, tsCol: String, textCol: String,
                          probe: DataFrame, probeTextCol: String,
                          windowDur: String,
                          watermarkDelay: String): DataFrame = {
    val probeSh = probe
      .select(explode(graft.operators.Dedup.shingleSet(5)(
        Text.tokens(col(probeTextCol)))).as("sh"))
      .distinct().withColumn("__hit", lit(1))
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol),
          explode(graft.operators.Dedup.shingleSet(5)(
            Text.tokens(col(textCol)))).as("sh"))
        .join(broadcast(probeSh), Seq("sh"), "left"),
      col(tsCol), windowDur, Nil,
      Seq(count(lit(1)).as("n_shingles"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_hit")))(
      col("n_shingles"), col("n_hit"))
  }

  /** Per-window contamination fraction over a FINALIZED
    * [[windowedShingleHits]] micro-batch — the live-ingest monitoring
    * twin of the batch `q_contamination_frac` id: the SAME literal
    * exact HALF_UP ppm fold ([[graft.operators.Analytics.halfUpPpm]] —
    * parity by construction, the q_auc convention), keyed by
    * window_start instead of doc_id. A spike says the ingest just
    * swallowed benchmark-contaminated content and the decontaminate
    * gate needs its probe set refreshed. */
  def contaminationFracPerWindow(batch: DataFrame): DataFrame =
    batch.withColumn("contam_ppm",
      graft.operators.Analytics.halfUpPpm(col("n_hit"), col("n_shingles")))
      .select("window_start", "n_shingles", "n_hit", "contam_ppm")

  /** Per-window positional 8-gram doc-frequency relation — the
    * streaming half of the boilerplate-mass monitor: per watermarked
    * tumbling window, one finalized row per (window, gram-hash, doc)
    * carrying that doc's position count for the gram (the
    * `q_boilerplate` windows relation, window-scoped). State is
    * (open windows × per-window distinct (gram, doc))-sized — bounded
    * by window CONTENT like [[windowedDegree]]'s node-keyed state, not
    * by stream lifetime; grams use the same xxhash64 8-byte keying as
    * the batch id (documented collision acceptance there). Append mode;
    * feed finalized micro-batches to [[boilerplateMassPerWindow]]. */
  def windowedGramDocCounts(docs: DataFrame, tsCol: String, idCol: String,
                            textCol: String, windowDur: String,
                            watermarkDelay: String): DataFrame =
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), col(idCol).as("doc_id"),
          explode(graft.operators.Dedup.shingleList(8)(
            Text.tokens(col(textCol)))).as("sh_str"))
        .select(col(tsCol), col("doc_id"), xxhash64(col("sh_str")).as("sh")),
      col(tsCol), windowDur, Seq(col("sh"), col("doc_id")),
      Seq(count(lit(1)).as("n_pos")))(col("sh"), col("doc_id"), col("n_pos"))

  /** Per-window BOILERPLATE MASS over a FINALIZED
    * [[windowedGramDocCounts]] micro-batch — the live twin of the batch
    * `q_boilerplate` id with the doc-frequency census scoped to the
    * window: grams appearing in ≥ `minDf` distinct docs WITHIN the
    * window are boilerplate, and the window's row reports total
    * positions, boilerplate positions, and the SAME literal HALF_UP ppm
    * fold ([[graft.operators.Analytics.halfUpPpm]]). The df census and
    * the mass fold read the batch twice; the caller pins. A rising boiler_ppm says the crawl just hit a
    * template farm. */
  def boilerplateMassPerWindow(batch: DataFrame,
                               minDf: Long = 4L): DataFrame = {
    val p = rescanned(batch)
    val hot = p.groupBy("window_start", "sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("window_start", "sh").withColumn("__hot", lit(1))
    p.join(hot, Seq("window_start", "sh"), "left")
      .groupBy("window_start")
      .agg(sum(col("n_pos")).as("n_windows"),
        sum(when(col("__hot").isNotNull, col("n_pos")).otherwise(0L))
          .as("n_boiler"))
      .withColumn("boiler_ppm",
        graft.operators.Analytics.halfUpPpm(col("n_boiler"),
          col("n_windows")))
      .select("window_start", "n_windows", "n_boiler", "boiler_ppm")
  }

  /** Per-window (token, count) relation — the streaming half of the
    * lexical-diversity monitor (the `q_ttr` twin, window-keyed instead
    * of source-keyed): per watermarked tumbling window, one finalized
    * row per (window, token) with its occurrence count. State is (open
    * windows × per-window vocabulary)-sized — window-content-bounded
    * like [[windowedGramDocCounts]], and vocabulary-bounded WITHIN the
    * window (Heaps' law, the q_ttr scale argument). Append mode; feed
    * finalized micro-batches to [[ttrPerWindow]]. */
  def windowedTokenCounts(docs: DataFrame, tsCol: String, textCol: String,
                          windowDur: String,
                          watermarkDelay: String): DataFrame =
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), explode(Text.tokens(col(textCol))).as("tok")),
      col(tsCol), windowDur, Seq(col("tok")), Seq(count(lit(1)).as("c")))(
      col("tok"), col("c"))

  /** Per-window TYPE-TOKEN RATIO and hapax share over a FINALIZED
    * [[windowedTokenCounts]] micro-batch — the live twin of the batch
    * `q_ttr` id, stage-for-stage (the same three exact-long aggregates
    * off the (window, token, count) relation, the same single IEEE
    * divisions, 6 dp): tokens, types, hapax legomena, ttr, hapax_frac
    * per window. The live reading of the q_ttr panel: a window whose
    * TTR collapses means the ingest just hit template spam; a hapax
    * spike means OCR noise — caught as the window closes, not at the
    * next corpus audit. */
  def ttrPerWindow(batch: DataFrame): DataFrame =
    batch.groupBy("window_start")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr", round(col("n_types").cast("double") /
        col("n_tokens").cast("double"), 6))
      .withColumn("hapax_frac", round(col("n_hapax").cast("double") /
        col("n_types").cast("double"), 6))

  /** Per-window doc-distinct 3-gram relation — the streaming half of
    * the NOVELTY monitor (the `q_ngram_novelty` twin): one finalized
    * row per (window, gram-hash) carrying how many of the window's docs
    * contain the gram ([[graft.operators.Dedup.shingleSet]] is per-doc
    * DISTINCT, so the count counts docs). `n_docs` summed per window is
    * exactly Σ per-doc distinct-gram counts — the batch id's `n_grams`
    * denominator. State is (open windows × per-window distinct grams)-
    * sized, bounded by window content like [[windowedGramDocCounts]];
    * grams ride the batch id's xxhash64 8-byte keys (collision
    * acceptance documented at
    * [[graft.operators.Dedup.ngramContainmentPairs]]). Append mode;
    * feed finalized micro-batches to [[noveltyPerWindow]]. */
  def windowedGramDocFreq(docs: DataFrame, tsCol: String, textCol: String,
                          windowDur: String,
                          watermarkDelay: String): DataFrame =
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol),
          explode(graft.operators.Dedup.shingleSet(3)(
            Text.tokens(col(textCol)))).as("sh_str"))
        .select(col(tsCol), xxhash64(col("sh_str")).as("sh")),
      col(tsCol), windowDur, Seq(col("sh")), Seq(count(lit(1)).as("n_docs")))(
      col("sh"), col("n_docs"))

  /** Per-window NOVELTY over a FINALIZED [[windowedGramDocFreq]]
    * micro-batch — the live twin of the batch `q_ngram_novelty` id with
    * first-occurrence attribution at window grain: a gram is novel in
    * the EARLIEST window that carries it across the batch ∪ the
    * persisted gram index (`knownGrams`: (sh, first_window) — pass an
    * empty relation for a cold start). Σ n_novel across all windows
    * ever emitted == the distinct gram universe (the batch id's
    * conservation law), and `novelty_ppm` is the SAME literal exact
    * HALF_UP fold ([[graft.operators.Analytics.halfUpPpm]] — parity by
    * construction, the q_auc convention) over the window sums. A
    * falling novelty_ppm says the crawl started re-reading itself —
    * the live form of the batch id's collapse localization. Attribution
    * is [[firstSeen]]'s, so a replayed batch reproduces its rows. */
  def noveltyPerWindow(batch: DataFrame, knownGrams: DataFrame): DataFrame =
    firstSeen(batch, knownGrams, "sh")
      .groupBy("window_start")
      .agg(sum(col("n_docs")).as("n_grams"),
        sum(when(col("first_window") === col("window_start"), 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        graft.operators.Analytics.halfUpPpm(col("n_novel"), col("n_grams")))
      .select("window_start", "n_grams", "n_novel", "novelty_ppm")

  /** `batch` with each key's FIRST window attached as `first_window`:
    * the earliest window carrying the key across the batch ∪ the
    * persisted first-seen index `known` ((key, first_window); an empty
    * relation for a cold start) — the attribution the novelty, by-source
    * novelty and duplication-rate folds share.
    *
    * Replay stability: an indexed key whose `first_window` falls INSIDE
    * this batch (a torn replay of this batch's own index append) still
    * attributes to that window — decisions are a pure function of
    * min(first_window), so a replayed batch reproduces its original rows
    * even after its append landed. */
  private def firstSeen(batch: DataFrame, known: DataFrame,
                        key: String): DataFrame = {
    val first = batch.groupBy(key)
      .agg(min(col("window_start")).as("w_batch"))
      .join(known.select(col(key), col("first_window").as("w_idx")),
        Seq(key), "left")
      .select(col(key),
        when(col("w_idx").isNotNull && col("w_idx") <= col("w_batch"),
          col("w_idx")).otherwise(col("w_batch")).as("first_window"))
    batch.join(first, Seq(key))
  }

  /** Per-(window, source) doc-distinct 3-gram relation — the
    * source-attributed widening of [[windowedGramDocFreq]], feeding the
    * WHO half of the live novelty monitor (the `q_novelty_by_source`
    * twin, VERDICT r14 #4): one finalized row per (window, source,
    * gram-hash) carrying the doc count AND the window's smallest doc id
    * for the gram within that source — `min_doc` is what lets the fold
    * attribute a novel gram to exactly ONE source the way the batch id
    * does (min doc_id over the corpus), instead of double-counting it
    * into every source that carries it. State grows by the source
    * dimension only where a gram genuinely spans sources in one window;
    * it stays (open windows × window content)-bounded like the WHEN
    * relation. Append mode; feed finalized micro-batches to
    * [[noveltyBySourcePerWindow]]. */
  def windowedGramSourceDocFreq(docs: DataFrame, tsCol: String,
                                idCol: String, sourceCol: String,
                                textCol: String, windowDur: String,
                                watermarkDelay: String): DataFrame =
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), col(idCol).as("doc_id"),
          col(sourceCol).as("source"),
          explode(graft.operators.Dedup.shingleSet(3)(
            Text.tokens(col(textCol)))).as("sh_str"))
        .select(col(tsCol), col("doc_id"), col("source"),
          xxhash64(col("sh_str")).as("sh")),
      col(tsCol), windowDur, Seq(col("source"), col("sh")),
      Seq(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc")))(
      col("source"), col("sh"), col("n_docs"), col("min_doc"))

  /** Per-(window, source) NOVELTY over a FINALIZED
    * [[windowedGramSourceDocFreq]] micro-batch — the live twin of the
    * batch `q_novelty_by_source` id (the WHO to [[noveltyPerWindow]]'s
    * WHEN): a gram is novel in its EARLIEST window across the batch ∪
    * the persisted gram index, and WITHIN that window it belongs to the
    * source carrying its smallest doc id — exactly the batch id's
    * min-doc_id attribution, refined to window grain. `novelty_ppm` is
    * the SAME literal exact HALF_UP fold
    * ([[graft.operators.Analytics.halfUpPpm]] — parity by construction,
    * the q_auc convention) over the (window, source) sums.
    *
    * Laws (StreamingSpec): single-window parity — all docs in one
    * window against an empty index reproduces the batch id's (source,
    * n_grams, n_novel, novelty_ppm) rows exactly; rollup conservation —
    * summing rows over sources per window reproduces
    * [[noveltyPerWindow]]'s (n_grams, n_novel) (a gram is attributed to
    * exactly one source, so nothing is counted twice). The curation
    * lever is the batch id's, live: a source whose per-window novelty
    * collapses is re-crawling content other sources already contributed
    * — cut its mixture weight as the window closes, not at the next
    * corpus audit.
    *
    * Replay stability: decisions are a pure function of
    * min(first_window) ([[firstSeen]]) and min(min_doc), so a torn
    * replay (index append landed, marker didn't) reproduces its
    * original rows. */
  def noveltyBySourcePerWindow(batch: DataFrame,
                               knownGrams: DataFrame): DataFrame = {
    val attributed = firstSeen(batch, knownGrams, "sh")
    // the gram's owner inside its first window: the source with the
    // smallest doc id — ties impossible (doc ids are unique)
    val winners = attributed
      .filter(col("window_start") === col("first_window"))
      .groupBy("sh").agg(min(col("min_doc")).as("win_doc"))
    attributed.join(winners, Seq("sh"), "left")
      .groupBy("window_start", "source")
      .agg(sum(col("n_docs")).as("n_grams"),
        sum(when(col("first_window") === col("window_start") &&
          col("min_doc") === col("win_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ppm",
        graft.operators.Analytics.halfUpPpm(col("n_novel"), col("n_grams")))
      .select("window_start", "source", "n_grams", "n_novel", "novelty_ppm")
  }

  /** Per-window exact-content fingerprint counts — the raw relation of
    * the live DUPLICATION-RATE monitor (the fifth corpus-audit monitor
    * beside contamination, boilerplate, novelty and TTR): one finalized
    * row per (ingest window, md5 fingerprint) with its copy count. The
    * monitor watches a RAW stream — the exact-dedup ingest GATE decides
    * admission; this measures how much duplication is arriving, the
    * number that decides whether to turn the gate on. State is (open
    * windows × distinct window contents)-bounded. Append mode; feed
    * finalized micro-batches to [[dupRatePerWindow]]. */
  def windowedFpCounts(docs: DataFrame, tsCol: String, textCol: String,
                       windowDur: String,
                       watermarkDelay: String): DataFrame =
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), md5(col(textCol)).as("fp")),
      col(tsCol), windowDur, Seq(col("fp")), Seq(count(lit(1)).as("n_docs")))(
      col("fp"), col("n_docs"))

  /** Per-window exact-DUPLICATION rate over a FINALIZED
    * [[windowedFpCounts]] micro-batch — the live twin of the
    * [[graft.operators.Dedup.exactByContent]] copy census (and of
    * `q_dup_inflation`'s keep-first rule, window-attributed): a
    * fingerprint's CANONICAL copy lives in the EARLIEST window carrying
    * it across the batch ∪ the persisted first-seen fp index
    * (`knownFps`: (fp, first_window) — empty relation for a cold
    * start); in that window one copy is canonical and the remaining
    * `n_docs − 1` are duplicates, in every later window all copies
    * are. `dup_ppm` is the literal exact HALF_UP fold
    * ([[graft.operators.Analytics.halfUpPpm]] — the q_auc parity
    * convention). A rising dup_ppm curve is the "crawl looped back onto
    * itself" alarm at EXACT-copy granularity — cheaper and earlier than
    * the near-dup gate, which is why pipelines monitor it even with
    * gating off. Attribution is [[firstSeen]]'s, so a torn replayed
    * batch attributes each canonical copy as it did the first time. */
  def dupRatePerWindow(batch: DataFrame, knownFps: DataFrame): DataFrame =
    firstSeen(batch, knownFps, "fp")
      .groupBy("window_start")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(when(col("first_window") === col("window_start"),
          col("n_docs") - 1L).otherwise(col("n_docs"))).as("n_dup"))
      .withColumn("dup_ppm",
        graft.operators.Analytics.halfUpPpm(col("n_dup"), col("n_docs")))
      .select("window_start", "n_docs", "n_dup", "dup_ppm")

  /** Per-(window, source, lang) doc counts — the raw relation of the
    * live MIX-DRIFT monitor (the SIXTH corpus-audit monitor beside
    * contamination, boilerplate, novelty, TTR and exact-dup rate): one
    * finalized row per (window, source, lang) with its doc count. State
    * is (open windows × sources × langs)-bounded — DIMENSION-sized, the
    * smallest state of any monitor; no text is even read. Append mode;
    * feed finalized micro-batches to [[mixDriftPerWindow]]. */
  def windowedLangCounts(docs: DataFrame, tsCol: String, sourceCol: String,
                         langCol: String, windowDur: String,
                         watermarkDelay: String): DataFrame =
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), col(sourceCol).as("source"),
          col(langCol).as("lang")),
      col(tsCol), windowDur, Seq(col("source"), col("lang")),
      Seq(count(lit(1)).as("n_sl")))(col("source"), col("lang"), col("n_sl"))

  /** Per-(window, source) language-mix DRIFT over a FINALIZED
    * [[windowedLangCounts]] micro-batch — the live twin of the batch
    * `q_mix_drift` id: KL(p_window,source ‖ baseline) where `baseline`
    * is the REFERENCE language marginal the monitor guards — (lang,
    * n_l, n_total) longs, e.g. the trained corpus's mix (this is the
    * drift-monitor semantic: a FIXED reference, where the batch id
    * compares against the same corpus's own marginal — pass the
    * window's own marginal to recover the batch id exactly, the parity
    * law). The per-(window, source, lang) KL term is the batch id's
    * LITERAL float expression, pico-quantized per term, so the
    * per-(window, source) fold is exact integer addition — parity by
    * construction, the q_auc convention. A source whose per-window KL
    * jumps is flooding one language (a broken lang-ID upstream, a
    * crawler stuck in one wiki) — caught as the window closes, and the
    * mixture planner cuts its weight before the skew trains in.
    *
    * Langs OUTSIDE the baseline support are excluded from the KL fold
    * (q = 0 makes KL undefined) but NOT from the row: `n_unseen` counts
    * the window's docs in baseline-unseen languages, and a (window,
    * source) whose docs are ALL unseen still emits its row with
    * `kl_pico` null — the strongest possible drift (a wholly unseen
    * language flood) must land in the metrics store as its own alarm,
    * not vanish from the relation (ADVICE r15; the old inner join
    * dropped exactly those rows). `n_docs` is always the FULL window
    * fold, covered or not. */
  def mixDriftPerWindow(batch: DataFrame, baseline: DataFrame): DataFrame = {
    // read twice (the n_s fold and the term fold)
    val p = rescanned(batch)
    val ns = p.groupBy("window_start", "source")
      .agg(sum(col("n_sl")).as("n_s"))
    p.join(ns, Seq("window_start", "source"))
      .join(broadcast(baseline), Seq("lang"), "left")
      .withColumn("term_pico",
        when(col("n_l").isNotNull,
          floor((col("n_sl").cast("double") / col("n_s")) *
            log((col("n_sl").cast("double") / col("n_s")) /
              (col("n_l").cast("double") / col("n_total"))) * lit(1e12))
            .cast("long")))
      .groupBy("window_start", "source")
      .agg(max(col("n_s")).as("n_docs"),
        // sum skips the unseen-lang nulls: covered terms fold exactly as
        // before; a group with NO covered term reads null — the sentinel
        sum(col("term_pico")).as("kl_pico"),
        sum(when(col("n_l").isNull, col("n_sl")).otherwise(lit(0L)))
          .as("n_unseen"))
      .select("window_start", "source", "n_docs", "kl_pico", "n_unseen")
  }

  /** Per-(window, source) DSIR-weight sums — the raw relation of the
    * live QUALITY monitor (the SEVENTH corpus-audit monitor beside
    * contamination, boilerplate, novelty, TTR, exact-dup rate and
    * mix drift): tokens are bucketed and joined to the `lm` relation
    * (pass the [[graft.sources.Tables]]-read parquet of a persisted
    * [[graft.operators.Sampling.dsirLm]] — a STATIC side, re-planned
    * per micro-batch, so retraining the LM updates the monitor without
    * restart — the stream-static join convention) and the per-token
    * pico log-ratios fold into one (window, source) row of exact-long
    * sums. State is (open windows × sources)-bounded — dimension-sized
    * like the mix-drift monitor. Every fold is exact integer addition,
    * so streaming sums equal the batch fold by associativity (the
    * StreamingSpec parity law: Σ over the q_dsir_hashed per-doc
    * relation grouped by source == these token-level sums). Append
    * mode; feed finalized micro-batches to [[qualityPerWindow]]. */
  def windowedQualitySums(docs: DataFrame, tsCol: String,
                          sourceCol: String, textCol: String,
                          lm: DataFrame, windowDur: String,
                          watermarkDelay: String,
                          buckets: Int = 4096): DataFrame =
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), col(sourceCol).as("source"),
          explode(Text.tokens(col(textCol))).as("w"))
        .withColumn("b", pmod(
          graft.operators.Dedup.portableHash64(concat(lit("dsir:"), col("w"))),
          lit(buckets.toLong)))
        .join(broadcast(lm.select("b", "ratio_pico")), Seq("b")),
      col(tsCol), windowDur, Seq(col("source")),
      Seq(count(lit(1)).as("n_tokens"),
        sum(col("ratio_pico")).as("weight_pico")))(
      col("source"), col("n_tokens"), col("weight_pico"))

  /** Per-(window, source) QUALITY reading over a FINALIZED
    * [[windowedQualitySums]] micro-batch — the live twin of the batch
    * `q_dsir_hashed` audit rolled to source grain: token count, exact
    * weight sum, and the mean per-token log-ratio in picos
    * (integer-divided — exact, no float). A source whose mean collapses
    * below the gate threshold is shipping content the gate
    * ([[graft.sources.IO.dsirGateSink]]) is about to start rejecting —
    * the monitor reads the drift BEFORE the admission rate moves. */
  def qualityPerWindow(batch: DataFrame): DataFrame =
    batch.select(col("window_start"), col("source"), col("n_tokens"),
      col("weight_pico"),
      expr("weight_pico div n_tokens").as("mean_pico_per_token"))

  /** Per-(window, source) PAD-TOKEN sums — the raw relation of the live
    * pad-waste monitor (the streaming twin of the batch `q_pad_waste`
    * id, the one corpus-economics id whose window form was missing;
    * VERDICT r15 #7): per doc, the token count and the pad bill
    * `seqLen·max(ceil(n/seqLen), 1) − n` it would burn if padded to
    * sequence multiples instead of packed (token-less docs cost one
    * empty sequence — the batch id's rule verbatim), folded to exact
    * long sums per (window, source). State is (open windows ×
    * sources)-bounded — dimension-sized; all arithmetic exact integers,
    * so the streaming fold equals the batch fold by associativity.
    * Append mode; feed finalized micro-batches to
    * [[padWastePerWindow]]. */
  def windowedPadTokens(docs: DataFrame, tsCol: String, sourceCol: String,
                        textCol: String, windowDur: String,
                        watermarkDelay: String,
                        seqLen: Long = 512L): DataFrame =
    windowAgg(docs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), col(sourceCol).as("source"),
          Text.tokenCount(col(textCol)).as("n"))
        .withColumn("padded", // the q_pad_waste expression, verbatim
          expr(s"greatest((n + ${seqLen - 1}) div $seqLen, 1) * $seqLen")),
      col(tsCol), windowDur, Seq(col("source")),
      Seq(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        sum(col("padded") - col("n")).as("n_pad")))(
      col("source"), col("n_docs"), col("n_tokens"), col("n_pad"))

  /** Per-(window, source) PAD-WASTE reading over a FINALIZED
    * [[windowedPadTokens]] micro-batch — the live twin of the batch
    * `q_pad_waste` bill: the pad share of the padded stream as the
    * exact HALF_UP ppm ([[graft.operators.Analytics.halfUpPpm]] — the
    * q_auc parity convention). A source whose waste_ppm climbs is
    * shipping ever-shorter documents — the loader-economics drift the
    * packing pipeline wants to see before the utilization bill lands. */
  def padWastePerWindow(batch: DataFrame): DataFrame =
    batch.select(col("window_start"), col("source"), col("n_docs"),
      col("n_tokens"), col("n_pad"),
      graft.operators.Analytics.halfUpPpm(col("n_pad"),
        col("n_pad") + col("n_tokens")).as("waste_ppm"))

  /** Per-(window, semantic-bucket) vector counts — the raw relation of
    * the live DIVERSITY monitor (the EIGHTH corpus-audit monitor
    * beside contamination, boilerplate, novelty, TTR, exact-dup rate,
    * mix drift and quality; VERDICT r15 #2): each embedding lands in
    * its [[graft.operators.Sampling.diversityBucket]] integer-LSH
    * bucket — the exact `q_bucket_entropy` bucketing — and the window
    * holds one count per occupied bucket. State is (open windows ×
    * ≤ 2^planes buckets)-bounded — dimension-sized, no vector is
    * retained. Append mode; feed finalized micro-batches to
    * [[bucketEntropyPerWindow]]. */
  def windowedBucketCounts(vecs: DataFrame, tsCol: String, vecCol: String,
                           windowDur: String,
                           watermarkDelay: String): DataFrame =
    windowAgg(vecs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol),
          graft.operators.Sampling.diversityBucket(col(vecCol)).as("bucket")),
      col(tsCol), windowDur, Seq(col("bucket")), Seq(count(lit(1)).as("n_b")))(
      col("bucket"), col("n_b"))

  /** Per-(window, source, semantic-bucket) vector counts — the WHO twin
    * of [[windowedBucketCounts]] (the noveltyBySource convention: the
    * per-window census says the corpus is pooling, this says WHICH
    * source is doing the pooling). State is (open windows × sources ×
    * ≤ 2^planes buckets)-bounded — still dimension-sized. Append mode;
    * feed finalized micro-batches to [[bucketEntropyBySourcePerWindow]]. */
  def windowedBucketCountsBySource(vecs: DataFrame, tsCol: String,
                                   sourceCol: String, vecCol: String,
                                   windowDur: String,
                                   watermarkDelay: String): DataFrame =
    windowAgg(vecs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol), col(sourceCol).as("source"),
          graft.operators.Sampling.diversityBucket(col(vecCol)).as("bucket")),
      col(tsCol), windowDur, Seq(col("source"), col("bucket")),
      Seq(count(lit(1)).as("n_b")))(col("source"), col("bucket"), col("n_b"))

  /** Per-(window, source) semantic-diversity reading over a FINALIZED
    * [[windowedBucketCountsBySource]] micro-batch — the by-source twin
    * of [[bucketEntropyPerWindow]] (same pico-quantized
    * q_bucket_entropy term, folded within each source's own bucket
    * distribution): a source whose entropy collapses is a crawler stuck
    * in one semantic region — the mixture-weight lever, read per
    * window. Restricting the batch to ONE source reproduces the
    * per-window fold exactly (the rollup-parity law pinned in
    * StreamingSpec). */
  def bucketEntropyBySourcePerWindow(batch: DataFrame): DataFrame =
    entropyFold(batch, Seq("window_start", "source"))

  /** Per-window semantic-DIVERSITY reading over a FINALIZED
    * [[windowedBucketCounts]] micro-batch — the live twin of the batch
    * `q_bucket_entropy` census: Shannon entropy of the window's bucket
    * occupancy plus the occupancy extremes. The per-bucket entropy term
    * is the batch id's LITERAL float expression, pico-quantized per
    * term, so the per-window fold is exact integer addition — parity by
    * construction (the mixDriftPerWindow convention). A window whose
    * entropy falls (or whose max_bucket spikes) is pooling in one
    * semantic region — the reading that decides whether the
    * [[graft.sources.IO.diversityGateSink]] cap needs to bind, caught
    * as the window closes. */
  def bucketEntropyPerWindow(batch: DataFrame): DataFrame =
    entropyFold(batch, Seq("window_start"))

  /** The bucket-entropy fold both diversity readings share, per `keys`
    * group of a finalized (keys, bucket, n_b) batch: the group's vector
    * count, occupied buckets, pico-quantized Shannon entropy (the
    * q_bucket_entropy term, summed as exact longs) and occupancy
    * extremes. */
  private def entropyFold(batch: DataFrame, keys: Seq[String]): DataFrame = {
    // read twice (the total fold and the term fold)
    val p = rescanned(batch)
    val n = p.groupBy(keys.map(col): _*).agg(sum(col("n_b")).as("n"))
    p.join(n, keys)
      .withColumn("term_pico",
        floor((col("n_b").cast("double") / col("n")) * lit(-1.0) *
          log(col("n_b").cast("double") / col("n")) * lit(1e12))
          .cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(max("n").as("n_vecs"), count(lit(1)).as("n_buckets"),
        sum("term_pico").as("entropy_pico"),
        max("n_b").as("max_bucket"), min("n_b").as("min_bucket"))
      .select((keys ++ Seq("n_vecs", "n_buckets", "entropy_pico",
        "max_bucket", "min_bucket")).map(col): _*)
  }

  /** Per-(window, PC1-projection-bucket) vector counts against a FIXED
    * persisted direction ([[graft.operators.Spectral.writeDirection]]):
    * the spectral twin of [[windowedBucketCounts]] — the LSH census
    * asks "which semantic region", this asks "where along the
    * reference corpus's dominant axis". The direction enters the plan
    * as literal arrays (codegen constants — the artifact is immutable
    * by contract, so there is NO per-batch artifact read). State is
    * (open windows × occupied buckets)-bounded. Append mode; feed
    * finalized micro-batches to [[spectralDriftPerWindow]]. */
  def windowedProjBuckets(vecs: DataFrame, tsCol: String, vecCol: String,
                          m: Array[Long], v: Array[Long], bucketWidth: Long,
                          windowDur: String,
                          watermarkDelay: String): DataFrame =
    windowAgg(vecs.withWatermark(tsCol, watermarkDelay)
        .select(col(tsCol),
          graft.operators.Spectral.quantCol(vecCol).as("__qa"))
        .select(col(tsCol),
          graft.operators.Spectral.projectionCol("__qa", m, v).as("__proj"))
        .select(col(tsCol),
          graft.operators.Spectral.bucketCol("__proj", bucketWidth)
            .as("bucket")),
      col(tsCol), windowDur, Seq(col("bucket")), Seq(count(lit(1)).as("n_b")))(
      col("bucket"), col("n_b"))

  /** Per-window spectral drift reading over a FINALIZED
    * [[windowedProjBuckets]] micro-batch: vector count, occupied
    * buckets, extremes, and the total-variation distance (ppm, the
    * [[graft.operators.Spectral.tvDriftPpm]] arithmetic spelled in
    * integer SQL) between the window's projection distribution and the
    * artifact's reference histogram. A rising tv_ppm curve says the
    * incoming corpus is sliding along (or off) the reference corpus's
    * dominant axis — embedding drift caught at window grain, BEFORE an
    * IVF index or a semantic dedup gate quietly degrades. `ref` is the
    * artifact's occupied-bucket histogram (bounded, broadcast as a
    * literal relation); `refN` its vector count (> 0 by construction —
    * an empty fit writes no artifact). */
  def spectralDriftPerWindow(batch: DataFrame, ref: Map[Long, Long],
                             refN: Long): DataFrame = {
    require(refN > 0, "spectralDriftPerWindow: empty reference histogram")
    val sess = batch.sparkSession
    import sess.implicits._
    // read twice (total fold + per-bucket ppm fold)
    val p = rescanned(batch)
    val totals = p.groupBy("window_start")
      .agg(sum("n_b").as("n_vecs"), count(lit(1)).as("n_buckets"),
        max("n_b").as("max_bucket"), min("n_b").as("min_bucket"))
    val refDf = broadcast(ref.toSeq.toDF("bucket", "ref_n"))
    val pw = p.join(totals.select(col("window_start"), col("n_vecs")),
      Seq("window_start"))
      .select(col("window_start"), col("bucket"),
        expr("(n_b * 1000000) div n_vecs").as("pw"))
    val pr = totals.select(col("window_start")).crossJoin(refDf)
      .select(col("window_start"), col("bucket"),
        expr(s"(ref_n * 1000000) div $refN").as("pr"))
    val tv = pw.join(pr, Seq("window_start", "bucket"), "full")
      .na.fill(0L, Seq("pw", "pr"))
      .groupBy("window_start")
      .agg(expr("sum(abs(pw - pr)) div 2").as("tv_ppm"))
    totals.join(tv, Seq("window_start"))
      .select("window_start", "n_vecs", "n_buckets", "tv_ppm",
        "max_bucket", "min_bucket")
  }
}
