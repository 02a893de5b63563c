package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.BucketedIndex

/** Dev-only near-dup scale probe: MEASURES the LSH candidate-bounding
  * claim behind `Dedup.clusterByMinhash` at a corpus size far above the
  * fixtures. Builds a deterministic synthetic corpus of `nDocs`
  * documents in near-dup clusters (cluster size ~ `dupRate` duplicates
  * per base doc, each duplicate a light token mutation), then times the
  * full scale path (fused minhash signatures → banded candidates →
  * exact-Jaccard confirm → connected components → canonical keep) and
  * prints ONE JSON line with the wall time, the LSH candidate-pair
  * count versus the all-pairs count it replaced, and the survivor
  * count. Usage: runMain graft.tools.DedupScale [nDocs] [dupRate]
  */
object DedupScale {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val noveltyGateMode = args.headOption.contains("noveltygate")
    val winnowGateMode = args.headOption.contains("winnowgate")
    val winnowMode = !winnowGateMode && args.headOption.contains("winnow")
    val spansMode = args.headOption.contains("spans")
    val rest =
      if (winnowMode || winnowGateMode || noveltyGateMode || spansMode)
        args.drop(1)
      else args
    if (noveltyGateMode) { noveltyGateProbe(rest, cpus); return }
    if (winnowGateMode) { winnowGateProbe(rest, cpus); return }
    if (winnowMode) { winnowProbe(rest, cpus); return }
    if (spansMode) { spansProbe(rest, cpus); return }
    val nDocs = if (args.nonEmpty) args(0).toInt else 100000
    val dupRate = if (args.length > 1) args(1).toInt else 4
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // deterministic corpus: base docs of 40 LCG-picked words from a 5k
    // vocabulary; each cluster = 1 base + (id % dupRate) mutated copies
    // (every copy rewrites a couple of positions — exact Jaccard stays
    // well above the 0.5 threshold)
    val docs = spark.range(nDocs.toLong).select(col("id"))
      .mapPartitions { it =>
        it.map { row =>
          val id = row.getLong(0)
          val cluster = id / dupRate
          val variant = id % dupRate
          var x = cluster * 6364136223846793005L + 1442695040888963407L
          def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
          val words = Array.tabulate(40)(_ => s"w${math.floorMod(nxt(), 5000L)}")
          if (variant > 0L) { // mutate two positions per variant
            val p1 = math.floorMod(variant * 7L, 40L).toInt
            val p2 = math.floorMod(variant * 13L + 3L, 40L).toInt
            words(p1) = s"m${variant}a"; words(p2) = s"m${variant}b"
          }
          (id, words.mkString(" "))
        }
      }.toDF("doc_id", "text").localCheckpoint(true)

    val t0 = System.nanoTime()
    val sigs = graft.operators.Dedup
      .minhashSignatures(docs, "doc_id", "text").localCheckpoint(true)
    val candidatePairs = graft.operators.Dedup
      .minhashCandidateIds(sigs, "doc_id").count()
    val survivors = graft.operators.Dedup
      .clusterByMinhash(docs, "doc_id", "text", threshold = 0.5).count()
    val sec = (System.nanoTime() - t0) / 1e9
    val allPairs = nDocs.toLong * (nDocs - 1L) / 2L
    println(s"""{"metric":"neardup_scale","docs":$nDocs,"dup_rate":$dupRate,"cpus":$cpus,"sec":${math.round(sec * 10) / 10.0},"candidate_pairs":$candidatePairs,"all_pairs":$allPairs,"survivors":$survivors}""")
    spark.stop()
  }

  /** WINNOWGATE mode (`runMain graft.tools.DedupScale winnowgate
    * [nIndexDocs] [nBatchDocs]`): the INDEX-gated steady state the
    * ingest sink lives in (VERDICT r13 #6) — build a persisted winnow
    * index over `nIndexDocs`, then time `matchAgainstWinnowIndex` for a
    * `nBatchDocs` batch (half duplicates of indexed content, half
    * fresh) and again for a 2× batch. The claim under measurement:
    * steady-state match cost is proportional to the BATCH (its
    * fingerprints drive the join; the index side is touched only where
    * hashes collide), not to the 100×-larger index — the same
    * batch-proportional law the fingerprint and near-dup indexes carry.
    * Same deterministic synthetic corpus family as the winnow mode. */
  private def winnowGateProbe(args: Array[String], cpus: String): Unit = {
    val nIndex = if (args.nonEmpty) args(0).toInt else 1000000
    val nBatch = if (args.length > 1) args(1).toInt else 10000
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // indexed corpus: unique 40-token docs (dupRate 1 — the gate, not
    // intra-corpus dedup, is under test)
    def lcgText(seed: Long, vocab: String): String = {
      var x = seed * 6364136223846793005L + 1442695040888963407L
      def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
      Array.tabulate(40)(_ => s"$vocab${math.floorMod(nxt(), 500000L)}")
        .mkString(" ")
    }
    val idxDocs = spark.range(nIndex.toLong).select(col("id"))
      .mapPartitions(_.map { r => (r.getLong(0), lcgText(r.getLong(0), "w")) })
      .toDF("doc_id", "text").localCheckpoint(true)
    // batch: even rows duplicate an indexed doc's text (must flag),
    // odd rows draw from a disjoint vocabulary (must admit)
    def batchOf(n: Int): org.apache.spark.sql.DataFrame =
      spark.range(n.toLong).select(col("id"))
        .mapPartitions(_.map { r =>
          val j = r.getLong(0)
          val text =
            if (j % 2 == 0) lcgText(math.floorMod(j / 2, nIndex.toLong), "w")
            else lcgText(j, "f")
          (nIndex.toLong + j, text)
        }).toDF("doc_id", "text").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("winnow_gate_")
      .toString + "/idx"
    val t0 = System.nanoTime()
    graft.operators.Dedup.writeWinnowIndex(idxDocs, "doc_id", "text", dir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    def timedMatch(b: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val t = System.nanoTime()
      val flagged = graft.operators.Dedup
        .matchAgainstWinnowIndex(b, "doc_id", "text", dir)
        .select("doc_id").distinct().count()
      ((System.nanoTime() - t) / 1e9, flagged)
    }
    val b1 = batchOf(nBatch); val b2 = batchOf(nBatch * 2)
    val (m1Sec, flagged1) = timedMatch(b1)
    val (m2Sec, flagged2) = timedMatch(b2)
    def r1(x: Double): Double = math.round(x * 10) / 10.0
    println(s"""{"metric":"winnow_gate","index_docs":$nIndex,"batch_docs":$nBatch,"cpus":$cpus,"index_build_sec":${r1(buildSec)},"match_sec":${r1(m1Sec)},"match_2x_sec":${r1(m2Sec)},"flagged":$flagged1,"flagged_2x":$flagged2,"expected_flagged":${nBatch / 2},"match_cost_ratio_2x":${r1(m2Sec / m1Sec)}}""")
    spark.stop()
  }

  /** WINNOW mode (`runMain graft.tools.DedupScale winnow [nDocs]
    * [dupRate]`): measures the winnowing sample-and-match claims behind
    * `q_winnowing`/`q_winnow_pairs` at corpus sizes far above the
    * fixtures — (a) the selection DENSITY (selected fingerprints /
    * gram positions; winnowing's expected 2/(w+1) = 0.4 at w=4), i.e.
    * how much smaller the joined relation is than the full shingle
    * relation an n-gram matcher would shuffle, and (b) that matched
    * pairs stay cluster-bounded (near-dup variants share their base
    * doc's runs) rather than quadratic. Same deterministic synthetic
    * corpus as the default mode so the two probes compare. */
  private def winnowProbe(args: Array[String], cpus: String): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 100000
    val dupRate = if (args.length > 1) args(1).toInt else 4
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val docs = spark.range(nDocs.toLong).select(col("id"))
      .mapPartitions { it =>
        it.map { row =>
          val id = row.getLong(0)
          val cluster = id / dupRate
          val variant = id % dupRate
          var x = cluster * 6364136223846793005L + 1442695040888963407L
          def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
          val words = Array.tabulate(40)(_ => s"w${math.floorMod(nxt(), 5000L)}")
          if (variant > 0L) {
            val p1 = math.floorMod(variant * 7L, 40L).toInt
            val p2 = math.floorMod(variant * 13L + 3L, 40L).toInt
            words(p1) = s"m${variant}a"; words(p2) = s"m${variant}b"
          }
          (id, words.mkString(" "))
        }
      }.toDF("doc_id", "text").localCheckpoint(true)

    val t0 = System.nanoTime()
    val sel = graft.operators.Dedup
      .winnowFingerprints(docs, "doc_id", "text").localCheckpoint(true)
    val nSelected = sel.count()
    val selSec = (System.nanoTime() - t0) / 1e9
    val nGrams = nDocs.toLong * 36L // 40 tokens -> 36 5-gram positions
    val t1 = System.nanoTime()
    val pairs = graft.operators.Dedup
      .winnowPairs(docs, "doc_id", "text").count()
    val pairSec = (System.nanoTime() - t1) / 1e9
    val allPairs = nDocs.toLong * (nDocs - 1L) / 2L
    println(s"""{"metric":"winnow_scale","docs":$nDocs,"dup_rate":$dupRate,"cpus":$cpus,"select_sec":${math.round(selSec * 10) / 10.0},"pair_sec":${math.round(pairSec * 10) / 10.0},"gram_positions":$nGrams,"selected":$nSelected,"density":${math.round(nSelected.toDouble / nGrams * 1000) / 1000.0},"pairs":$pairs,"all_pairs":$allPairs}""")
    spark.stop()
  }

  /** SPANS mode (`runMain graft.tools.DedupScale spans [nDocs]`):
    * measures the exact duplicated-span family
    * ([[graft.operators.Dedup.duplicatedSpans]] /
    * [[graft.operators.Dedup.removeDuplicatedSpans]]) at corpus sizes
    * far above the fixtures. Two claims under measurement: (a) cost is
    * LINEAR in the corpus (span extraction at nDocs and 2×nDocs —
    * positional explode + occurrence census + semi-join + per-doc
    * islands; no pair join anywhere), and (b) a corpus-HOT duplicated
    * run (planted in every 10th doc — occurrence count nDocs/10) costs
    * the same as pairwise runs, because the census marks positions by
    * semi-join instead of materializing the quadratic pair space an
    * inverted-index matcher would hit. Corpus: unique 40-token docs;
    * every 10th doc carries the one global hot run at positions 11–20,
    * docs ≡ 5,6 (mod 10) share a per-cluster run at positions 21–30 —
    * so expected span geometry and masses are exact. */
  private def spansProbe(args: Array[String], cpus: String): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 1000000
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def corpus(n: Int, vocab: String): org.apache.spark.sql.DataFrame =
      spark.range(n.toLong).select(col("id"))
        .mapPartitions(_.map { r =>
          val id = r.getLong(0)
          var x = id * 6364136223846793005L + 1442695040888963407L
          def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
          val words = Array.tabulate(40)(_ =>
            s"$vocab${math.floorMod(nxt(), 500000L)}")
          if (id % 10L == 0L) // the global hot run, positions 11..20
            for (i <- 10 until 20) words(i) = s"h${vocab}${i - 10}"
          else if (id % 10L == 5L || id % 10L == 6L) { // pairwise run
            val cl = id / 10L
            for (i <- 20 until 30) words(i) = s"p${vocab}${cl}x${i - 20}"
          }
          (id, words.mkString(" "))
        }).toDF("doc_id", "text").localCheckpoint(true)
    def timedSpans(docs: org.apache.spark.sql.DataFrame)
        : (Double, Long, Long) = {
      val t = System.nanoTime()
      val spans = graft.operators.Dedup
        .duplicatedSpans(docs, "doc_id", "text").localCheckpoint(true)
      val (docsWithSpans, mass) = {
        val r = spans.agg(countDistinct(col("id")),
          sum(col("span_tokens"))).head()
        (r.getLong(0), r.getLong(1))
      }
      ((System.nanoTime() - t) / 1e9, docsWithSpans, mass)
    }
    // FULL-SIZE untimed warm-up (JIT + codegen + shuffle buffers) so the
    // 1× and 2× timings compare like-for-like — a small warm-up measured
    // the 2× corpus FASTER than 1× because C2 compilation of the
    // explode/sort paths was still completing inside the first timed run
    timedSpans(corpus(nDocs, "u"))
    val c1 = corpus(nDocs, "w")
    val (s1, spanDocs, mass1) = timedSpans(c1)
    val t2 = System.nanoTime()
    val removedMass = graft.operators.Dedup
      .removeDuplicatedSpans(c1, "doc_id", "text")
      .agg(sum(col("n_removed"))).head().getLong(0)
    val removeSec = (System.nanoTime() - t2) / 1e9
    val c2 = corpus(nDocs * 2, "g")
    val (s2, spanDocs2x, _) = timedSpans(c2)
    def r1(x: Double): Double = math.round(x * 10) / 10.0
    // planted geometry: n/10 hot-run docs + 2·(n/10) pair-run docs, 10
    // duplicated tokens each (modulo LCG vocab collisions, which the
    // expected/actual pair in the output makes visible)
    val expectDocs = nDocs / 10 * 3
    println(s"""{"metric":"dup_spans_scale","docs":$nDocs,"cpus":$cpus,"spans_sec":${r1(s1)},"spans_2x_sec":${r1(s2)},"cost_ratio_2x":${r1(s2 / s1)},"remove_sec":${r1(removeSec)},"span_docs":$spanDocs,"span_docs_2x":$spanDocs2x,"expected_span_docs":$expectDocs,"span_mass":$mass1,"removed_mass":$removedMass}""")
    spark.stop()
  }

  /** NOVELTYGATE mode (`runMain graft.tools.DedupScale noveltygate
    * [nIndexDocs] [nBatchDocs]`): the gram-index steady state the
    * novelty monitor ([[graft.sources.IO.noveltyAuditSink]]) lives in —
    * seed the bucketed first-seen gram index from `nIndexDocs`, then
    * time ONE micro-batch's full effect set (the
    * [[graft.streaming.Jobs.noveltyPerWindow]] fold against the index
    * + the anti-join first-seen delta + the bucketed append) for an
    * `nBatch`-doc batch (half duplicates of indexed content — zero
    * novelty; half fresh vocabulary — full novelty) and again for a 2×
    * batch. The claim under measurement: per-batch cost carries an
    * index-SCAN floor (the known-gram join reads the gram relation —
    * columnar, 8-byte keys) but no index-WRITE component — the append
    * is delta-only, so steady-state cost stays far under the seed cost
    * and grows with the batch, and the fold's ppm reads exactly the
    * planted novel share. */
  private def noveltyGateProbe(args: Array[String], cpus: String): Unit = {
    val nIndex = if (args.nonEmpty) args(0).toInt else 1000000
    val nBatch = if (args.length > 1) args(1).toInt else 10000
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def lcgText(seed: Long, vocab: String): String = {
      var x = seed * 6364136223846793005L + 1442695040888963407L
      def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
      Array.tabulate(40)(_ => s"$vocab${math.floorMod(nxt(), 500000L)}")
        .mkString(" ")
    }
    def gramRel(docs: org.apache.spark.sql.DataFrame, w0: String)
        : org.apache.spark.sql.DataFrame =
      docs.select(lit(java.sql.Timestamp.valueOf(w0)).as("window_start"),
          explode(graft.operators.Dedup.shingleSet(3)(
            graft.functions.Text.tokens(col("text")))).as("sh_str"))
        .select(col("window_start"), xxhash64(col("sh_str")).as("sh"))
        .groupBy("window_start", "sh").agg(count(lit(1)).as("n_docs"))
    val idxDocs = spark.range(nIndex.toLong).select(col("id"))
      .mapPartitions(_.map { r => (r.getLong(0), lcgText(r.getLong(0), "w")) })
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("novelty_gate_")
      .toString + "/grams"
    val t0 = System.nanoTime()
    BucketedIndex.seed(Dedup.GramIndex, dir, 64,
      gramRel(idxDocs, "2024-01-01 00:00:00")
        .select(col("sh"), col("window_start").as("first_window")))
    val buildSec = (System.nanoTime() - t0) / 1e9
    def batchOf(n: Int): org.apache.spark.sql.DataFrame =
      spark.range(n.toLong).select(col("id"))
        .mapPartitions(_.map { r =>
          val j = r.getLong(0)
          val text =
            if (j % 2 == 0) lcgText(math.floorMod(j / 2, nIndex.toLong), "w")
            else lcgText(j, "f")
          (nIndex.toLong + j, text)
        }).toDF("doc_id", "text").localCheckpoint(true)
    def timedBatch(b: org.apache.spark.sql.DataFrame)
        : (Double, Long, Long) = {
      val rel = gramRel(b, "2024-01-01 01:00:00").localCheckpoint(true)
      val known = spark.read.parquet(dir).select("sh", "first_window")
      val t = System.nanoTime()
      val row = graft.streaming.Jobs.noveltyPerWindow(rel, known)
        .select("n_novel", "novelty_ppm").head()
      BucketedIndex.append(Dedup.GramIndex, dir, 64, rel.groupBy("sh")
        .agg(min(col("window_start")).as("first_window"))
        .join(known.select("sh"), Seq("sh"), "left_anti"))
      ((System.nanoTime() - t) / 1e9, row.getLong(0), row.getLong(1))
    }
    // 2× batch drawn from a DISJOINT fresh vocabulary so the first
    // batch's append doesn't erode its novel half
    val b1 = batchOf(nBatch)
    val (s1, novel1, ppm1) = timedBatch(b1)
    val b2 = batchOf(nBatch * 2).withColumn("text",
      regexp_replace(col("text"), "f", "g"))
    val (s2, novel2, ppm2) = timedBatch(b2)
    def r1(x: Double): Double = math.round(x * 10) / 10.0
    println(s"""{"metric":"novelty_gate","index_docs":$nIndex,"batch_docs":$nBatch,"cpus":$cpus,"index_seed_sec":${r1(buildSec)},"batch_sec":${r1(s1)},"batch_2x_sec":${r1(s2)},"novel":$novel1,"novelty_ppm":$ppm1,"novel_2x":$novel2,"novelty_ppm_2x":$ppm2,"cost_ratio_2x":${r1(s2 / s1)}}""")
    spark.stop()
  }
}
