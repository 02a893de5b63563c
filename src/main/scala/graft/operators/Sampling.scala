package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.BucketedIndex

/** Sampling / dataset-split operators for training-data pipelines
  * (SURVEY.md §2.K extensions; driver brief "operations a large-scale
  * training-data pipeline would need").
  */
object Sampling {

  /** Deterministic train/val/test assignment keyed on the row id: the
    * first two hex chars of `md5(id)` give 256 uniform cells; cell-range
    * membership decides the split. Properties a training pipeline needs
    * that RNG sampling lacks:
    *
    *   - stable: a document keeps its split across runs, engines, and
    *     languages (md5 is everywhere — the DuckDB oracle reproduces the
    *     assignment bit-for-bit);
    *   - incremental: newly arrived rows get consistent assignments with
    *     no carried RNG state;
    *   - leak-free: membership depends only on the key, so derived
    *     tables split identically.
    *
    * A narrow map — no shuffle, no sampling pass. `trainCells`/`valCells`
    * are out of 256 (defaults 204/26 ≈ 80/10/10). */
  def deterministicSplit(df: DataFrame, idCol: String,
                         trainCells: Int = 204,
                         valCells: Int = 26): DataFrame = {
    require(trainCells > 0 && valCells >= 0 && trainCells + valCells <= 256,
      "cells must partition the 256 md5-prefix space")
    // 256 has no 2-hex form ("100" breaks the 2-char compare): any char
    // above 'f' is lexicographically past every cell, so "g" = "all cells"
    def boundary(cells: Int): String = if (cells >= 256) "g" else f"$cells%02x"
    val cell = substring(md5(col(idCol).cast("string")), 1, 2)
    df.withColumn("split",
      when(cell < lit(boundary(trainCells)), "train")
        .when(cell < lit(boundary(trainCells + valCells)), "val")
        .otherwise("test"))
  }

  /** Deterministic shard writer for training output: every row gets a
    * stable `shard = pmod(xxhash64(id), numShards)`, the frame is
    * repartitioned on that shard key (so each shard is produced by one
    * task — one file per shard, no tiny-file spray), and rows within a
    * shard are laid out in salted-hash order: a reproducible "shuffle"
    * for data loaders with no RNG state. Re-running over the same input
    * yields identical shard membership and order; appending new rows
    * never moves existing ones between shards. */
  def writeShards(df: DataFrame, idCol: String, outDir: String,
                  numShards: Int): Unit =
    df.withColumn("shard", pmod(xxhash64(col(idCol)), lit(numShards.toLong)))
      .repartition(numShards, col("shard"))
      // shard must lead the ordering: it satisfies the dynamic-partition
      // writer's required ordering, so V1Writes does NOT stack its own
      // Sort(shard) on top — one sort, and the salted order is contractual
      .sortWithinPartitions(col("shard"), xxhash64(col(idCol), lit(1L)))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** Domain-mix sampling — the data-mixing step of a pretraining
    * pipeline: each stratum (domain/language/source) keeps a configured
    * fraction of its rows, decided by the md5-cell of the row id, so the
    * mix is deterministic (same properties as [[deterministicSplit]]:
    * stable across runs/engines, incremental, leak-free — a row's
    * membership never depends on other rows or RNG state). Rates are
    * quantized to 256ths (the 2-hex-char cell space); a narrow map, no
    * shuffle, and the DuckDB oracle reproduces it bit-for-bit. */
  def mixSample(df: DataFrame, stratumCol: String, idCol: String,
                rates: Map[String, Double],
                defaultRate: Double): DataFrame =
    df.filter(mixKeepPredicate(stratumCol, idCol, rates, defaultRate))

  /** The KEEP predicate behind [[mixSample]] as a bare `Column` —
    * composed pipelines ([[CorpusBuild.buildCorpus]]) wrap it in
    * [[Analytics.observedFilter]] for one-pass stage accounting. Pure
    * column expression (md5 cell vs per-stratum threshold), no state. */
  def mixKeepPredicate(stratumCol: String, idCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): org.apache.spark.sql.Column = {
    def boundary(rate: Double): String = {
      require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
      val cells = math.round(rate * 256).toInt
      // 256 has no 2-hex form: any char past 'f' compares above every cell
      if (cells >= 256) "g" else f"$cells%02x"
    }
    val cell = substring(md5(col(idCol).cast("string")), 1, 2)
    val threshold = rates.toSeq.sortBy(_._1)
      .foldRight(lit(boundary(defaultRate)): org.apache.spark.sql.Column) {
        case ((stratum, rate), acc) =>
          when(col(stratumCol) === stratum, lit(boundary(rate))).otherwise(acc)
      }
    cell < threshold
  }

  /** Per-stratum downsampling (class rebalancing): keep the given
    * fraction of each stratum, seeded Bernoulli per row — Spark's
    * `stat.sampleBy`, one narrow pass, no shuffle. Strata absent from
    * `fractions` are dropped (fraction 0), the rebalance contract. */
  def stratifiedSample(df: DataFrame, stratumCol: String,
                       fractions: Map[String, Double],
                       seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Weighted sampling WITHOUT replacement, k rows per stratum — the
    * Efraimidis–Spirakis A-ES scheme: each row draws a uniform u and is
    * ranked by `ln(u)/w`; the per-stratum top-k is exactly a weighted
    * sample without replacement (heavier rows proportionally likelier,
    * never picked twice). The uniform is hash-derived — the first 8 hex
    * chars of `md5(id)` over 2³² — not RNG state, so membership is a pure
    * function of (id, weight, k): stable across runs, engines, and
    * cluster sizes, incremental under appends, and the DuckDB oracle
    * reproduces the ranking from the same formula (both engines' `ln` is
    * correctly rounded; selection flips would need two keys within one
    * ulp). The top-k folds through the bounded-heap
    * [[graft.functions.TopKAggregator]] — O(k) state per stratum on
    * every partition, map-side combined — NOT a per-stratum rank
    * window: with few strata the window form sorts the whole input in
    * |strata| serial tasks. The selected (stratum, id) set (≤
    * |strata|·k rows) broadcast-semi-joins back for the full rows.
    * Weights must be strictly positive; ids must be integral. */
  def weightedSamplePerKey(df: DataFrame, stratumCol: String, idCol: String,
                           weight: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4294967296.0)
    val topk = udaf(new graft.functions.TopKAggregator(k))
    val sel = df.withColumn("__es_key", log(u) / weight)
      .groupBy(col(stratumCol))
      .agg(topk(col("__es_key"), col(idCol)).as("__ids"))
      .select(col(stratumCol), explode(col("__ids")).as(idCol))
    df.join(broadcast(sel), Seq(stratumCol, idCol), "left_semi")
  }

  /** GLOBALLY ordered shard writer — curriculum/quality-sorted training
    * layouts: `repartitionByRange(sortCol)` gives range-disjoint shards
    * (shard i's every row sorts before shard i+1's — Spark samples the
    * key distribution to pick balanced boundaries), then one
    * sort-within-partitions makes each shard internally ordered, so
    * reading the shard files in shard order replays one global sort
    * without ever running one. `__shard` is `spark_partition_id()` of
    * the range partitioning, stamped post-repartition so it IS the
    * range rank. */
  def writeSortedShards(df: DataFrame, sortCol: String, outDir: String,
                        numShards: Int): Unit =
    df.repartitionByRange(numShards, col(sortCol))
      .withColumn("__shard", spark_partition_id())
      // __shard leads the ordering for the same V1Writes reason as
      // writeShards: the writer's required ordering is already satisfied
      .sortWithinPartitions(col("__shard"), col(sortCol))
      .write.mode("overwrite").partitionBy("__shard").parquet(outDir)

  /** Sequence packing — concatenate documents into fixed-token-budget
    * training bins (the standard LLM batch-shaping step). Packing is
    * inherently sequential, so it runs first-fit per partition
    * (`mapPartitions` — the documented last-resort escape hatch, used
    * here precisely because the logic is per-partition imperative):
    * each task packs its own partition's docs into bins of
    * `maxTokens`, bin ids made globally unique via the partition id.
    * Oversized docs (> maxTokens) get a singleton bin rather than being
    * silently dropped or split. Per-partition packing costs a small
    * utilization loss vs global packing (up to one open bin per
    * partition stays underfull) and in exchange needs NO shuffle and no
    * sequential bottleneck — the at-scale trade every packing pipeline
    * makes. Returns (binCol, idCol, tokensCol) exploded one row per
    * packed doc. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    maxTokens: Long): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(tokensCol).cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        // first-fit over a BOUNDED open-bin list: when a new bin would
        // exceed `MaxOpenBins`, the fullest open bin closes for good.
        // This caps per-doc work at O(MaxOpenBins) — without the cap a
        // pathological length distribution makes the scan O(bins) per
        // doc, quadratic in partition size — at a marginal utilization
        // cost (a closed bin can no longer absorb a late tiny doc).
        val MaxOpenBins = 64
        val bins = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (binSeq, used)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        var nextBin = 0L
        it.foreach { case (id, toks) =>
          val binSeq =
            if (toks >= maxTokens) { // singleton bin (also covers == budget)
              val b = nextBin; nextBin += 1; b
            } else {
              val fit = bins.indexWhere { case (_, used) => used + toks <= maxTokens }
              if (fit >= 0) {
                val (b, used) = bins(fit); bins(fit) = (b, used + toks); b
              } else {
                if (bins.length >= MaxOpenBins) {
                  val fullest = bins.indices.maxBy(i => bins(i)._2)
                  bins.remove(fullest)
                }
                val b = nextBin; nextBin += 1
                bins += ((b, toks)); b
              }
            }
          out += (((pid << 40) | binSeq, id, toks)) // 2^40 bins/partition headroom
        }
        out.iterator
      }
      .toDF("bin_id", idCol, tokensCol)
  }

  /** Deterministic sharded sequence packing — the ORACLE-CHECKABLE twin
    * of [[packSequences]]: docs shard by `id mod nShards` (a pure
    * function of the data, not of the physical partitioning), each
    * shard packs ITS OWN docs in ascending-id order by NEXT-fit (one
    * open bin: a doc that does not fit the current bin closes it and
    * opens the next — the one-pass rule a sequential reader of a sorted
    * shard would apply, and the one a recursive-CTE oracle can replay
    * row by row). Output is a pure function of (df, maxTokens,
    * nShards): same result on any partitioning, any engine — unlike
    * [[packSequences]]'s physical-partition bins, which buy maximum
    * utilization at the price of layout dependence. Scale contract:
    * shards are the parallelism unit AND the memory unit (one shard's
    * (id, tokens) pairs sort in one task — pick nShards so a shard's
    * doc COUNT fits a task, the same contract as any keyed
    * mapGroups); at 100 TB that is nShards in the tens of thousands,
    * still one wide groupBy. Oversized docs (≥ maxTokens) take a
    * singleton bin via the same next-fit arithmetic. Returns
    * (shard, seq_id, idCol, tokensCol), seq_id 1-based per shard. */
  def packSequencesSharded(df: DataFrame, idCol: String, tokensCol: String,
                           maxTokens: Long, nShards: Int): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(nShards > 0, "nShards must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(pmod(col(idCol).cast("long"), lit(nShards.toLong)).as("shard"),
        col(idCol).cast("long"), col(tokensCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val docs = it.toArray.sortBy(_._2) // ascending id: the declared order
        var seq = 0L
        var fill = 0L
        docs.iterator.map { case (_, id, toks) =>
          if (seq == 0L || fill + toks > maxTokens) { seq += 1; fill = 0L }
          fill += toks
          (shard, seq, id, toks)
        }
      }
      .toDF("shard", "seq_id", idCol, tokensCol)
  }

  /** The engine-portable SEMANTIC bucket of an embedding — the
    * q_diversity_sample / q_bucket_entropy bucketing as a reusable
    * column: one integer-LSH band signature over md5-derived INTEGER
    * hyperplanes × 2^20-quantized components
    * ([[graft.functions.Vectors.intHyperplanes]] — every product and
    * sum exact integer arithmetic inside doubles ≪ 2^53), so a vector's
    * bucket id replays bit-for-bit across engines, restarts, and the
    * DuckDB oracle. 2^planes buckets (default 256); one fused codegen
    * pass per vector, no shuffle. */
  def diversityBucket(embCol: Column, planes: Int = 8,
                      dim: Int = 64): Column =
    graft.functions.Vectors.lshSignature(
      transform(embCol, x =>
        floor(x.cast("double") * lit(1048576.0)).cast("double")),
      graft.functions.Vectors.intHyperplanes(planes, dim))

  /** SemDeDup/D4-style diversity-cap RANKING — the machinery behind the
    * registered `q_diversity_sample` id, exposed as an operator so the
    * composed corpus build ([[CorpusBuild.buildCorpus]]) and the live
    * gate ride the exact same selection: vectors bucket by
    * [[diversityBucket]] (semantic neighborhood) and each bucket keeps
    * at most `cap` representatives in deterministic md5 order — the
    * per-cluster budget that keeps a training mixture DIVERSE instead
    * of letting one dense semantic region dominate (what semantic DEDUP
    * can't do: it removes near-copies; this caps entire regions).
    * Returns (bucket, n_bucket, rn, idCol), rn 1-based per bucket. One
    * narrow codegen signature pass + one bounded-heap bottom-k groupBy
    * ([[graft.functions.BottomKStringAggregator]] — O(cap) state per
    * bucket on every partition, map-side combined; never a window over
    * a bucket's rows). Every step exact integers/strings — hard-oracle
    * replayable. */
  def diversityCapRanked(vecs: DataFrame, idCol: String, embCol: String,
                         cap: Int, salt: String = "divsamp:",
                         planes: Int = 8, dim: Int = 64): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val bk = udaf(new graft.functions.BottomKStringAggregator(cap))
    vecs
      .select(diversityBucket(col(embCol), planes, dim).as("bucket"),
        md5(concat(lit(salt), col(idCol).cast("string"))).as("h"),
        col(idCol))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_bucket"), bk(col("h"), col(idCol)).as("ids"))
      .select(col("bucket"), col("n_bucket"),
        posexplode(col("ids")).as(Seq("pos", idCol)))
      .select(col("bucket"), col("n_bucket"),
        (col("pos") + 1).cast("long").as("rn"), col(idCol))
  }

  /** Diversity-cap SELECTION over a document relation — the composed-
    * build verb ([[CorpusBuild.buildCorpus]]'s optional diversity
    * stage): keep each doc whose embedding ranks within its semantic
    * bucket's `cap` budget under [[diversityCapRanked]]'s deterministic
    * md5 order; docs WITHOUT an embedding row pass through untouched
    * (the cap is a budget on regions the embedding space can see — an
    * unembedded doc has no region to bill; gate it with the embedding
    * backfill, not here). `emb` carries (idCol, embCol); only
    * embeddings of docs still alive in `df` compete for budget (the
    * cap judges the corpus being built, not retired history). Scale
    * shape: the kept-id relation is bucket-bounded (≤ cap·2^planes
    * rows — broadcast at any corpus size), so the keep is one
    * data-scale id join + one broadcast semi-flag, never a second
    * corpus scan. */
  def diversityCapSample(df: DataFrame, idCol: String, emb: DataFrame,
                         embCol: String, cap: Int,
                         salt: String = "divsamp:",
                         planes: Int = 8, dim: Int = 64): DataFrame = {
    val alive = emb.select(col(idCol), col(embCol))
      .join(df.select(idCol), Seq(idCol), "left_semi")
    val kept = diversityCapRanked(alive, idCol, embCol, cap, salt,
        planes, dim)
      .select(col(idCol)).distinct().withColumn("__kept", lit(1))
    df.join(emb.select(col(idCol), lit(1).as("__emb")).distinct(),
        Seq(idCol), "left")
      .join(broadcast(kept), Seq(idCol), "left")
      .filter(col("__emb").isNull || col("__kept").isNotNull)
      .drop("__emb", "__kept")
  }

  /** The bucket-membership index's [[BucketedIndex]] layout: (bucket,
    * id) rows bucketed by `pmod(xxhash64(bucket), n)` — what the
    * diversity gate appends. */
  private[graft] val BucketMembershipIndex =
    BucketedIndex.Layout(xxhash64(col("bucket")))

  /** Batch seeder for the diversity gate's BUCKET-MEMBERSHIP index
    * ([[graft.sources.IO.diversityGateSink]]'s serving artifact — same
    * layout, so a gate started on a seeded index appends straight onto
    * it): the cold-start path a pipeline runs ONCE over its existing
    * corpus before pointing the live gate at it — after which every
    * bucket's budget is billed for what the corpus already holds. The
    * id attribution (vs a cheaper count census) is deliberate: it buys
    * the row-targeted, replay-idempotent takedown verb below, the
    * fp-first-seen lesson applied at build time. Ids must be integral
    * (the diversityCapRanked contract). An empty relation seeds "no
    * index yet". */
  def writeBucketMembershipIndex(vecs: DataFrame, idCol: String,
                                 embCol: String, indexDir: String,
                                 buckets: Int = 64): Unit =
    // seed the occupancy census too, so a gate started on this index
    // never scans the id-attributed rows for occupancy (ADVICE r16)
    if (BucketedIndex.seed(BucketMembershipIndex, indexDir, buckets,
        vecs.select(diversityBucket(col(embCol)).as("bucket"),
          col(idCol).cast("long").as("id"))))
      writeBucketCensus(vecs.sparkSession, indexDir)

  /** Location of the bucket-membership index's OCCUPANCY CENSUS — a
    * ≤ 2^planes-row (bucket, n_occ) sidecar the live gate reads instead
    * of re-scanning the id-attributed index every micro-batch (ADVICE
    * r16: the occupancy fold's INPUT grew with the admitted corpus —
    * only its output was bucket-bounded). Underscore-prefixed so the
    * index's own parquet readers never see it, and it dies with the dir
    * when a takedown empties the whole index. */
  private def censusDir(indexDir: String): String = s"$indexDir/_census"

  /** The EXACT occupancy census of a bucket-membership index, computed
    * from the index itself: DISTINCT ids per semantic bucket — distinct
    * deliberately, so duplicate (bucket, id) rows left by a torn gate
    * batch (crash after the index append, replay re-appends — the
    * documented at-least-once residue) never inflate a bucket's bill. */
  private def censusOf(idx: DataFrame): DataFrame =
    idx.groupBy("bucket")
      .agg(countDistinct(col("id")).as("n_occ"))

  /** Rebuild the occupancy census from the index — the seeder's and the
    * takedown verb's closing step (one index scan; both verbs already
    * paid one). */
  def writeBucketCensus(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): Unit =
    graft.sources.IO.replace(
      censusOf(graft.sources.IO.readArtifact(spark, indexDir)
        .select("bucket", "id")).coalesce(1), // O(2^planes) rows: one file
      censusDir(indexDir), "writeBucketCensus")

  /** Live occupancy of a bucket-membership index — what the diversity
    * gate charges admissions against: the census if present (O(2^planes)
    * rows, the steady state), else derived from the index (the upgrade
    * path for a pre-census index — the gate's next admitting batch
    * materializes the census), else empty (cold start — no index yet).
    * Always (bucket: long, n_occ: long). */
  def readBucketOccupancy(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String): DataFrame =
    graft.sources.IO.replacedPath(spark, censusDir(indexDir))
      .map(graft.sources.IO.readArtifact(spark, _))
      .orElse(BucketedIndex.read(spark, indexDir)
        .map(idx => censusOf(idx.select("bucket", "id"))))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_occ",
            org.apache.spark.sql.types.LongType)))))

  /** Advance the census by one admitted batch: the occupancy the batch
    * was judged against (`occ` — already read, never re-derived) plus
    * the batch's per-bucket admission counts. The admitted relation is
    * id-distinct by construction ([[diversityCapRanked]] emits each id
    * once), so adding ROW counts preserves the census's distinct-ids
    * semantic exactly. Swap-written (crash mid-swap recovers the old
    * census, and the gate's replay then re-admits the same rows — the
    * torn-batch shape the gate documents). */
  def advanceBucketCensus(occ: DataFrame, admittedBuckets: DataFrame,
                          indexDir: String): Unit =
    graft.sources.IO.replace(
      occ.select(col("bucket"), col("n_occ"))
        .unionAll(admittedBuckets
          .groupBy("bucket").agg(count(lit(1)).as("n_occ")))
        .groupBy("bucket").agg(sum(col("n_occ")).as("n_occ"))
        .coalesce(1), // O(2^planes) rows: one file
      censusDir(indexDir), "advanceBucketCensus")

  /** TAKEDOWN verb for the bucket-membership index — opt-out content
    * must FREE its semantic bucket's budget, not just leave the corpus:
    * after the delete, the gate's occupancy fold no longer bills the
    * removed ids, so fresh arrivals in that region are admitted again
    * (delete == rebuild-without-the-ids, the gate-facing consequence;
    * [[BucketedIndex.delete]]). Returns the touched storage-bucket ids
    * (the cost witness). */
  def deleteFromBucketMembershipIndex(ids: DataFrame, idCol: String,
                                      indexDir: String): Seq[Long] = {
    val touched = BucketedIndex.delete(BucketMembershipIndex, indexDir,
      ids.select(col(idCol).cast("long").as("id")))
    // rebuild the occupancy census the gate reads (one more index scan
    // — fine for the exceptional verb; the per-batch path never
    // rescans). A fully-emptied index reverted to cold start and took
    // its census with it.
    if (touched.nonEmpty && BucketedIndex.exists(ids.sparkSession, indexDir))
      writeBucketCensus(ids.sparkSession, indexDir)
    touched
  }

  /** Train the hashed-unigram DSIR log-ratio language model (Xie et al.
    * 2023) over `docs`: add-one-smoothed target (`isTarget` rows) vs raw
    * LMs over `buckets` md5-hashed unigram buckets, each bucket's
    * log-ratio pico-quantized ONCE — the model behind `q_dsir_hashed`,
    * exposed as an operator so the LIVE quality gate
    * ([[graft.sources.IO.dsirGateSink]]) and the batch ids share one
    * trainer. Returns (b, ratio_pico) for ALL `buckets` bucket ids —
    * buckets unseen in the training corpus (n_r = n_t = 0) carry the
    * add-one-smoothed ratio ln(1/(tot_t+B)) − ln(1/(tot_r+B)), NOT an
    * absent row, so [[dsirScore]]'s LM join never silently drops a
    * token whose bucket the reference corpus missed (ADVICE r15: an
    * inner join against a sparse LM treated unseen-bucket docs as
    * token-less, which is not the smoothing semantic). FIXED-size at
    * any corpus (the reason the hashed variant exists: broadcast-able
    * forever). Scoring against it is exact integer multiply-add, so a
    * gate decision replays bit-for-bit across engines and restarts. */
  def dsirLm(docs: DataFrame, textCol: String, isTarget: Column,
             buckets: Int = 4096): DataFrame = {
    val tok = docs
      .select(isTarget.as("__tgt"),
        explode(graft.functions.Text.tokens(col(textCol))).as("w"))
      .withColumn("b", pmod(
        Dedup.portableHash64(concat(lit("dsir:"), col("w"))),
        lit(buckets.toLong)))
      .localCheckpoint(eager = true) // feeds both LM counts
    val raw = tok.groupBy("b").agg(count(lit(1)).as("n_r"))
    val tgt = tok.filter(col("__tgt"))
      .groupBy("b").agg(count(lit(1)).as("n_t"))
    docs.sparkSession.range(buckets).select(col("id").as("b"))
      .join(raw, Seq("b"), "left").na.fill(0L, Seq("n_r"))
      .join(tgt, Seq("b"), "left").na.fill(0L, Seq("n_t"))
      .crossJoin(broadcast(
        raw.agg(coalesce(sum(col("n_r")), lit(0L)).as("tot_r"))))
      .crossJoin(broadcast(
        tgt.agg(coalesce(sum(col("n_t")), lit(0L)).as("tot_t"))))
      .select(col("b"),
        floor((log((col("n_t") + 1).cast("double") / (col("tot_t") + buckets)) -
          log((col("n_r") + 1).cast("double") / (col("tot_r") + buckets))) *
          lit(1e12)).cast("long").as("ratio_pico"))
  }

  /** Score docs against a [[dsirLm]] relation: per doc, token count and
    * the exact-integer importance weight Σ ratio_pico(bucket(w)) — the
    * q_dsir_hashed fold as a reusable verb. The LM broadcasts (exactly
    * `buckets` rows from [[dsirLm]] — total over the bucket space, so
    * the inner join loses no token); a hand-built LM relation must
    * likewise cover every bucket id in [0, buckets), or tokens hashing
    * to its missing buckets silently drop from n_tokens and the weight
    * fold (ADVICE r15). The pass is one narrow explode + one keyed
    * sum. */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
                lm: DataFrame, buckets: Int = 4096): DataFrame =
    docs
      .select(col(idCol), explode(graft.functions.Text.tokens(col(textCol))).as("w"))
      .withColumn("b", pmod(
        Dedup.portableHash64(concat(lit("dsir:"), col("w"))),
        lit(buckets.toLong)))
      .join(broadcast(lm), Seq("b"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ratio_pico")).as("weight_pico"))
}
