package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.sources.{BucketedIndex, IO}

/** Similarity search over embedding columns (driver brief [N]; SURVEY.md
  * §2.K). Baseline: brute-force cosine top-k (exact). Scale path: banded
  * sign-LSH candidate pruning, then exact cosine only on candidates.
  *
  * Scale notes: the query vector rides into the plan as a literal (the
  * moral equivalent of a broadcast variable); cosine is composed from
  * codegen'd higher-order functions; top-k uses sort+limit, which Spark
  * plans as TakeOrderedAndProject — per-partition bounded heaps + driver
  * merge of k rows, NOT a global sort.
  */
object Similarity {

  /** Pull one query vector by id — a driver-side point lookup of a single
    * row (same role as the reference's dim point lookup, SURVEY.md §2.C). */
  def queryVector(emb: DataFrame, idCol: String, vecCol: String, id: Long): Array[Float] =
    emb.filter(col(idCol) === id).select(vecCol).head().getSeq[Float](0).toArray

  /** Rank an already-limited top-k result (≤ k rows) by descending sim.
    * Deliberately NOT a window function: any constant partition spec is
    * folded away by Spark 4's `EliminateWindowPartitions` rule, so a
    * `row_number()` here always plans an unpartitioned WindowExec and
    * logs the "No Partition Defined" scale-anti-pattern WARN on every
    * run. The input is the ≤ k-row output of `limit(k)`: coalesce to one
    * partition, sort locally, and number rows with
    * `monotonically_increasing_id` (contiguous 0..n-1 on partition 0) —
    * no shuffle, no window, no warning. */
  private def rankTopK(top: DataFrame, idCol: String): DataFrame =
    top.coalesce(1)
      .sortWithinPartitions(desc("sim"), col(idCol))
      .withColumn("rn", monotonically_increasing_id() + 1)
      .select(col(idCol), col("rn"))
      .orderBy("rn")

  /** Exact brute-force cosine top-k: returns (id, rank). Ties broken by id.
    * `orderBy(...).limit(k)` → TakeOrderedAndProject: O(n) scan, O(k) state
    * per partition — survives arbitrary n. The ranking cosine rounds to
    * 12 dp (the q_knn_join discipline): cross-engine rank parity must
    * not hinge on two engines accumulating bit-identical doubles — a
    * ulp divergence on a near-tie would flip neighbor ranks. 12 dp is
    * far below any semantic similarity difference. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val withSim = emb.select(col(idCol),
      round(Vectors.cosineTo(col(vecCol), query), 12).as("sim"))
    rankTopK(withSim.orderBy(desc("sim"), col(idCol)).limit(k), idCol)
  }

  /** ANN top-k via banded sign-LSH: candidates = vectors sharing ≥1 band
    * signature with the query; exact cosine re-rank on candidates only.
    * Signature computation is a narrow map; candidate selection is a
    * predicate on a literal array (no shuffle, no all-pairs). */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Array[Float], k: Int,
              bands: Int = 4, planesPerBand: Int = 8): DataFrame = {
    val dim = query.length
    val sigCol = Vectors.bandedSignatures(col(vecCol), bands, planesPerBand, dim)
    // band signatures of the query, computed once on the driver with the
    // same deterministic hyperplanes
    val planes = Vectors.hyperplanes(bands * planesPerBand, dim)
    val querySigs = (0 until bands).map { b =>
      (0 until planesPerBand).map { i =>
        val p = planes(b * planesPerBand + i)
        val d = p.indices.map(j => p(j) * query(j)).sum
        if (d >= 0) 1L << i else 0L
      }.sum
    }
    val isCandidate: Column = (0 until bands)
      .map(b => element_at(col("__sigs"), b + 1) === lit(querySigs(b)))
      .reduce(_ || _)
    val cands = emb.withColumn("__sigs", sigCol).filter(isCandidate)
      .select(col(idCol), Vectors.cosineTo(col(vecCol), query).as("sim"))
    rankTopK(cands.orderBy(desc("sim"), col(idCol)).limit(k), idCol)
  }

  /** ENGINE-PORTABLE banded sign-LSH top-k — [[lshTopK]] with every
    * stage cross-engine exact, which is what moved `q_similarity_lsh`
    * from the declared-exempt set to the hard DuckDB oracle (round 15):
    *
    *  - hyperplanes are md5-derived integers
    *    ([[graft.functions.Vectors.intHyperplanes]] — DuckDB replays
    *    them from `md5_number_lower`);
    *  - vectors are quantized to `floor(x · 2^20)` BEFORE the dot
    *    product — a power-of-two scale + floor is exact on any IEEE
    *    engine, and every signature dot is then pure integer
    *    arithmetic (≤ 2^36 ≪ 2^53) inside [[VecLshSignature]]'s double
    *    accumulator, so the sign bit can never diverge between engines;
    *  - candidates = share ≥1 of the `bands` band signatures with the
    *    query (set equality on exact longs — in SQL, a (band, sig)
    *    equi-join);
    *  - the re-rank is the [[bruteForceTopK]] discipline verbatim:
    *    cosine rounded to 12 dp, ties by id (the oracle-green
    *    q_similarity_topk parity).
    *
    * The quantization costs nothing real: 2^-20 grain is ~5 decimal
    * digits of a unit-norm component, far inside the hyperplane
    * family's own randomness. Same plan shape as [[lshTopK]] — one
    * narrow codegen pass for signatures, a literal-array candidate
    * filter (no shuffle, no all-pairs), TakeOrderedAndProject for the
    * cut. */
  def lshTopKPortable(emb: DataFrame, idCol: String, vecCol: String,
                      query: Array[Float], k: Int,
                      bands: Int = 4, planesPerBand: Int = 8): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dim = query.length
    val planes = Vectors.intHyperplanes(bands * planesPerBand, dim)
    // integer-quantized copy of the vector, double-typed for the
    // signature expression's accumulator (values are exact integers)
    val eInt = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1048576.0)).cast("double"))
    val sigCol = ColumnBridge.column(graft.functions.VecLshSignature(
      ColumnBridge.expression(eInt), planes, planesPerBand))
    val qInt = query.map(x => math.floor(x.toDouble * 1048576.0))
    val querySigs = (0 until bands).map { b =>
      (0 until planesPerBand).map { i =>
        val p = planes(b * planesPerBand + i)
        val d = p.indices.map(j => p(j) * qInt(j)).sum
        if (d >= 0) 1L << i else 0L
      }.sum
    }
    val isCandidate: Column = (0 until bands)
      .map(b => element_at(col("__sigs"), b + 1) === lit(querySigs(b)))
      .reduce(_ || _)
    val cands = emb.withColumn("__sigs", sigCol).filter(isCandidate)
      .select(col(idCol),
        round(Vectors.cosineTo(col(vecCol), query), 12).as("sim"))
    rankTopK(cands.orderBy(desc("sim"), col(idCol)).limit(k), idCol)
  }

  /** IVF (inverted-file) coarse quantizer: k-means centroids trained on a
    * bounded driver-side sample (Lloyd's iterations on ≤ `sampleSize`
    * rows — a fixed-size model fit, not a data-scale collect; see
    * [[ivfTrainDistributed]] for the full-data path — the index layout
    * is unchanged either way). Returns the centroid matrix. */
  def ivfTrain(emb: DataFrame, vecCol: String, k: Int,
               sampleSize: Int = 1024, iters: Int = 8,
               seed: Long = 42L): Array[Array[Float]] = {
    // seeded uniform sample across ALL partitions — limit() would take
    // whichever partitions answer first, biasing centroids to one region
    // of a write-ordered table and changing run to run
    val sample = emb.select(vecCol).rdd
      .takeSample(withReplacement = false, sampleSize, seed)
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    var centroids = kppInit(sample, k, seed)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](sample.head.length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var j = 0
        while (j < v.length) { sums(c)(j) += v(j); j += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }
    }
    centroids
  }

  /** Distributed Lloyd's k-means over the FULL embedding table — the
    * 100 TB training path. Each iteration broadcasts the centroid matrix
    * (k·dim floats, a few KB) and computes per-centroid (sum, count) in
    * one `treeAggregate` pass: map-side partial sums per partition, a
    * depth-2 executor-side combine tree, and an O(k·dim) driver merge —
    * nothing data-scale ever reaches the driver. The vector RDD is
    * cached across iterations so iterations 2..n re-scan memory/disk
    * blocks, not the parquet source. */
  def ivfTrainDistributed(emb: DataFrame, vecCol: String, k: Int,
                          iters: Int = 8,
                          seed: Long = 42L): Array[Array[Float]] = {
    val vecs = emb.select(vecCol).rdd.map(_.getSeq[Float](0).toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // k-means‖-style init: oversample a seeded uniform candidate set
      // across all partitions (bounded — max(8k, 256) rows), then run
      // k-means++ on the candidates driver-side. Plain uniform init
      // collides (two seeds in one cluster → one split + one merged
      // cluster that Lloyd's never recovers from).
      val candidates = vecs.takeSample(withReplacement = false,
        math.max(8 * k, 256), seed)
      require(candidates.length >= k, s"need >= $k rows to train $k centroids")
      var centroids = kppInit(candidates, k, seed)
      val sc = emb.sparkSession.sparkContext
      val dim = centroids.head.length
      for (_ <- 0 until iters) {
        val bc = sc.broadcast(centroids)
        val (sums, counts) = vecs.treeAggregate(
          (Array.fill(k)(new Array[Double](dim)), new Array[Long](k)))(
          seqOp = { case (acc @ (s, n), v) =>
            val c = nearestCentroid(v, bc.value)
            n(c) += 1
            var j = 0
            while (j < v.length) { s(c)(j) += v(j); j += 1 }
            acc
          },
          combOp = { case ((s1, n1), (s2, n2)) =>
            var c = 0
            while (c < k) {
              n1(c) += n2(c)
              var j = 0
              while (j < dim) { s1(c)(j) += s2(c)(j); j += 1 }
              c += 1
            }
            (s1, n1)
          })
        bc.destroy()
        centroids = Array.tabulate(k) { c =>
          if (counts(c) == 0) centroids(c)
          else sums(c).map(x => (x / counts(c)).toFloat)
        }
      }
      centroids
    } finally vecs.unpersist(blocking = false)
  }

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var j = 0
    while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
    d
  }

  /** k-means++ seeding over a bounded candidate array: each next seed is
    * drawn ∝ squared distance to the nearest already-chosen seed. */
  private def kppInit(sample: Array[Array[Float]], k: Int,
                      seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val out = new Array[Array[Float]](k)
    out(0) = sample(rnd.nextInt(sample.length)).clone()
    val d2 = sample.map(v => sqDist(v, out(0)))
    for (c <- 1 until k) {
      val total = d2.sum
      val pick =
        if (total <= 0) rnd.nextInt(sample.length)
        else {
          var r = rnd.nextDouble() * total; var i = 0
          while (i < sample.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
          i
        }
      out(c) = sample(pick).clone()
      var i = 0
      while (i < sample.length) {
        val d = sqDist(sample(i), out(c))
        if (d < d2(i)) d2(i) = d
        i += 1
      }
    }
    out
  }

  private def nearestCentroid(v: Array[Float], cs: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = sqDist(v, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Assign every vector its IVF list id — a narrow map (one fused JVM
    * pass over the centroid matrix per row). Persist the result
    * partitioned by `ivf_list` and queries scan only the probed lists. */
  def ivfAssign(emb: DataFrame, vecCol: String,
                centroids: Array[Array[Float]]): DataFrame = {
    val assign = udf { (v: Seq[Float]) => nearestCentroid(v.toArray, centroids) }
    emb.withColumn("ivf_list", assign(col(vecCol)))
  }

  /** The `nprobe` inverted-list ids nearest `query` — the driver-side
    * probe-selection step shared by the assign-on-the-fly and persisted
    * index query paths (an O(k·dim) loop over the centroid matrix). */
  def nearestLists(query: Array[Float], centroids: Array[Array[Float]],
                   nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0; var j = 0
      while (j < query.length) { val t = query(j) - c(j); d += t * t; j += 1 }
      (i, d)
    }.sortBy(_._2).take(nprobe).map(_._1).toSeq

  /** IVF ANN top-k over an unindexed table: probe the `nprobe` centroids
    * nearest the query, scan only vectors assigned to those lists, exact
    * cosine re-rank. This form re-assigns every vector per query (one full
    * scan) — correct, but the scan does not shrink with nprobe. It is the
    * ad-hoc path; for repeated queries build the index once with
    * [[ivfWriteIndex]] and probe via [[ivfTopKIndexed]], where the
    * `ivf_list ∈ probes` predicate becomes a partition-pruning filter and
    * the scan cost drops from N to ~N·nprobe/k. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Array[Float], k: Int,
              centroids: Array[Array[Float]], nprobe: Int = 4): DataFrame = {
    val probes = nearestLists(query, centroids, nprobe)
    val cands = ivfAssign(emb, vecCol, centroids)
      .filter(col("ivf_list").isin(probes: _*))
      .select(col(idCol), Vectors.cosineTo(col(vecCol), query).as("sim"))
    rankTopK(cands.orderBy(desc("sim"), col(idCol)).limit(k), idCol)
  }

  // ---- persisted IVF index lifecycle --------------------------------

  /** The persisted IVF index's [[BucketedIndex]] layout: `vectors/`
    * partitioned by `ivf_list`, the inverted list a row is assigned to
    * (not a hash, so the store's read, takedown and rewrite apply; the
    * list assignment is this module's own). The fused index adds the
    * `codes/` mirror, keyed by the same id. */
  private val IvfIndex = BucketedIndex.Layout(col("ivf_list"), Seq("vectors"),
    part = "ivf_list")
  private val IvfPqIndex = IvfIndex.copy(rels = Seq("vectors", "codes"))

  /** True when `indexDir` is a FUSED IVF-PQ index (its `codebooks/` are
    * present — no incremental verb rewrites them, so they survive a
    * takedown that empties `vectors/` and `codes/`, and a plain index
    * never has them). The fused layout's vectors/ + centroids/ are
    * byte-compatible with plain IVF for READS, but plain MUTATION verbs
    * know nothing of `codes/` — running one would silently desync the
    * mirror (appended ids invisible to ADC, split lists coded against
    * the wrong residual base, retrain dropping codes entirely), so they
    * detect this state and fail loudly ([[requireNotFused]]) — the
    * same fail-loud discipline as the near-dup index's
    * `.layout_version` stamp. */
  def isFusedIndex(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String): Boolean =
    BucketedIndex.exists(spark, s"$indexDir/codebooks")

  private def requireNotFused(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String, verb: String,
                              fusedVerb: String): Unit =
    if (isFusedIndex(spark, indexDir))
      throw new IllegalStateException(
        s"$verb: $indexDir is a FUSED IVF-PQ index (codebooks/ present); the " +
          s"plain verb would desync the PQ code mirror from vectors/ — " +
          s"use $fusedVerb instead (reads — ivfTopKIndexed, ivfProbeScan, " +
          "ivfListSizes, ivfNeedsRetrain — remain layout-agnostic)")

  /** Materialize the IVF index under `indexDir`: the assignment table is
    * written `partitionBy("ivf_list")` — one parquet directory per
    * inverted list — with the centroid matrix alongside as a k-row
    * table. Probe queries ([[ivfTopKIndexed]]) then prune at the file
    * level: `ivf_list ∈ probes` is a partition filter, so a query probing
    * `nprobe` of `k` lists lists/opens only those directories and never
    * touches the rest — the N → N·nprobe/k scan-cost drop that IVF
    * exists for, enforced by the FileIndex rather than a row filter.
    * Refuses to overwrite a FUSED index (stale codes/ + codebooks/
    * would survive the vectors overwrite) — rebuild those through
    * [[ivfPqWriteIndex]], or delete the directory first. */
  def ivfWriteIndex(emb: DataFrame, vecCol: String,
                    centroids: Array[Array[Float]], indexDir: String): Unit = {
    requireNotFused(emb.sparkSession, indexDir, "ivfWriteIndex",
      "ivfPqWriteIndex")
    ivfWriteVectors(emb, vecCol, centroids, indexDir)
  }

  /** [[ivfWriteIndex]] minus the fused guard — the shared write step
    * [[ivfPqWriteIndex]] (legitimately rebuilding a fused dir in place
    * before refreshing every code partition) also uses. */
  private def ivfWriteVectors(emb: DataFrame, vecCol: String,
                              centroids: Array[Array[Float]],
                              indexDir: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.sources.IO.alignToPartitions(
        ivfAssign(emb, vecCol, centroids), "ivf_list")
      .write.mode("overwrite")
      .partitionBy("ivf_list").parquet(s"$indexDir/vectors")
    centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** Incremental index maintenance — the steady-state operation: assign
    * ONLY the new batch against the persisted centroids and rewrite ONLY
    * the `ivf_list=` partitions that batch touches
    * ([[BucketedIndex.rewrite]], the same touched-partitions-only
    * rewrite as [[graft.sources.IO.bucketedUpsertSink]]). Existing rows
    * of the touched lists are read back through a partition-pruned scan
    * (untouched lists are never listed or opened), re-submitted ids are
    * replaced (id-level upsert within a list), and per-append cost is
    * O(batch + touched lists) — independent of index size. An index
    * whose `vectors/` a takedown emptied is seeded again.
    *
    * Caveat (documented, not silently wrong): an id whose NEW embedding
    * assigns to a different list than its old one leaves the stale copy
    * in the old list, because that list may be untouched. Appends of new
    * ids — the steady-state case — are exact; re-embedding migrations go
    * through [[ivfReembedIndex]] (= [[ivfDeleteIds]] + this append).
    * Fails loudly on a FUSED index — use [[ivfPqAppendIndex]], which
    * runs this same append and then refreshes the touched code
    * partitions. */
  def ivfAppendIndex(newVecs: DataFrame, idCol: String, vecCol: String,
                     indexDir: String): Unit = {
    val spark = newVecs.sparkSession
    requireNotFused(spark, indexDir, "ivfAppendIndex", "ivfPqAppendIndex")
    ivfAppendVectors(newVecs, idCol, vecCol, indexDir,
      ivfReadCentroids(spark, indexDir))
  }

  /** The vector upsert of [[ivfAppendIndex]] under the given persisted
    * `centroids`; returns the sorted touched list ids. */
  private def ivfAppendVectors(newVecs: DataFrame, idCol: String,
                               vecCol: String, indexDir: String,
                               centroids: Array[Array[Float]]): Seq[Int] = {
    val spark = newVecs.sparkSession
    val assigned = ivfAssign(newVecs, vecCol, centroids)
      .localCheckpoint(eager = true)
    try {
      val touched = assigned.select("ivf_list").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted // bounded: <= k list ids
      if (touched.nonEmpty) {
        val existing = BucketedIndex.read(spark, s"$indexDir/vectors")
          .map(_.filter(col("ivf_list").isin(touched: _*))
            .join(assigned.select(col(idCol)), Seq(idCol), "left_anti"))
        // pin the merge before overwriting the path it reads; bounded by
        // the touched lists' size, a few task-units by construction
        val merged = existing.fold(assigned)(_.unionByName(assigned))
          .localCheckpoint(eager = true)
        try BucketedIndex.rewrite(IvfIndex, merged, s"$indexDir/vectors",
          touched.map(_.toLong))
        finally Checkpoints.drop(merged)
      }
      touched
    } finally Checkpoints.drop(assigned)
  }

  /** Delete ids from a persisted IVF index, rewriting ONLY the lists
    * that contain them — the missing half of the steady-state embedding
    * refresh story: re-embedding = delete + [[ivfAppendIndex]]
    * ([[ivfReembedIndex]] composes the two).
    *
    * The store's takedown ([[BucketedIndex.delete]]) locates the ids
    * with one COLUMN-PRUNED scan of the index's (id, ivf_list) columns —
    * the partition key is the list, not the id, so membership can't be
    * pruned at the file level; parquet column pruning keeps the scan to
    * two scalar columns, never the vectors — then rewrites the touched
    * lists only, drops a list whose rows were ALL deleted, and removes
    * `vectors/` when no list is left. Single writer by contract, like
    * append. Fails loudly on a FUSED index — use [[ivfPqDeleteIds]],
    * which takes the same rows out of `codes/` too. */
  def ivfDeleteIds(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   idCol: String, ids: DataFrame): Unit = {
    requireNotFused(spark, indexDir, "ivfDeleteIds", "ivfPqDeleteIds")
    BucketedIndex.delete(IvfIndex, indexDir, ids.select(col(idCol)))
  }

  /** Re-embed ids in a persisted IVF index: delete the old copies (from
    * whatever lists they live in), then append the new embeddings —
    * each id ends up exactly once, in the list its NEW vector assigns
    * to, and lists containing neither old nor new copies are untouched
    * byte-for-byte. Cost: one column-pruned id scan + two
    * touched-lists-only rewrites. Fails loudly on a FUSED index — use
    * [[ivfPqReembedIndex]]. */
  def ivfReembedIndex(newVecs: DataFrame, idCol: String, vecCol: String,
                      indexDir: String): Unit = {
    val spark = newVecs.sparkSession
    requireNotFused(spark, indexDir, "ivfReembedIndex", "ivfPqReembedIndex")
    BucketedIndex.delete(IvfIndex, indexDir, newVecs.select(col(idCol)))
    ivfAppendVectors(newVecs, idCol, vecCol, indexDir,
      ivfReadCentroids(spark, indexDir))
  }

  // ---- drift detection + retrain lifecycle --------------------------

  /** Per-list row counts of a persisted index — a scan of the partition
    * key column only (parquet reads no vector data for it). The census
    * the drift trigger and the split policy read; an emptied index (no
    * `vectors/`) has no lists. */
  def ivfListSizes(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String): DataFrame = {
    import spark.implicits._
    // schema-cached read (r18): this census runs per append epoch in the
    // streaming gates — the footer-inference job it saves is per-batch
    BucketedIndex.read(spark, s"$indexDir/vectors").fold(
      Seq.empty[(Int, Long)].toDF("ivf_list", "n"))(
      _.groupBy(col("ivf_list").cast("int").as("ivf_list"))
        .agg(count(lit(1)).as("n")))
  }

  /** MEASURED drift trigger: [[ivfAppendIndex]] assigns new vectors to
    * the ORIGINAL centroids, so under distribution drift appended mass
    * piles into few lists — their probe cost grows without bound, and
    * drifted content that straddles old centroid boundaries SCATTERS
    * across lists, decaying recall at fixed `nprobe` (both measured:
    * ScalePathSpec drift law, BASELINE.md's Round-11 "IVF drift
    * lifecycle" row). Fires
    * when max(list size) > skewFactor × mean(list size) — a k-row
    * census, free to evaluate after every append epoch. Remedies:
    * [[ivfSplitOversizedLists]] (incremental, touched-lists-only — the
    * cost lever) or [[ivfRetrainIndex]] (full, corpus-proportional —
    * the recall lever). */
  def ivfNeedsRetrain(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, skewFactor: Double = 4.0): Boolean = {
    val sizes = ivfListSizes(spark, indexDir)
      .select(col("n")).collect().map(_.getLong(0)) // bounded: k list rows
    sizes.nonEmpty &&
      sizes.max.toDouble > skewFactor * (sizes.sum.toDouble / sizes.length)
  }

  /** FULL retrain — the drift remedy that restores fresh-build recall:
    * re-trains `k` centroids on the index's OWN vectors and rebuilds the
    * index beside the live one ([[retrainBeside]]). Cost is one corpus
    * read + one write — paid once per drift epoch, amortized over the
    * many batch-proportional appends that caused it. ScalePathSpec pins
    * the recall-preservation law: post-retrain recall == fresh-build
    * recall on the drifted corpus. Single writer by contract. Fails
    * loudly on a FUSED index (the swap would drop codes/ + codebooks/
    * entirely) — use [[ivfPqRetrainIndex]]. */
  def ivfRetrainIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, vecCol: String, k: Int,
                      iters: Int = 8, seed: Long = 42L): Unit =
    retrainBeside(spark, indexDir, vecCol, k, iters, seed, "ivfRetrainIndex",
      requireNotFused(spark, indexDir, "ivfRetrainIndex", "ivfPqRetrainIndex")) {
      (vecs, centroids, next) => ivfWriteIndex(vecs, vecCol, centroids, next)
    }

  /** The retrains' staging dir: the successor index is built here and
    * survives a crash, for [[ivfRecoverSwap]] to finish the swap. */
  private def nextOf(indexDir: String): String = indexDir + "_next"

  /** The full-retrain skeleton both index layouts share: repair a torn
    * swap ([[ivfRecoverSwap]]), run `guard`, train `k` centroids on the
    * index's own vectors (the distributed trainer — nothing data-scale
    * reaches the driver), `build` the index from (vectors, centroids)
    * into a cleared staging dir, then swap it in
    * ([[graft.sources.IO.swapIn]]). The build reads the live index into
    * a distinct path, so nothing corpus-sized is pinned, and the live
    * index serves reads until the swap. `guard` runs AFTER the recovery
    * sweep: a fused index interrupted mid-swap has no live codebooks/
    * until the sweep restores it — guarding first would wave the plain
    * retrain through on exactly the index it must not touch. */
  private def retrainBeside(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String, vecCol: String, k: Int,
                            iters: Int, seed: Long, who: String,
                            guard: => Unit = ())(
      build: (DataFrame, Array[Array[Float]], String) => Unit): Unit = {
    ivfRecoverSwap(spark, indexDir)
    guard
    val vecs = IO.readArtifact(spark, s"$indexDir/vectors").drop("ivf_list")
    val centroids = ivfTrainDistributed(vecs, vecCol, k, iters, seed)
    val next = new org.apache.hadoop.fs.Path(nextOf(indexDir))
    val fs = next.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(next, true)
    build(vecs, centroids, next.toString)
    IO.swapIn(fs, next, indexDir, who)
  }

  /** Crash-recovery sweep for the retrains' two-rename swap
    * ([[graft.sources.IO.recoverSwap]] with the `_next` staging dir).
    * Called on entry to every retrain; safe to call any time under the
    * single-writer contract. */
  def ivfRecoverSwap(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String): Unit =
    IO.recoverSwap(spark, indexDir, nextOf(indexDir), "ivfRecoverSwap")

  /** 2-means refinement over a bounded in-memory sample (the
    * [[ivfTrain]] loop body, shared with [[ivfSplitList]]). */
  private def lloyd(sample: Array[Array[Float]], k: Int, iters: Int,
                    seed: Long): Array[Array[Float]] = {
    var cents = kppInit(sample, k, seed)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](sample.head.length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearestCentroid(v, cents)
        counts(c) += 1
        var j = 0
        while (j < v.length) { sums(c)(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }
    }
    cents
  }

  /** Split ONE oversized inverted list in place — the INCREMENTAL drift
    * lever: 2-means over the list's own vectors (seeded bounded sample),
    * sub-centroid A replaces the old centroid at id `list`, sub-centroid
    * B appends as a NEW list id k. Only the split list's partition
    * rewrites (rows keeping A stay in `list`, rows nearer B move to the
    * new partition — dynamic overwrite + emptied-dir guard); every other
    * list directory is untouched byte-for-byte; the k-row centroid table
    * rewrites (it is tiny by construction). Splitting separates
    * co-resident sub-clusters, so fixed-`nprobe` probes scan less and
    * aim better; drifted content scattered across OTHER lists is
    * [[ivfRetrainIndex]]'s job — that distinction is the documented
    * policy, not a silent claim. */
  def ivfSplitList(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   idCol: String, vecCol: String, list: Int,
                   sampleSize: Int = 1024, iters: Int = 8,
                   seed: Long = 42L): Unit = {
    ivfRecoverSplit(spark, indexDir, idCol, vecCol) // finish any torn split first
    val centroids = ivfReadCentroids(spark, indexDir)
    require(list >= 0 && list < centroids.length,
      s"list $list out of range [0, ${centroids.length})")
    val newId = centroids.length
    val rows = IO.readArtifact(spark, s"$indexDir/vectors")
      .filter(col("ivf_list") === list) // partition-pruned to the one list
      .select(col(idCol), col(vecCol))
    val sample = rows.select(vecCol).rdd
      .takeSample(withReplacement = false, sampleSize, seed)
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= 2, s"list $list has < 2 vectors — nothing to split")
    val subs = lloyd(sample, 2, iters, seed)
    // Crash discipline (the ivfRecoverSwap analog for splits): record
    // the split INTENT — (list, newId, both sub-centroids) — before the
    // first mutation. Centroids then write FIRST, vectors second: the
    // reverse order would orphan moved rows in a list no centroid
    // references (silent recall loss) AND let the next split reuse
    // newId for a different sub-centroid. A crash between the two
    // writes used to leave a LASTING degraded state — newId's centroid
    // with an empty list while its rows sat in the old list, and dead
    // empty centroids accumulating on re-runs — but with the intent
    // recorded, [[ivfRecoverSplit]] (run on entry here and callable any
    // time) replays the vector rewrite deterministically from the
    // recorded sub-centroids and completes the split instead.
    writeSplitIntent(spark, indexDir, list, newId, subs)
    val updated = centroids.updated(list, subs(0)) :+ subs(1)
    import spark.implicits._
    updated.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    splitRewriteVectors(spark, indexDir, idCol, vecCol, list, newId, subs)
    // fused index: the split moved rows between lists, so their code
    // partitions re-derive (residuals now against the new sub-centroids;
    // codebooks unchanged — they quantize the residual DISTRIBUTION)
    if (isFusedIndex(spark, indexDir))
      ivfPqRefreshLists(spark, indexDir, idCol, vecCol, Seq(list, newId))
    deleteSplitIntent(spark, indexDir)
  }

  /** The vector-rewrite step of a split, shared verbatim with
    * [[ivfRecoverSplit]] so recovery IS a replay: re-assign the rows of
    * `list` (and, on recovery, any already in `newId`) to whichever of
    * the two recorded sub-centroids is nearer and rewrite those two
    * partitions only ([[BucketedIndex.rewrite]] also drops the stale dir
    * of a side the (degenerate) split left unwritten). Idempotent: pure
    * function of the recorded sub-centroids and the rows. */
  private def splitRewriteVectors(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String, idCol: String,
                                  vecCol: String, list: Int, newId: Int,
                                  subs: Array[Array[Float]]): Unit = {
    val rows = IO.readArtifact(spark, s"$indexDir/vectors")
      .filter(col("ivf_list").isin(list, newId))
      .select(col(idCol), col(vecCol))
    val bc = spark.sparkContext.broadcast(subs)
    val pick = udf { (v: Seq[Float]) => nearestCentroid(v.toArray, bc.value) }
    val pinned = rows
      .withColumn("ivf_list",
        when(pick(col(vecCol)) === 0, lit(list)).otherwise(lit(newId)))
      .localCheckpoint(eager = true) // one list's rows; pin before overwriting it
    try BucketedIndex.rewrite(IvfIndex, pinned, s"$indexDir/vectors",
      Seq(list.toLong, newId.toLong))
    finally Checkpoints.drop(pinned)
  }

  private def splitIntentPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(indexDir, ".split_intent")

  /** Record a split's parameters before its first mutation: line 1 is
    * `list newId`, lines 2-3 the two sub-centroids (exact float
    * round-trip via Float.toString/parseFloat). */
  private def writeSplitIntent(spark: org.apache.spark.sql.SparkSession,
                               indexDir: String, list: Int, newId: Int,
                               subs: Array[Array[Float]]): Unit = {
    val p = splitIntentPath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = s"$list $newId\n" +
      subs.map(_.mkString(",")).mkString("\n") + "\n"
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def deleteSplitIntent(spark: org.apache.spark.sql.SparkSession,
                                indexDir: String): Unit = {
    val p = splitIntentPath(indexDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** Crash-recovery sweep for [[ivfSplitList]] — the split analog of
    * [[ivfRecoverSwap]]. Reads the `.split_intent` sidecar and repairs
    * by REPLAY:
    *  - intent absent: nothing torn — no-op.
    *  - intent present but torn/unparseable, or the centroid table does
    *    NOT yet contain `newId`: the crash landed before the first
    *    mutation — nothing changed on disk, drop the intent.
    *  - intent present and centroids contain `newId`: the vector
    *    rewrite may be missing, partial-by-crash, or complete — all
    *    three repair identically by re-running
    *    [[splitRewriteVectors]] from the RECORDED sub-centroids (the
    *    rewrite is a pure, idempotent function of them), then (fused
    *    index) refreshing the two code partitions, then dropping the
    *    intent.
    * Run on entry to [[ivfSplitList]]; safe to call any time under the
    * single-writer contract. Returns true when a torn split was
    * found and repaired. */
  def ivfRecoverSplit(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, idCol: String,
                      vecCol: String): Boolean = {
    val p = splitIntentPath(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val lines = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    }
    val parsed = scala.util.Try {
      val Array(l, n) = lines(0).split(" ").map(_.toInt)
      val subs = Array(lines(1), lines(2))
        .map(_.split(",").map(java.lang.Float.parseFloat))
      (l, n, subs)
    }.toOption
    val repaired = parsed match {
      case None =>
        false // torn intent: the split never mutated anything — drop it
      case Some((list, newId, subs)) =>
        val centroids = ivfReadCentroids(spark, indexDir)
        if (newId >= centroids.length) false // crash before centroid write
        else {
          splitRewriteVectors(spark, indexDir, idCol, vecCol, list, newId, subs)
          if (isFusedIndex(spark, indexDir))
            ivfPqRefreshLists(spark, indexDir, idCol, vecCol, Seq(list, newId))
          true
        }
    }
    deleteSplitIntent(spark, indexDir)
    repaired
  }

  /** Split every list whose size exceeds skewFactor × mean — the
    * policy loop over [[ivfSplitList]] using the [[ivfListSizes]]
    * census. Returns the split list ids (cost witness). */
  def ivfSplitOversizedLists(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String, idCol: String, vecCol: String,
                             skewFactor: Double = 4.0,
                             sampleSize: Int = 1024, iters: Int = 8,
                             seed: Long = 42L): Seq[Int] = {
    val sizes = ivfListSizes(spark, indexDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)) // bounded: k list rows
    if (sizes.isEmpty) return Seq.empty
    val mean = sizes.map(_._2).sum.toDouble / sizes.length
    val oversized = sizes.filter(_._2 > skewFactor * mean).map(_._1).sorted
    oversized.foreach(l =>
      ivfSplitList(spark, indexDir, idCol, vecCol, l, sampleSize, iters, seed))
    oversized.toSeq
  }

  /** Load the centroid matrix of a persisted index — k small rows.
    * Schema-cached read (r18): the footer-inference job is paid once
    * per path per JVM, not once per query step. */
  def ivfReadCentroids(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String): Array[Array[Float]] =
    graft.sources.IO.readArtifact(spark, s"$indexDir/centroids")
      .select("centroid_id", "centroid").orderBy("centroid_id")
      .collect().map(_.getSeq[Float](1).toArray) // bounded: k centroid rows

  /** Candidate scan of a persisted index: only the probed lists. Exposed
    * separately so the plan's partition pruning is testable — the spec
    * asserts the scan's selected-partition count is ≤ nprobe. */
  def ivfProbeScan(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   query: Array[Float], centroids: Array[Array[Float]],
                   nprobe: Int): DataFrame = {
    val probes = nearestLists(query, centroids, nprobe)
    graft.sources.IO.readArtifact(spark, s"$indexDir/vectors")
      .filter(col("ivf_list").isin(probes: _*))
  }

  /** IVF ANN top-k against a persisted index ([[ivfWriteIndex]]): reads
    * the k-row centroid table, selects probes driver-side, scans only the
    * probed list partitions, exact cosine re-rank. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                     idCol: String, vecCol: String, query: Array[Float],
                     k: Int, nprobe: Int = 4): DataFrame = {
    val centroids = ivfReadCentroids(spark, indexDir)
    ivfTopKOnLists(spark, indexDir, idCol, vecCol, query, k,
      nearestLists(query, centroids, nprobe))
  }

  /** [[ivfTopKIndexed]] with the probe lists already selected — the
    * shared core that lets [[ivfPqTopKAuto]] reuse its ONE centroid
    * read for probe selection, the byte measurement and the warm scan
    * instead of paying it per step. */
  private def ivfTopKOnLists(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String, idCol: String, vecCol: String,
                             query: Array[Float], k: Int,
                             probes: Seq[Int]): DataFrame = {
    val cands = graft.sources.IO.readArtifact(spark, s"$indexDir/vectors")
      .filter(col("ivf_list").isin(probes: _*))
      .select(col(idCol), Vectors.cosineTo(col(vecCol), query).as("sim"))
    rankTopK(cands.orderBy(desc("sim"), col(idCol)).limit(k), idCol)
  }

  /** Batch SEMANTIC near-dup matches against a persisted IVF index —
    * the embedding-cosine twin of
    * [[graft.operators.Dedup.nearDupAgainstIndex]]: for every batch
    * vector, the indexed vectors at cosine ≥ `threshold` within its
    * `nprobe` probed lists. Plan: the centroid table (list-count-sized)
    * reads once and closes over ONE narrow probe-assignment pass — each
    * batch vector explodes to its nprobe list ids; the batch's distinct
    * probed lists (≤ k, a bounded collect) PRUNE the index scan to the
    * touched `ivf_list=` partitions; one list-keyed join scores
    * candidates with the codegen cosine. Each indexed vector lives in
    * exactly one list, so a (batch, indexed) pair scores at most once.
    * ANN caveat: a true neighbor outside the probed lists is missed —
    * `nprobe` is the recall lever, exactly the `ivfTopKIndexed`
    * contract. Works against plain AND fused indexes (vectors/ is
    * layout-identical; this is a read path). Returns
    * (idCol, match_id, sim 6dp). */
  def semanticMatchesAgainstIndex(batch: DataFrame, idCol: String,
                                  vecCol: String, indexDir: String,
                                  threshold: Double,
                                  nprobe: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    val centroids = ivfReadCentroids(spark, indexDir)
    val probeUdf = udf { (v: Seq[Float]) =>
      nearestLists(v.toArray, centroids, nprobe)
    }
    val probed = batch
      .select(col(idCol).as("__bid"), col(vecCol).as("__bvec"))
      .withColumn("ivf_list", explode(probeUdf(col("__bvec"))))
      .localCheckpoint(eager = true) // feeds the probe census + the join
    val lists = probed.select("ivf_list").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted // bounded: <= k list ids
    if (lists.isEmpty)
      return probed.filter(lit(false))
        .select(col("__bid").as(idCol), col("__bid").as("match_id"),
          lit(0.0).as("sim"))
    val idx = graft.sources.IO.readArtifact(spark, s"$indexDir/vectors")
      .filter(col("ivf_list").isin(lists: _*))
      .select(col("ivf_list"), col(idCol).as("match_id"),
        col(vecCol).as("__ivec"))
    probed.join(idx, Seq("ivf_list"))
      .select(col("__bid"), col("match_id"),
        Vectors.cosine(col("__bvec"), col("__ivec")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("__bid").as(idCol), col("match_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Semantic dedup of an ingest batch against the persisted IVF index:
    * batch rows within `threshold` cosine of ANY indexed vector drop;
    * survivors return (call [[ivfAppendIndex]] with them to advance the
    * index — the [[graft.operators.Dedup.nearDupAgainstIndex]]
    * admission pattern, vector edition). */
  def semanticDedupAgainstIndex(batch: DataFrame, idCol: String,
                                vecCol: String, indexDir: String,
                                threshold: Double,
                                nprobe: Int = 4): DataFrame =
    batch.join(
      semanticMatchesAgainstIndex(batch, idCol, vecCol, indexDir,
        threshold, nprobe).select(idCol).distinct(),
      Seq(idCol), "left_anti")

  /** INTRA-batch semantic collapse — the within-micro-batch half of the
    * semantic ingest gate (VERDICT r13 #1): batch vectors within
    * `threshold` cosine of EACH OTHER collapse to one canonical
    * survivor (min id per near-dup family —
    * [[graft.operators.Dedup.keepCanonical]] over confirmed pairs), so
    * two near-identical vectors arriving in the SAME batch no longer
    * both admit. Candidates are pairs sharing ANY of their `nprobe`
    * probed lists under the index's centroids (the same probe geometry
    * as the index gate — strictly higher recall than
    * assigned-list-only, because borderline vectors probe both sides of
    * a centroid boundary); confirm is exact cosine on the
    * candidate-bounded pair list. Work ∝ batch² only within shared
    * probed lists — batch-sized, never corpus-sized. Same ANN caveat as
    * the index gate: a true pair probing disjoint lists is missed.
    * Requires the seeded index (centroids) — the
    * [[graft.sources.IO.semanticDedupSink]] contract. */
  def semanticCollapseBatch(batch: DataFrame, idCol: String, vecCol: String,
                            indexDir: String, threshold: Double,
                            nprobe: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    val centroids = ivfReadCentroids(spark, indexDir)
    val probeUdf = udf { (v: Seq[Float]) =>
      nearestLists(v.toArray, centroids, nprobe)
    }
    val probed = batch
      .select(col(idCol).as("__pid"),
        explode(probeUdf(col(vecCol))).as("ivf_list"))
      .localCheckpoint(eager = true) // both self-join sides, one probe pass
    val cand = probed.as("a")
      .join(probed.as("b"),
        col("a.ivf_list") === col("b.ivf_list") &&
          col("a.__pid") < col("b.__pid"))
      .select(col("a.__pid").as("id_a"), col("b.__pid").as("id_b"))
      .distinct()
    val vecs = batch.select(col(idCol), col(vecCol))
    val confirmed = cand
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va")),
        Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb")),
        Seq("id_b"))
      .filter(Vectors.cosine(col("__va"), col("__vb")) >= threshold)
      .select("id_a", "id_b")
    graft.operators.Dedup.keepCanonical(batch, confirmed, idCol)
  }

  // ---- int8 embedding storage quantization --------------------------

  /** Symmetric per-vector int8 quantization: scale = maxAbs/127, codes
    * stored as an 8-bit binary column — a 4× storage/IO cut for
    * embedding tables (the difference between 100 TB and 25 TB of
    * vectors) at <0.1% cosine error for typical embeddings. A narrow
    * map; returns struct(scale float, q binary). */
  def quantizeInt8: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Float]) =>
      var maxAbs = 0f
      v.foreach(x => if (math.abs(x) > maxAbs) maxAbs = math.abs(x))
      val scale = if (maxAbs == 0f) 1f else maxAbs / 127f
      val q = new Array[Byte](v.length)
      var i = 0
      while (i < q.length) {
        q(i) = math.max(-127, math.min(127, math.round(v(i) / scale))).toByte
        i += 1
      }
      (scale, q)
    }

  /** Inverse of [[quantizeInt8]] — reconstructs float vectors from the
    * (scale, codes) pair; a narrow map. */
  def dequantizeInt8: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (scale: Float, q: Array[Byte]) => q.map(_ * scale).toSeq }

  // ---- product quantization (PQ) -------------------------------------

  /** Train PQ codebooks: the vector space is split into `m` disjoint
    * coordinate subspaces and each gets its own k-means codebook
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI'11). A vector is then `m` centroid ids = `m` BYTES (k ≤ 256)
    * — for 64-dim float32 embeddings an m=8 code is a 32× storage cut
    * (256 B → 8 B), the difference between vectors-on-disk and
    * vectors-in-memory at 100 TB corpus scale; int8 ([[quantizeInt8]])
    * is the 4× mid-point of the same tradeoff curve.
    *
    * Training runs on a seeded driver-side sample (same discipline and
    * default budget as [[ivfTrain]] — codebooks are k·dim floats, tiny);
    * returns `m × k × (dim/m)` centroids. */
  def pqTrain(emb: DataFrame, vecCol: String, dim: Int, m: Int = 8,
              k: Int = 16, sampleSize: Int = 1024, iters: Int = 10,
              seed: Long = 42L): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    require(k <= 256, s"k=$k must fit one byte per subspace")
    val sub = dim / m
    val sample = emb.select(vecCol).rdd
      .takeSample(withReplacement = false, sampleSize, seed)
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    Array.tabulate(m) { j =>
      val subSample = sample.map(_.slice(j * sub, (j + 1) * sub))
      var cents = kppInit(subSample, k, seed + j)
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Int](k)
        subSample.foreach { v =>
          val c = nearestCentroid(v, cents)
          counts(c) += 1
          var i = 0
          while (i < sub) { sums(c)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(k) { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(x => (x / counts(c)).toFloat)
        }
      }
      cents
    }
  }

  /** Encode vectors to PQ codes: per subspace, the nearest codebook
    * centroid's id — `m` bytes per vector. A narrow map over the corpus;
    * the codebooks broadcast (k·dim floats). UDF justified: a per-row
    * byte-loop over broadcast state has no builtin form, and the whole
    * point is that its OUTPUT (the codes table) is what scans at query
    * time — encode runs once per corpus/refresh. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Float]]]): DataFrame =
    emb.select(col(idCol),
      pqEncoder(emb.sparkSession, codebooks)(col(vecCol)).as("pq_code"))

  /** The [[pqEncode]] UDF alone (codebooks broadcast) — shared with the
    * fused-index refresh, which must keep `ivf_list` alongside. */
  private def pqEncoder(spark: org.apache.spark.sql.SparkSession,
                        codebooks: Array[Array[Array[Float]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(codebooks)
    udf { (v: Seq[Float]) =>
      val cbs = bc.value
      val m = cbs.length
      val sub = v.length / m
      val arr = v.toArray
      val code = new Array[Byte](m)
      var j = 0
      while (j < m) {
        code(j) = nearestCentroid(arr.slice(j * sub, (j + 1) * sub), cbs(j)).toByte
        j += 1
      }
      code
    }
  }

  /** ANN top-k over PQ codes via ADC (asymmetric distance computation):
    * the query stays FLOAT; per subspace a k-entry table of
    * (query-subvector · centroid) dot products and centroid norms is
    * computed ONCE on the driver, and each corpus code is scored by `m`
    * table lookups — the approximate cosine of the query against the
    * code's reconstruction. Subspaces are disjoint coordinates, so the
    * reconstruction's norm² is exactly the sum of its centroids' norm²s
    * — the cosine denominator is also a table lookup. The scan is a
    * narrow map over the CODES table (m bytes/row, not dim floats) into
    * the same TakeOrderedAndProject bounded-heap top-k as
    * [[bruteForceTopK]]. */
  def pqTopK(codes: DataFrame, codebooks: Array[Array[Array[Float]]],
             query: Array[Float], k: Int, idCol: String = "vec_id"): DataFrame = {
    val m = codebooks.length
    val sub = query.length / m
    val dotTable = Array.tabulate(m) { j =>
      codebooks(j).map { c =>
        var s = 0.0; var i = 0
        while (i < sub) { s += query(j * sub + i) * c(i); i += 1 }
        s
      }
    }
    val norm2Table = Array.tabulate(m) { j =>
      codebooks(j).map { c =>
        var s = 0.0; var i = 0
        while (i < sub) { s += c(i) * c(i); i += 1 }
        s
      }
    }
    val qNorm = math.sqrt(query.map(x => x.toDouble * x).sum)
    val spark = codes.sparkSession
    val bcDot = spark.sparkContext.broadcast(dotTable)
    val bcN2 = spark.sparkContext.broadcast(norm2Table)
    val score = udf { (code: Array[Byte]) =>
      val dt = bcDot.value; val n2 = bcN2.value
      var dot = 0.0; var norm2 = 0.0; var j = 0
      while (j < code.length) {
        val c = code(j) & 0xff
        dot += dt(j)(c); norm2 += n2(j)(c); j += 1
      }
      val denom = qNorm * math.sqrt(norm2)
      if (denom == 0.0) 0.0 else dot / denom
    }
    rankTopK(codes.select(col(idCol), score(col("pq_code")).as("sim"))
      .orderBy(desc("sim"), col(idCol)).limit(k), idCol)
  }

  /** BATCH PQ ANN — many probes against the codes table in ONE plan (the
    * re-ranking shape: a probe batch arrives, every probe needs its
    * top-k): the m×k ADC lookup tables are computed PER PROBE ON
    * EXECUTORS (a narrow map over the probe relation with the codebooks
    * broadcast — [[pqTopK]]'s driver-side tables stay a single-probe
    * convenience only), the probe-with-tables relation broadcasts into
    * a crossJoin over one corpus-codes scan, each (probe, code) pair is
    * scored by the codegen'd [[graft.functions.PqAdcScore]] (m array
    * lookups inside whole-stage codegen), and per-probe top-k folds
    * through the bounded-heap [[graft.functions.TopKAggregator]] — the
    * exact q_knn_join scale shape: the corpus never shuffles by probe,
    * nothing probe-proportional ever reaches the driver.
    *
    * Table entries accumulate in the same index order as [[pqTopK]]'s
    * driver tables, so batch and single-probe scores are bit-identical
    * (the parity law ScalePathSpec pins). Returns (probeIdCol, rn,
    * idCol), rank 1 = nearest, ties to the smaller id. */
  def pqTopKBatch(codes: DataFrame, codebooks: Array[Array[Array[Float]]],
                  probes: DataFrame, probeIdCol: String, probeVecCol: String,
                  k: Int, idCol: String = "vec_id"): DataFrame = {
    val spark = codes.sparkSession
    val m = codebooks.length
    val kSub = codebooks(0).length
    val bc = spark.sparkContext.broadcast(codebooks)
    val tables = udf { (v: Seq[Float]) =>
      val cbs = bc.value
      val sub = v.length / cbs.length
      val arr = v.toArray
      val dot = new Array[Double](cbs.length * kSub)
      val n2 = new Array[Double](cbs.length * kSub)
      var j = 0
      while (j < cbs.length) {
        var c = 0
        while (c < kSub) {
          val cent = cbs(j)(c)
          var sD = 0.0; var sN = 0.0; var i = 0
          while (i < sub) {
            sD += arr(j * sub + i) * cent(i)
            sN += cent(i) * cent(i)
            i += 1
          }
          dot(j * kSub + c) = sD
          n2(j * kSub + c) = sN
          c += 1
        }
        j += 1
      }
      var qn = 0.0
      arr.foreach(x => qn += x.toDouble * x)
      (dot, n2, math.sqrt(qn))
    }
    val p = probes
      .select(col(probeIdCol), tables(col(probeVecCol)).as("__t"))
      .select(col(probeIdCol), col("__t._1").as("__dot"),
        col("__t._2").as("__n2"), col("__t._3").as("__qn"))
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val score = ColumnBridge.column(graft.functions.PqAdcScore(
      ColumnBridge.expression(col("__dot")),
      ColumnBridge.expression(col("__n2")),
      ColumnBridge.expression(col("__qn")),
      ColumnBridge.expression(col("pq_code")), kSub))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    codes.crossJoin(broadcast(p))
      .select(col(probeIdCol), col(idCol), score.as("sim"))
      .groupBy(probeIdCol)
      .agg(topk(col("sim"), col(idCol)).as("ids"))
      .select(col(probeIdCol), posexplode(col("ids")).as(Seq("pos", idCol)))
      .select(col(probeIdCol), (col("pos") + 1).cast("long").as("rn"), col(idCol))
      .orderBy(probeIdCol, "rn")
  }

  // ---- IVF-PQ fused index --------------------------------------------
  //
  // The composition VERDICT r11 #4 asked for: PQ codes stored INSIDE the
  // IVF `ivf_list=` layout, so a probe scans pruned lists of m-BYTE codes
  // (memory-bounded ADC) and only the top candidates' raw vectors are
  // ever read (exact re-rank). At 100 TB: IVF cuts the scan to
  // nprobe/k of the corpus at the FILE level, PQ cuts the bytes per
  // scanned row 32× (64-dim f32 → 8 B), and the re-rank reads a
  // candidate-count-bounded slice of the vectors — the standard
  // IVFADC design (Jégou et al., TPAMI'11 §IV).
  //
  // Layout under `indexDir/`:
  //   centroids/              k coarse rows     (shared with plain IVF)
  //   vectors/ivf_list=N/     raw vectors       (byte-compatible with
  //                                              plain IVF for READS —
  //                                              ivfTopKIndexed, probe
  //                                              scans, censuses; plain
  //                                              MUTATION verbs refuse a
  //                                              fused index, see
  //                                              [[isFusedIndex]])
  //   codebooks/              m×kSub PQ rows
  //   codes/ivf_list=N/       (id, pq_code)     the ADC probe surface
  //
  // Codes are RESIDUAL encodings (v − coarse centroid of its list, the
  // IVFADC design proper): within a list every vector shares the coarse
  // part, so raw-vector codes would collapse to near-identical words
  // and ADC couldn't rank INSIDE a list at all (raw-code ADC measured
  // ~0.02 recall@10 during development). The shipped residual design at
  // 1M × 64f (BASELINE.md's Round-13 "fused IVF-PQ at scale" row): recall@10
  // 0.55 / 0.80 / 0.94 at refine 8 / 32 / 128 — `refine` is the
  // recall-vs-re-rank-I/O lever, and on a corpus whose true neighbors
  // sit inside ADC's quantization noise the lever is the design, not a
  // workaround.
  // The codebooks therefore quantize the residual distribution, and the
  // ADC scorer folds the per-list coarse terms back in from the k-row
  // centroid table (driver-sized closed form, no extra scan).
  //
  // INVARIANT: codes/ mirrors vectors/ list-for-list
  // (codes(list) == residual-encode(vectors(list)) under the persisted
  // codebooks — [[ivfPqEncodeResiduals]]). The write, append and split
  // restore it by re-encoding exactly the lists the vector verb touched;
  // the refresh derives codes purely from vectors/, so a crash between
  // the two writes is repaired by re-running the verb (refresh is
  // idempotent). The takedown removes the same rows from both.

  /** Persist PQ codebooks as a small (m·kSub)-row table. */
  def pqWriteCodebooks(spark: org.apache.spark.sql.SparkSession,
                       codebooks: Array[Array[Array[Float]]],
                       indexDir: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
    }.toSeq.toDF("subspace", "code", "sub_centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks")
  }

  /** Load persisted PQ codebooks — m·kSub small rows. Schema-cached
    * read (r18), same contract as [[ivfReadCentroids]]. */
  def pqReadCodebooks(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): Array[Array[Array[Float]]] = {
    val rows = graft.sources.IO.readArtifact(spark, s"$indexDir/codebooks")
      .select("subspace", "code", "sub_centroid")
      .collect() // bounded: m*kSub codebook rows
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m) { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3)
    }
  }

  /** Residual-encode vectors that already carry their `ivf_list`: per
    * row, code_j = the nearest codebook entry to subspace j of
    * (v − centroid(list)). The shared encode step of the refresh AND
    * the mirror-invariant law (ScalePathSpec re-derives codes/ with it).
    * Returns (idCol, pq_code, ivf_list). */
  def ivfPqEncodeResiduals(vecsWithList: DataFrame, idCol: String,
                           vecCol: String,
                           centroids: Array[Array[Float]],
                           codebooks: Array[Array[Array[Float]]])
      : DataFrame = {
    val spark = vecsWithList.sparkSession
    val bcC = spark.sparkContext.broadcast(centroids)
    val bcB = spark.sparkContext.broadcast(codebooks)
    val enc = udf { (v: Seq[Float], list: Int) =>
      val cent = bcC.value(list)
      val cbs = bcB.value
      val m = cbs.length
      val sub = v.length / m
      val arr = v.toArray
      val code = new Array[Byte](m)
      val r = new Array[Float](sub)
      var j = 0
      while (j < m) {
        var i = 0
        while (i < sub) { r(i) = arr(j * sub + i) - cent(j * sub + i); i += 1 }
        code(j) = nearestCentroid(r, cbs(j)).toByte
        j += 1
      }
      code
    }
    vecsWithList.select(col(idCol),
      enc(col(vecCol), col("ivf_list").cast("int")).as("pq_code"),
      col("ivf_list"))
  }

  /** Re-encode `lists` from vectors/ into codes/ — the invariant-
    * restoring refresh the fused write, append and split end with.
    * Reads ONLY the given list partitions (pruned), residual-encodes
    * them under the persisted centroids + codebooks, and rewrites ONLY
    * those code partitions ([[BucketedIndex.rewrite]], which also drops
    * code dirs whose vector dir vanished). Idempotent: pure function of
    * vectors/ + centroids/ + codebooks/. */
  def ivfPqRefreshLists(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, idCol: String, vecCol: String,
                        lists: Seq[Int],
                        // r18: a caller that just WROTE the artifacts
                        // (ivfPqWriteIndex) or already read them passes
                        // the in-memory values — byte-identical to the
                        // persisted ones — instead of paying two more
                        // read+collect jobs per refresh
                        centroidsKnown: Option[Array[Array[Float]]] = None,
                        codebooksKnown: Option[Array[Array[Array[Float]]]] = None)
      : Unit = {
    if (lists.isEmpty) return
    val centroids = centroidsKnown.getOrElse(ivfReadCentroids(spark, indexDir))
    val codebooks = codebooksKnown.getOrElse(pqReadCodebooks(spark, indexDir))
    val vecs = IO.readArtifact(spark, s"$indexDir/vectors")
      .filter(col("ivf_list").isin(lists: _*))
    val pinned = ivfPqEncodeResiduals(vecs, idCol, vecCol, centroids,
      codebooks).localCheckpoint(eager = true)
    try BucketedIndex.rewrite(IvfPqIndex, pinned, s"$indexDir/codes",
      lists.map(_.toLong))
    finally Checkpoints.drop(pinned)
  }

  /** Build the fused IVF-PQ index: coarse assignment + raw vectors
    * (the plain-IVF layout), PQ codebooks trained on a bounded sample
    * of RESIDUALS (v − assigned centroid — the quantity the codes must
    * discriminate), and the per-list codes table. `dim` is the
    * embedding width (validated against `m` by [[pqTrain]]). */
  def ivfPqWriteIndex(emb: DataFrame, idCol: String, vecCol: String,
                      centroids: Array[Array[Float]], dim: Int,
                      indexDir: String, m: Int = 8, kSub: Int = 16,
                      sampleSize: Int = 1024, iters: Int = 10,
                      seed: Long = 42L): Unit = {
    val spark = emb.sparkSession
    ivfWriteVectors(emb, vecCol, centroids, indexDir)
    val bcC = spark.sparkContext.broadcast(centroids)
    val residual = udf { (v: Seq[Float], list: Int) =>
      val cent = bcC.value(list)
      v.toArray.zipWithIndex.map { case (x, i) => x - cent(i) }.toSeq
    }
    val resid = ivfAssign(emb, vecCol, centroids)
      .select(residual(col(vecCol), col("ivf_list")).as("__resid"))
    val codebooks = pqTrain(resid, "__resid", dim, m, kSub, sampleSize,
      iters, seed)
    pqWriteCodebooks(spark, codebooks, indexDir)
    // pass the just-written artifacts in memory (float parquet
    // round-trips are exact, so these ARE the persisted values)
    ivfPqRefreshLists(spark, indexDir, idCol, vecCol,
      centroids.indices.toSeq, Some(centroids), Some(codebooks))
  }

  /** Steady-state append to a fused index: the plain-IVF vector append
    * (touched-lists-only upsert), then code refresh of exactly those
    * lists, under ONE centroid read and ONE batch assignment. Cost:
    * O(batch + touched lists), independent of index size. An index a
    * takedown emptied is seeded again. */
  def ivfPqAppendIndex(newVecs: DataFrame, idCol: String, vecCol: String,
                       indexDir: String): Unit = {
    val spark = newVecs.sparkSession
    val centroids = ivfReadCentroids(spark, indexDir)
    val touched = ivfAppendVectors(newVecs, idCol, vecCol, indexDir, centroids)
    ivfPqRefreshLists(spark, indexDir, idCol, vecCol, touched,
      Some(centroids))
  }

  /** Takedown on a fused index: one [[BucketedIndex.delete]] over
    * `vectors/` + `codes/` (touched lists located by a column-pruned
    * (id, list) scan of vectors/). Codes are a per-row function of the
    * vector and its list's centroid, so taking the same rows out of
    * both keeps the mirror without re-encoding; emptied lists lose both
    * their vector AND code dirs, and an index emptied entirely keeps
    * only its centroids/ + codebooks/. */
  def ivfPqDeleteIds(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String, idCol: String, vecCol: String,
                     ids: DataFrame): Unit =
    BucketedIndex.delete(IvfPqIndex, indexDir, ids.select(col(idCol)))

  /** Re-embed ids in a fused index — the [[ivfReembedIndex]] twin:
    * fused delete + fused append, so each id lands exactly once in the
    * list its NEW vector assigns to, both halves keep the code mirror,
    * and the cost stays O(batch + touched lists). */
  def ivfPqReembedIndex(newVecs: DataFrame, idCol: String, vecCol: String,
                        indexDir: String): Unit = {
    val spark = newVecs.sparkSession
    ivfPqDeleteIds(spark, indexDir, idCol, vecCol, newVecs.select(col(idCol)))
    ivfPqAppendIndex(newVecs, idCol, vecCol, indexDir)
  }

  /** The memory-bounded ADC candidate stage of [[ivfPqTopK]], exposed
    * so its plan is testable: a scan of the probed CODE partitions only
    * — m bytes per row, never the raw vectors.
    *
    * Residual ADC closed form (per row in list l with code word
    * (c_1..c_m), v̂ = C_l + r̂):
    *   q·v̂    = A_l + Σ_j B(j,c_j)          A_l = q·C_l (per-list const)
    *                                         B   = q_j·r̂ table (m×kSub)
    *   |v̂|²   = N_l + Σ_j D_l(j,c_j)        N_l = |C_l|²
    *                                         D_l = 2·C_l,j·r̂ + |r̂|²
    * Every table is centroid/codebook-sized — computed once on the
    * driver per query (k·m·kSub floats), broadcast, and folded over the
    * m-byte codes in one narrow scan into the same bounded-heap top-k
    * as [[pqTopK]]. */
  def ivfPqCandidates(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, idCol: String,
                      query: Array[Float], refineK: Int,
                      nprobe: Int): DataFrame = {
    val centroids = ivfReadCentroids(spark, indexDir)
    val codebooks = pqReadCodebooks(spark, indexDir)
    ivfPqCandidatesOn(spark, indexDir, idCol, query, refineK,
      nearestLists(query, centroids, nprobe), centroids, codebooks)
  }

  /** [[ivfPqCandidates]] with the centroid/codebook artifacts already
    * loaded — the shared core that lets [[ivfPqTopK]] pay ONE read of
    * each small artifact per query instead of one per step (r18,
    * guide §6: the repeated-artifact-read churn was ~6 parquet
    * read+collect jobs per fused query). */
  private def ivfPqCandidatesOn(spark: org.apache.spark.sql.SparkSession,
                                indexDir: String, idCol: String,
                                query: Array[Float], refineK: Int,
                                probes: Seq[Int],
                                centroids: Array[Array[Float]],
                                codebooks: Array[Array[Array[Float]]])
      : DataFrame = {
    val m = codebooks.length
    val kSub = codebooks(0).length
    val sub = query.length / m
    // list-independent: B(j,c) = q_j · r̂_{j,c}
    val bTable = Array.tabulate(m, kSub) { (j, c) =>
      var s = 0.0; var i = 0
      val cent = codebooks(j)(c)
      while (i < sub) { s += query(j * sub + i) * cent(i); i += 1 }
      s
    }
    // per-list: A_l = q·C_l, N_l = |C_l|², D_l(j,c) = 2·C_l,j·r̂ + |r̂|²
    val nLists = centroids.length
    val aTable = new Array[Double](nLists)
    val nTable = new Array[Double](nLists)
    val dTable = Array.ofDim[Double](nLists, m * kSub)
    probes.foreach { l =>
      val cl = centroids(l)
      var qd = 0.0; var nn = 0.0; var i = 0
      while (i < cl.length) {
        qd += query(i) * cl(i); nn += cl(i).toDouble * cl(i); i += 1
      }
      aTable(l) = qd; nTable(l) = nn
      var j = 0
      while (j < m) {
        var c = 0
        while (c < kSub) {
          val cent = codebooks(j)(c)
          var cross = 0.0; var r2 = 0.0; var t = 0
          while (t < sub) {
            cross += cl(j * sub + t) * cent(t)
            r2 += cent(t).toDouble * cent(t)
            t += 1
          }
          dTable(l)(j * kSub + c) = 2.0 * cross + r2
          c += 1
        }
        j += 1
      }
    }
    val qNorm = math.sqrt(query.map(x => x.toDouble * x).sum)
    val bcB = spark.sparkContext.broadcast(bTable)
    val bcA = spark.sparkContext.broadcast(aTable)
    val bcN = spark.sparkContext.broadcast(nTable)
    val bcD = spark.sparkContext.broadcast(dTable)
    val score = udf { (code: Array[Byte], list: Int) =>
      val b = bcB.value; val d = bcD.value(list)
      var dot = bcA.value(list); var norm2 = bcN.value(list); var j = 0
      while (j < code.length) {
        val c = code(j) & 0xff
        dot += b(j)(c); norm2 += d(j * kSub + c); j += 1
      }
      val denom = qNorm * math.sqrt(math.max(norm2, 0.0))
      if (denom == 0.0) 0.0 else dot / denom
    }
    val codes = graft.sources.IO.readArtifact(spark, s"$indexDir/codes")
      .filter(col("ivf_list").isin(probes: _*))
      .select(col(idCol),
        score(col("pq_code"), col("ivf_list").cast("int")).as("sim"))
    rankTopK(codes.orderBy(desc("sim"), col(idCol)).limit(refineK), idCol)
  }

  /** IVF-PQ ANN top-k — the fused query path (IVFADC + exact re-rank):
    *
    *   1. probe selection: `nprobe` nearest coarse centroids
    *      (driver-side, k small rows);
    *   2. ADC candidates: scan ONLY the probed `codes/` partitions —
    *      m bytes/row — and keep the `refine`·k best approximate
    *      scores ([[pqTopK]]'s bounded-heap TakeOrderedAndProject);
    *   3. exact re-rank: read the candidates' RAW vectors through a
    *      partition-pruned `vectors/` scan with an id pushdown (the
    *      candidate id set is `refine`·k — driver-bounded by
    *      construction, the same bounded-collect contract as
    *      [[queryVector]]), exact cosine, final top-k.
    *
    * `refine` trades ADC quantization error for re-rank I/O; at
    * `refine`·k ≥ the probed rows the result equals
    * [[ivfTopKIndexed]] exactly (the ScalePathSpec law).
    *
    * DEFAULT refine = 128 (raised from 4 in round 14, VERDICT r13 #4):
    * the measured post-retrain drift ladder at 1M vectors
    * (BASELINE.md r14 row) shows recall at drifted query modes is
    * REFINE-limited, not probe-limited — nprobe 8→64 at refine 32 all
    * read 0.73, while refine 128 restores 1.0 at every nprobe. The cost
    * of the wider refine is an O(refine·k) bounded heap + a
    * refine·k-row id-pushdown re-rank — noise next to the probed codes
    * scan — so the recall-safe setting is the right default; callers
    * chasing the last milliseconds on undrifted indexes can lower it. */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                idCol: String, vecCol: String, query: Array[Float],
                k: Int, nprobe: Int = 4, refine: Int = 128): DataFrame = {
    require(k >= 1 && refine >= 1, s"need k >= 1, refine >= 1; got $k, $refine")
    // ONE read of each small artifact serves probe selection, the ADC
    // tables AND the re-rank pruning (r18 — was 2× centroids + 1×
    // codebooks re-read per query)
    val centroids = ivfReadCentroids(spark, indexDir)
    val codebooks = pqReadCodebooks(spark, indexDir)
    val probes = nearestLists(query, centroids, nprobe)
    val candIds = ivfPqCandidatesOn(spark, indexDir, idCol, query,
      refine * k, probes, centroids, codebooks).select(col(idCol))
      .collect().map(_.getLong(0)) // bounded: refine*k candidate ids
    val exact = graft.sources.IO.readArtifact(spark, s"$indexDir/vectors")
      .filter(col("ivf_list").isin(probes: _*))       // partition-pruned
      .filter(col(idCol).isin(candIds.map(Long.box): _*)) // id pushdown
      .select(col(idCol), Vectors.cosineTo(col(vecCol), query).as("sim"))
    rankTopK(exact.orderBy(desc("sim"), col(idCol)).limit(k), idCol)
  }

  /** On-disk bytes of the probed `vectors/ivf_list=` partitions for a
    * query — the warm-storage gate's measured input ([[ivfPqTopKAuto]]):
    * `nprobe` directory-status calls, no data read. A missing list dir
    * (possible after takedown emptied it) counts zero. */
  def probedVectorBytes(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, query: Array[Float],
                        nprobe: Int): Long = {
    val centroids = ivfReadCentroids(spark, indexDir)
    probedBytesForLists(spark, indexDir,
      nearestLists(query, centroids, nprobe))
  }

  private def probedBytesForLists(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String,
                                  probes: Seq[Int]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    probes.map { l =>
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/vectors/ivf_list=$l")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** Storage-locality-gated fused top-k (VERDICT r13 #2) — picks the
    * right fused-index read path per query by MEASURING the probed
    * partitions instead of guessing:
    *
    *   - WARM route (probed `vectors/` bytes ≤ `warmProbeBytes`): the
    *     plain exact probe ([[ivfTopKIndexed]]) — ONE partition-pruned
    *     scan serving both candidate generation and ranking. Where the
    *     probed vectors are cheap to read, the fused path's two reads
    *     (codes for ADC + vectors for the exact re-rank of the SAME
    *     probed lists) are pure overhead — measured at 1M×64d:
    *     fused 1.46–1.60 s vs plain 0.79–0.83 s (BASELINE.md r13 row).
    *   - COLD route (probed bytes above the threshold): the fused
    *     IVFADC path ([[ivfPqTopK]]) — the m-bytes/row `codes/` scan
    *     is ~14× smaller than the vectors it stands in for (measured,
    *     same row), and the exact re-rank touches only `refine`·k rows,
    *     so past the threshold the byte cut dominates the double read.
    *
    * The gate is the [[graft.operators.Dedup.mergeComponentsStore]]
    * discipline: a bounded metadata measurement (`nprobe` directory
    * statuses — [[probedVectorBytes]]) picks the route; both routes
    * return identical schemas, and at `refine`·k ≥ probed rows they
    * return identical RESULTS (the ScalePathSpec equality law), so the
    * gate changes cost, not semantics, up to ADC candidate cutoff.
    * Default threshold 256 MB ≈ a few seconds of single-node scan — the
    * break-even scale of the r13 measurement. */
  def ivfPqTopKAuto(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, idCol: String, vecCol: String,
                    query: Array[Float], k: Int, nprobe: Int = 4,
                    refine: Int = 128,
                    warmProbeBytes: Long = 256L << 20): DataFrame = {
    // ONE centroid read serves probe selection, the byte gate and
    // (warm) the scan — the warm route costs the plain probe plus only
    // nprobe directory statuses
    val centroids = ivfReadCentroids(spark, indexDir)
    val probes = nearestLists(query, centroids, nprobe)
    if (probedBytesForLists(spark, indexDir, probes) <= warmProbeBytes)
      ivfTopKOnLists(spark, indexDir, idCol, vecCol, query, k, probes)
    else
      ivfPqTopK(spark, indexDir, idCol, vecCol, query, k, nprobe, refine)
  }

  /** Full retrain of a fused index — the drift remedy, on the same
    * skeleton as [[ivfRetrainIndex]] ([[retrainBeside]]): fresh coarse
    * centroids, fresh PQ codebooks and a full re-encode, built beside
    * the live fused index, which serves reads until the swap. */
  def ivfPqRetrainIndex(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, idCol: String, vecCol: String,
                        k: Int, dim: Int, m: Int = 8, kSub: Int = 16,
                        iters: Int = 8, seed: Long = 42L): Unit =
    retrainBeside(spark, indexDir, vecCol, k, iters, seed, "ivfPqRetrainIndex") {
      (vecs, centroids, next) =>
        ivfPqWriteIndex(vecs, idCol, vecCol, centroids, dim, next, m, kSub,
          iters = iters, seed = seed)
    }

  /** Embedding near-dup buckets: sign-LSH signature histogram — bucket id,
    * member count, representative min id. Buckets with n_vecs > 1 are the
    * near-dup candidate sets (exact cosine confirm happens inside buckets,
    * bounded by bucket size, never all-pairs). */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String,
                 numPlanes: Int = 16, dim: Int = 64): DataFrame = {
    val planes = Vectors.hyperplanes(numPlanes, dim)
    emb.select(col(idCol), Vectors.lshSignature(col(vecCol), planes).as("sig"))
      .groupBy("sig")
      .agg(count(lit(1)).as("n_vecs"), min(col(idCol)).as("min_id"))
  }

  /** Embedding-cosine near-dup pairs: LSH-bucketed candidate join, then
    * exact cosine ≥ `minCosine` confirm. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            minCosine: Double, numPlanes: Int = 16,
                            dim: Int = 64): DataFrame = {
    val planes = Vectors.hyperplanes(numPlanes, dim)
    val sigs = emb.select(col(idCol), col(vecCol),
      Vectors.lshSignature(col(vecCol), planes).as("sig"))
    val a = sigs.select(col("sig"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = sigs.select(col("sig"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SEMANTIC dedup end-to-end — the embedding-space twin of
    * [[graft.operators.Dedup.clusterByMinhash]]: LSH-bucketed cosine
    * pairs ([[embeddingNearDupPairs]], candidates only — never
    * all-pairs) → connected components over the confirmed pair graph →
    * canonical (minimum-id) keep. Same LSH recall caveat: a true
    * near-dup pair whose sign-signatures differ in any of the
    * `numPlanes` bits is never a candidate; more planes → finer buckets
    * (higher precision, lower recall per bucket). Returns surviving
    * rows of `emb`. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    minCosine: Double, numPlanes: Int = 16,
                    dim: Int = 64): DataFrame = {
    val pairs = embeddingNearDupPairs(emb, idCol, vecCol, minCosine,
      numPlanes, dim)
    graft.operators.Dedup.keepCanonical(emb, pairs, idCol)
  }
}
