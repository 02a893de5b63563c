package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Golden tests for the round-4 scale-path compositions: the composed
  * MinHash near-dup clustering pipeline ([[Dedup.clusterByMinhash]]),
  * incremental IVF index maintenance ([[Similarity.ivfAppendIndex]]), and
  * the approximate-percentile sketch bound. */
class ScalePathSpec extends SparkSpec {
  import spark.implicits._

  // exact-pair clustering twin: threshold the full exact n-gram Jaccard
  // pair list (no LSH), CC, canonical keep — what clusterByMinhash must
  // agree with whenever LSH recall holds
  private def exactSurvivors(docs: org.apache.spark.sql.DataFrame,
                             threshold: Double): Set[Long] = {
    val pairs = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, maxDocFreq = Long.MaxValue)
      .filter(col("jaccard") >= threshold)
    Dedup.keepCanonical(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
  }

  test("clusterByMinhash agrees with exact clustering on high-overlap clusters") {
    // cluster A (1,2,3): near-identical 41-token docs, pairwise j ~ 0.85
    // — P(LSH candidate) ~ 1 - (1-j^4)^8 > 0.999, and with these exact
    // strings the candidacy is deterministic (asserted below); cluster B
    // (10,11): same shape; 20, 21: unrelated singletons
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, base + " endA"), (2L, base + " endB"), (3L, base + " endC"),
      (10L, (100 to 135).map(i => s"u$i").mkString(" ") + " tail1"),
      (11L, (100 to 135).map(i => s"u$i").mkString(" ") + " tail2"),
      (20L, (200 to 240).map(i => s"v$i").mkString(" ")),
      (21L, (300 to 340).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")

    val exact = exactSurvivors(docs, 0.5)
    assert(exact == Set(1L, 10L, 20L, 21L),
      s"fixture sanity: exact clustering must merge the two clusters: $exact")

    val viaMinhash = Dedup.clusterByMinhash(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(viaMinhash == exact,
      s"scale path must agree with exact clustering: $viaMinhash vs $exact")
  }

  test("clusterByMinhash documented divergence: an LSH band miss keeps both docs") {
    // Deterministic LSH-miss pair (found by exhaustive probe over suffix
    // variants with the production hash family): 28 shared tokens + 10
    // distinct suffix tokens each → 36 shingles/doc, 26 common, exact
    // j = 26/46 ≈ 0.565 ≥ 0.5, yet NO band bucket of the 32-hash/8-band
    // signatures collides. Exact clustering merges the pair; the LSH
    // pipeline legitimately keeps both — the precision/recall trade the
    // operator's docstring declares (P(candidate) ≈ 0.4 at j = 0.5).
    val shared = (1 to 28).map(i => s"w$i")
    val a = (shared ++ (1 to 10).map(i => s"a3x$i")).mkString(" ")
    val b = (shared ++ (1 to 10).map(i => s"b3y$i")).mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")

    // fixture sanity: the pair clears the threshold exactly…
    val exact = exactSurvivors(docs, 0.5)
    assert(exact == Set(1L), s"exact clustering must merge the pair: $exact")
    // …and is genuinely not an LSH candidate
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    assert(Dedup.minhashCandidateIds(sigs, "doc_id").isEmpty,
      "fixture must be an LSH band miss")

    val viaMinhash = Dedup.clusterByMinhash(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(viaMinhash == Set(1L, 2L),
      s"LSH miss must keep both docs (documented divergence): $viaMinhash")
  }

  test("ivfAppendIndex rewrites only the touched list partitions and stays probe-consistent") {
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; m <- 0 until 6) yield {
      val v = centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      ((c * 6 + m).toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 8, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append_").toString
    Similarity.ivfWriteIndex(emb, "embedding", centroids, dir)

    def partitionFiles(): Map[String, Set[String]] =
      new java.io.File(s"$dir/vectors").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("ivf_list="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val before = partitionFiles()

    // new batch: 3 new ids near center 0 — all assign to cluster 0's list
    val newRows = (100 to 102).map { i =>
      (i.toLong, centers(0).map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val loaded = Similarity.ivfReadCentroids(spark, dir)
    val touchedList = Similarity.nearestLists(centers(0), loaded, 1).head
    Similarity.ivfAppendIndex(newRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)

    // only the touched list's partition directory changed
    val after = partitionFiles()
    val changed = (before.keySet ++ after.keySet).filter(k =>
      before.get(k) != after.get(k))
    assert(changed == Set(s"ivf_list=$touchedList"),
      s"append must rewrite exactly the touched partition: $changed")

    // probe-consistency: a query near center 0 sees the appended vectors
    val q = centers(0)
    val top = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      q, 9, nprobe = 2).select("vec_id").as[Long].collect().toSet
    assert(Set(100L, 101L, 102L).subsetOf(top),
      s"appended vectors must be probeable: $top")
    // and the index row count grew by exactly the batch
    assert(spark.read.parquet(s"$dir/vectors").count() == 48 + 3)

    // id-level upsert: re-submitting an existing id replaces its row
    // (within its list) instead of duplicating it
    Similarity.ivfAppendIndex(
      Seq((100L, centers(0).map(x => x + 0.005f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val rowsFor100 = spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") === 100L).count()
    assert(rowsFor100 == 1L, s"upsert must not duplicate: $rowsFor100 rows")
  }

  test("IVF drift lifecycle: trigger fires on skew, split rewrites touched lists only, retrain restores fresh-build recall") {
    val dim = 8
    val rnd = new scala.util.Random(7)
    def axisVec(axis: Int): Array[Float] =
      Array.tabulate(dim)(j => if (j == axis) 1f else 0f)
    def noisy(center: Array[Float]): Array[Float] =
      center.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    // base corpus: three tight clusters on axes e0, e1, e2 — balanced
    val baseRows = for (c <- 0 until 3; m <- 0 until 40)
      yield ((c * 40 + m).toLong, noisy(axisVec(c)))
    val emb = baseRows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 3, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_drift_").toString
    Similarity.ivfWriteIndex(emb, "embedding", centroids, dir)
    assert(!Similarity.ivfNeedsRetrain(spark, dir, skewFactor = 1.2),
      "balanced index must not trigger")

    // DRIFT: a new content mode on the e0/e1 bisector — every appended
    // vector lands in list 0 or list 1 (noise decides which), skewing
    // both and SCATTERING the new mode across two lists
    val driftCenter = Array.tabulate(dim)(j =>
      if (j <= 1) (1.0 / math.sqrt(2.0)).toFloat else 0f)
    val driftRows = (0 until 160).map(i => ((200 + i).toLong, noisy(driftCenter)))
    Similarity.ivfAppendIndex(driftRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(Similarity.ivfNeedsRetrain(spark, dir, skewFactor = 1.2),
      "drift-skewed index must trigger")

    // recall DECAY is real, measured: the stale centroids make a probe
    // at the drift mode scan one of the two lists its neighbors
    // scattered across
    val full = (baseRows ++ driftRows).toDF("vec_id", "embedding")
      .localCheckpoint(true)
    def recallAt10(annIds: Set[Long]): Double = {
      val brute = Similarity.bruteForceTopK(full, "vec_id", "embedding",
        driftCenter, 10).select("vec_id").as[Long].collect().toSet
      (annIds & brute).size.toDouble / brute.size
    }
    val stale = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      driftCenter, 10, nprobe = 1).select("vec_id").as[Long].collect().toSet
    assert(recallAt10(stale) < 0.9,
      s"fixture sanity: stale recall should be visibly degraded, got ${recallAt10(stale)}")

    // SPLIT (incremental lever): both oversized lists split; the
    // untouched list's directory is byte-identical; the vector multiset
    // survives; each split family is locally consistent with its two
    // sub-centroids; a full-width probe still finds everything
    def listFiles(name: String): Seq[(String, Long)] = {
      val d = new java.io.File(s"$dir/vectors/$name")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toSeq.sortBy(_._1)
    }
    val loaded = Similarity.ivfReadCentroids(spark, dir)
    val quietList = Similarity.nearestLists(axisVec(2), loaded, 1).head
    val quietBefore = listFiles(s"ivf_list=$quietList")
    val splits = Similarity.ivfSplitOversizedLists(spark, dir,
      "vec_id", "embedding", skewFactor = 1.2)
    assert(splits.size == 2 && !splits.contains(quietList),
      s"both skewed lists split: $splits")
    assert(listFiles(s"ivf_list=$quietList") == quietBefore,
      "untouched list must not rewrite")
    val afterSplit = spark.read.parquet(s"$dir/vectors")
    assert(afterSplit.count() == 280 &&
      afterSplit.select("vec_id").distinct().count() == 280,
      "split must preserve the vector multiset")
    val centsAfter = Similarity.ivfReadCentroids(spark, dir)
    assert(centsAfter.length == 5, "each split appends one centroid")
    // local consistency: rows of (old list, its new id) sit with the
    // nearer of the two sub-centroids
    for ((old, newId) <- splits.zip(Seq(3, 4))) {
      val fam = afterSplit.filter(col("ivf_list").isin(old, newId))
        .select("ivf_list", "embedding")
        .as[(Int, Seq[Float])].collect()
      assert(fam.nonEmpty)
      fam.foreach { case (l, v) =>
        val dOld = v.toArray.zip(centsAfter(old)).map { case (a, b) =>
          (a - b) * (a - b) }.sum
        val dNew = v.toArray.zip(centsAfter(newId)).map { case (a, b) =>
          (a - b) * (a - b) }.sum
        assert((l == old) == (dOld <= dNew),
          s"row in list $l but sub-distances are $dOld vs $dNew")
      }
    }
    val fullProbe = Similarity.ivfTopKIndexed(spark, dir, "vec_id",
      "embedding", driftCenter, 10, nprobe = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(recallAt10(fullProbe) == 1.0, "full-width probe must be exact")

    // RETRAIN (recall lever): post-retrain recall == fresh-build recall
    // on the drifted corpus — the preservation law
    Similarity.ivfRetrainIndex(spark, dir, "embedding", k = 4, iters = 10)
    assert(Similarity.ivfReadCentroids(spark, dir).length == 4)
    // (no balance re-check: the drift cluster IS 4x the base clusters,
    // so the retrained index is as balanced as the data allows — the
    // trigger measures size skew, which here reflects true imbalance)
    val retrained = Similarity.ivfTopKIndexed(spark, dir, "vec_id",
      "embedding", driftCenter, 10, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    val freshDir = java.nio.file.Files.createTempDirectory("ivf_fresh_").toString
    val freshCents = Similarity.ivfTrainDistributed(full, "embedding",
      k = 4, iters = 10)
    Similarity.ivfWriteIndex(full, "embedding", freshCents, freshDir)
    val fresh = Similarity.ivfTopKIndexed(spark, freshDir, "vec_id",
      "embedding", driftCenter, 10, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(recallAt10(retrained) == recallAt10(fresh),
      s"retrain must restore fresh-build recall: ${recallAt10(retrained)} vs ${recallAt10(fresh)}")
    assert(recallAt10(retrained) == 1.0,
      s"on the separated fixture both must be exact: ${recallAt10(retrained)}")
  }

  test("ivfRecoverSwap repairs every crash window of the retrain two-rename swap") {
    val rnd = new scala.util.Random(97)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 4; m <- 0 until 5)
      yield ((c * 5 + m).toLong, centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 4, iters = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_recover_").toString + "/idx"
    Similarity.ivfWriteIndex(emb, "embedding", centroids, dir)
    def count(): Long = spark.read.parquet(s"$dir/vectors").count()
    val n = count()

    def mv(a: String, b: String): Unit = {
      val pa = java.nio.file.Paths.get(a); val pb = java.nio.file.Paths.get(b)
      java.nio.file.Files.move(pa, pb)
    }
    def cp(a: String, b: String): Unit = {
      import scala.jdk.CollectionConverters._
      val src = java.nio.file.Paths.get(a)
      java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
        val dst = java.nio.file.Paths.get(b).resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      }
    }

    // window 1: crash between rename(live→bak) and rename(next→live):
    // live absent, _next complete → sweep finishes the swap forward
    cp(dir, dir + "_next")
    mv(dir, dir + "_bak")
    Similarity.ivfRecoverSwap(spark, dir)
    assert(new java.io.File(dir).exists() && count() == n, "forward recovery must restore live")
    assert(!new java.io.File(dir + "_next").exists() && !new java.io.File(dir + "_bak").exists(),
      "forward recovery must clear both scratch dirs")

    // window 2: live absent, only _bak (next already consumed or never
    // written) → sweep rolls back
    mv(dir, dir + "_bak")
    Similarity.ivfRecoverSwap(spark, dir)
    assert(new java.io.File(dir).exists() && count() == n, "rollback recovery must restore live")

    // window 3: live present + stale _next/_bak (crash before the first
    // rename) → sweep drops the stale dirs, live untouched
    cp(dir, dir + "_next")
    cp(dir, dir + "_bak")
    Similarity.ivfRecoverSwap(spark, dir)
    assert(count() == n, "live index must be untouched")
    assert(!new java.io.File(dir + "_next").exists() && !new java.io.File(dir + "_bak").exists(),
      "stale scratch dirs must be swept")

    // and the entry-point integration: retrain after a simulated
    // mid-swap crash still converges to a healthy index
    cp(dir, dir + "_next")
    mv(dir, dir + "_bak")
    Similarity.ivfRetrainIndex(spark, dir, "embedding", k = 4, iters = 8)
    assert(Similarity.ivfReadCentroids(spark, dir).length == 4 && count() == n)
  }

  test("ivfReembedIndex: moved id lands exactly once in its new list; untouched lists byte-identical") {
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; m <- 0 until 6) yield {
      val v = centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      ((c * 6 + m).toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 8, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_reembed_").toString
    Similarity.ivfWriteIndex(emb, "embedding", centroids, dir)
    val loaded = Similarity.ivfReadCentroids(spark, dir)

    // pick an id near center 1 and re-embed it near center 2 — the
    // assignment MUST move lists, the case append alone gets wrong
    val movedId = rows.find(r => Similarity
      .nearestLists(r._2, loaded, 1).head ==
        Similarity.nearestLists(centers(1), loaded, 1).head).get._1
    val oldList = Similarity.nearestLists(
      rows.find(_._1 == movedId).get._2, loaded, 1).head
    val newList = Similarity.nearestLists(centers(2), loaded, 1).head
    assert(oldList != newList, "fixture must move the id across lists")

    def fileChecksums(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/vectors"))
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val crc = new java.util.zip.CRC32
          crc.update(java.nio.file.Files.readAllBytes(f.toPath))
          f.getPath -> crc.getValue
        }.toMap
    }
    val before = fileChecksums()

    val newVec = centers(2).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    Similarity.ivfReembedIndex(Seq((movedId, newVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)

    // exactly one copy, in the NEW list — no stale row in the old list
    val copies = spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") === movedId)
      .select("ivf_list").as[Int].collect().toSeq
    assert(copies == Seq(newList),
      s"re-embedded id must live exactly once in list $newList: $copies")
    assert(spark.read.parquet(s"$dir/vectors").count() == 48,
      "re-embed must not change the index cardinality")

    // lists containing neither the old nor the new copy: byte-identical
    val after = fileChecksums()
    val untouchedBefore = before.filterNot(_._1.contains(s"ivf_list=$oldList"))
      .filterNot(_._1.contains(s"ivf_list=$newList"))
    untouchedBefore.foreach { case (p, crc) =>
      assert(after.get(p).contains(crc), s"untouched list file changed: $p")
    }

    // deleting EVERY id of one list removes its partition directory
    // (dynamic overwrite alone would silently leave it behind)
    val dropList = Similarity.nearestLists(centers(3), loaded, 1).head
    val dropIds = spark.read.parquet(s"$dir/vectors")
      .filter(col("ivf_list") === dropList)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(dropIds.nonEmpty)
    Similarity.ivfDeleteIds(spark, dir, "vec_id",
      dropIds.toDF("vec_id"))
    assert(!new java.io.File(s"$dir/vectors/ivf_list=$dropList").exists(),
      "an emptied list's partition directory must be removed")
    assert(spark.read.parquet(s"$dir/vectors").count() == 48 - dropIds.length)
  }

  test("connectedComponents: 300-node chain converges in O(log diameter) rounds") {
    // a path graph is the worst case for plain min-label propagation
    // (rounds = diameter); with the pointer-jumping shortcut the default
    // maxIter=20 must comfortably close a diameter-299 chain (~2^20 max)
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localMaxEdges = 0 forces the distributed loop: this test exists to
    // exercise the pointer-jumping convergence, not the one-task gate
    val labels = Dedup.connectedComponents(chain, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 300)
    assert(labels.values.forall(_ == 0L),
      s"every chain vertex must label to 0: ${labels.filter(_._2 != 0L).take(5)}")

    // two disjoint chains stay distinct components
    val two = chain.union(
      (1000L until 1050L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    val l2 = Dedup.connectedComponents(two, localMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(l2.filter(_._1 >= 1000L).values.forall(_ == 1000L))
    assert(l2.filter(_._1 < 1000L).values.forall(_ == 0L))
  }

  test("connectedComponents: 10k-link chain resolves via the large-star/small-star fallback") {
    // a 10k-diameter path with maxIter=3 forces min-label to hit its
    // round budget — the crawl-mirror-chain shape that previously threw.
    // The automatic fallback to connectedComponentsLogRounds (round
    // count O(log² n), diameter-independent) must resolve it instead.
    val chain = spark.range(10000)
      .selectExpr("id AS id_a", "id + 1 AS id_b")
    val labels = Dedup.connectedComponents(chain, maxIter = 3,
      localMaxEdges = 0L)
    import org.apache.spark.sql.functions.{countDistinct, max => smax, min => smin}
    val (nLabels, minL, maxL, n) = labels
      .agg(countDistinct("label"), smin("label"), smax("label"), count("*"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(n == 10001L, s"vertex count: $n")
    assert(nLabels == 1L && minL == 0L && maxL == 0L,
      s"one component labeled 0 expected: n_labels=$nLabels min=$minL max=$maxL")

    // direct entry point: two disjoint 5k chains stay separate components
    val two = spark.range(5000).selectExpr("id AS id_a", "id + 1 AS id_b")
      .union(spark.range(20000, 25000).selectExpr("id AS id_a", "id + 1 AS id_b"))
    val l2 = Dedup.connectedComponentsLogRounds(two)
      .as[(Long, Long)].collect().toMap
    assert(l2.size == 10002)
    assert(l2.filter(_._1 <= 5000L).values.forall(_ == 0L))
    assert(l2.filter(_._1 >= 20000L).values.forall(_ == 20000L))
  }

  test("decontaminateBloom: subset of exact decontamination, planted leak dropped") {
    // corpus doc 12 shares a 5-gram with probe doc 1 (the planted leak);
    // 13 and 14 are clean
    val probe = Seq((1L, (1 to 12).map(i => s"p$i").mkString(" "))).toDF("doc_id", "text")
    val corpus = Seq(
      (12L, "x1 x2 " + (3 to 9).map(i => s"p$i").mkString(" ") + " x3"),
      (13L, (1 to 12).map(i => s"c$i").mkString(" ")),
      (14L, (20 to 32).map(i => s"d$i").mkString(" "))
    ).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(corpus, probe, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.decontaminateBloom(corpus, probe, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(13L, 14L), s"fixture sanity: $exact")
    // Bloom FPs may only over-drop: the clean set is a subset of exact's
    assert(bloom.subsetOf(exact), s"bloom must never keep a leaked doc: $bloom")
    assert(!bloom.contains(12L))
    // at the k=7 / 32-bits-per-key geometry on this tiny corpus the
    // outputs coincide (pinned — a change here means the md5 double-hash
    // family or the sizing arithmetic moved)
    assert(bloom == exact)
  }

  test("q_heavy_hitters_approx: superset of exact heavy hitters, estimates >= truth") {
    // two fixtures — the CMS width (8192, eps=e/8192) must keep the superset law
    // and over-estimation bound as key cardinality grows past the toy SF
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val exact = Queries.q_heavy_hitters(spark, dir)
        .select("user_id", "cnt").as[(Long, Long)].collect().toMap
      val approx = Queries.q_heavy_hitters_approx(spark, dir)
        .as[(Long, Long)].collect().toMap
      assert(exact.nonEmpty, s"fixture must have heavy hitters ($dir)")
      assert(exact.keySet.subsetOf(approx.keySet),
        s"CMS over-estimates only, so every exact heavy hitter must surface " +
          s"($dir): missing ${exact.keySet -- approx.keySet}")
      exact.foreach { case (k, trueCnt) =>
        assert(approx(k) >= trueCnt, s"estimate for $k below truth ($dir)")
      }
    }
  }

  test("int8 quantization: cosine fidelity and top-k preservation") {
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(6)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 6; m <- 0 until 5) yield {
      val v = centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      ((c * 5 + m).toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val roundTrip = emb
      .withColumn("qz", Similarity.quantizeInt8(col("embedding")))
      .withColumn("deq", Similarity.dequantizeInt8(col("qz._1"), col("qz._2")))

    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val pairs = roundTrip.select("embedding", "deq")
      .as[(Seq[Float], Seq[Float])].collect()
    assert(pairs.forall { case (v, dq) => cos(v, dq) > 0.999 },
      "int8 round trip must preserve direction to < 0.1% cosine error")

    // storage contract: codes are BinaryType (1 byte/dim on disk)
    val qType = roundTrip.schema("qz").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("_2").dataType
    assert(qType == org.apache.spark.sql.types.BinaryType)

    // retrieval on dequantized vectors reproduces the exact top-k
    val q = Similarity.queryVector(emb, "vec_id", "embedding", 0L)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    val deq = roundTrip.select(col("vec_id"), col("deq").as("embedding"))
    val viaQuant = Similarity.bruteForceTopK(deq, "vec_id", "embedding", q, 5)
      .select("vec_id").as[Long].collect().toSeq
    // the retrieved SET and the top hit must survive quantization; ranks
    // among a cluster's near-identical members (sims within ~1e-3 of
    // each other) may legitimately swap under int8 rounding
    assert(viaQuant.toSet == exact.toSet,
      s"quantized retrieval drifted: $viaQuant vs $exact")
    assert(viaQuant.head == exact.head)
  }

  test("PQ quantization: 8-byte codes, deterministic encode, ADC recall vs brute force") {
    // same clustered-fixture shape as the int8 test: 6 well-separated
    // 64-dim gaussian centers × 5 tight members each
    val rnd = new scala.util.Random(37)
    val centers = Array.fill(6)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 6; m <- 0 until 5) yield {
      val v = centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      ((c * 5 + m).toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val cbs = Similarity.pqTrain(emb, "embedding", dim = 64, m = 8, k = 16)
    assert(cbs.length == 8 && cbs.forall(_.length == 16) &&
      cbs.forall(_.forall(_.length == 8)), "codebook shape m x k x dim/m")

    // storage contract: m bytes per vector (32x vs 64 float32s)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
    val lens = codes.select("pq_code").as[Array[Byte]].collect().map(_.length)
    assert(lens.forall(_ == 8), s"codes must be m=8 bytes: ${lens.toSet}")

    // seeded train + encode are deterministic (the driver-hash property)
    val codes2 = Similarity.pqEncode(emb, "vec_id", "embedding",
      Similarity.pqTrain(emb, "embedding", dim = 64, m = 8, k = 16))
    val asMap = codes.as[(Long, Array[Byte])].collect()
      .map { case (i, c) => i -> c.toSeq }.toMap
    val asMap2 = codes2.as[(Long, Array[Byte])].collect()
      .map { case (i, c) => i -> c.toSeq }.toMap
    assert(asMap == asMap2, "PQ encode must be repeat-deterministic")

    // ADC retrieval: recall@5 >= 0.8 against exact brute-force cosine,
    // for a query at each cluster center (cluster members are near-ties
    // under a coarse 8x16 codebook — set recall is the right law, exact
    // rank order is not)
    for (c <- 0 until 6) {
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        centers(c), 5).select("vec_id").as[Long].collect().toSet
      val approx = Similarity.pqTopK(codes, cbs, centers(c), 5)
        .select("vec_id").as[Long].collect().toSet
      assert((exact & approx).size >= 4,
        s"PQ recall@5 below 0.8 for cluster $c: exact=$exact approx=$approx")
    }
  }

  test("pqTopKBatch: batch ADC == per-probe ADC (bit-identical scores); codegen lookup in the plan") {
    // same clustered fixture as the PQ test
    val rnd = new scala.util.Random(37)
    val centers = Array.fill(6)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 6; m <- 0 until 5) yield {
      val v = centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      ((c * 5 + m).toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val cbs = Similarity.pqTrain(emb, "embedding", dim = 64, m = 8, k = 16)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
      .localCheckpoint(eager = true)

    // ONE plan for all probes: tables per probe on executors (broadcast
    // codebooks), codegen'd ADC lookups over a single codes scan,
    // bounded-heap per-probe top-k — no per-probe driver work at all
    val probes = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val batchDf = Similarity.pqTopKBatch(codes, cbs, probes,
      "probe_id", "embedding", k = 5)
    // the scoring runs through the codegen expression, in the plan
    // (sparkPlan, not the AQE leaf), not through a driver loop
    assert(batchDf.queryExecution.sparkPlan.toString.contains("pq_adc_score"))
    val batch = batchDf.as[(Long, Long, Long)].collect().toSet

    // per-probe path: driver-side tables (the single-probe API)
    val vecs = rows.toMap
    val single = (0L until 4L).flatMap { pid =>
      Similarity.pqTopK(codes, cbs, vecs(pid), 5)
        .as[(Long, Long)].collect()
        .map { case (id, rn) => (pid, rn, id) }
    }.toSet
    assert(batch == single,
      s"batch/single divergence: ${batch -- single} vs ${single -- batch}")
  }

  test("writeSortedShards: range-disjoint shards replay a global sort") {
    val rnd = new scala.util.Random(41)
    val rows = (0L until 500L).map(i => (i, rnd.nextDouble() * 100))
    val df = rows.toDF("doc_id", "score").repartition(8)
    val dir = java.nio.file.Files.createTempDirectory("sorted_shards_").toString
    operators.Sampling.writeSortedShards(df, "score", dir, 4)

    val back = spark.read.parquet(dir)
      .select(col("__shard").cast("int"), col("doc_id"), col("score"))
      .as[(Int, Long, Double)].collect()
    assert(back.length == 500)
    assert(back.map(_._2).toSet == rows.map(_._1).toSet, "no row lost or duplicated")
    val byShard = back.groupBy(_._1).toSeq.sortBy(_._1)
    assert(byShard.size == 4)
    // each shard internally sorted (parquet preserves row order per file)…
    // note: read order within a shard is file order; assert via min/max
    // disjointness across shards, the property loaders rely on
    val ranges = byShard.map { case (s, rs) =>
      (s, rs.map(_._3).min, rs.map(_._3).max)
    }
    ranges.sliding(2).foreach {
      case Seq((_, _, hiA), (_, loB, _)) =>
        assert(hiA <= loB, s"shard ranges overlap: $ranges")
      case _ =>
    }
  }

  test("packSequences: every doc packed once, no multi-doc bin over budget") {
    // lengths crafted so first-fit must open multiple bins, reuse open
    // ones, and isolate the oversized doc
    val docs = Seq(
      (1L, 600L), (2L, 500L), (3L, 400L), (4L, 300L), (5L, 90L),
      (6L, 1500L), // oversized: > maxTokens, must get a singleton bin
      (7L, 10L), (8L, 1000L) // exactly the budget: singleton
    ).toDF("doc_id", "n_tokens").coalesce(1) // one partition → deterministic
    val packed = operators.Sampling.packSequences(docs, "doc_id", "n_tokens", 1000L)
      .as[(Long, Long, Long)].collect()

    assert(packed.map(_._2).sorted.toSeq == (1L to 8L),
      "every doc exactly once")
    val byBin = packed.groupBy(_._1).values.toSeq
    byBin.foreach { bin =>
      val total = bin.map(_._3).sum
      if (bin.length > 1)
        assert(total <= 1000L, s"multi-doc bin over budget: $bin")
    }
    // the oversized doc is alone in its bin
    val binOf6 = packed.find(_._2 == 6L).get._1
    assert(packed.count(_._1 == binOf6) == 1, "oversized doc must be isolated")
    // first-fit on one partition packs this set tightly: (600+400), (500+300+90+10), 1500, 1000
    assert(byBin.size == 4, s"expected 4 bins: ${byBin.map(_.toSeq)}")

    // multi-partition run: still a partition of the doc set, budget holds
    val big = (1L to 300L).map(i => (i, 50L + (i % 7) * 100L))
      .toDF("doc_id", "n_tokens").repartition(4)
    val packedBig = operators.Sampling.packSequences(big, "doc_id", "n_tokens", 1000L)
      .as[(Long, Long, Long)].collect()
    assert(packedBig.map(_._2).sorted.toSeq == (1L to 300L))
    packedBig.groupBy(_._1).values.foreach { bin =>
      if (bin.length > 1) assert(bin.map(_._3).sum <= 1000L)
    }

    // open-bin cap path: 200 docs of 600 tokens, budget 1000 — every doc
    // opens a bin (no two fit together), so the 64-bin cap must close
    // bins along the way with all invariants intact
    val capCase = (1L to 200L).map(i => (i, 600L))
      .toDF("doc_id", "n_tokens").coalesce(1)
    val packedCap = operators.Sampling.packSequences(capCase, "doc_id", "n_tokens", 1000L)
      .as[(Long, Long, Long)].collect()
    assert(packedCap.map(_._2).sorted.toSeq == (1L to 200L))
    assert(packedCap.groupBy(_._1).size == 200, "600+600 > 1000: all singleton bins")
  }

  test("end-to-end pretraining pipeline: normalize -> quality -> dedup -> near-dup -> decontaminate -> split -> pack -> shards") {
    import graft.functions.Text
    // the batch twin of the layered-warehouse streaming E2E: every
    // training-data operator composed in its real order, each stage's
    // drop accounted for
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val probe = Seq((0L, "e1 e2 e3 e4 e5 e6")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, base + " enda"),                       // keeper
      (11L, base + " enda"),                       // exact duplicate of 10
      (12L, base + " endb"),                       // near-dup of 10 (j ~ 0.85, LSH-caught)
      (13L, "x1 x2 e1 e2 e3 e4 e5 x3 x4 x5 x6 x7"), // leaks a probe 5-gram
      (14L, "sp sp sp sp sp sp"),                  // repetitive boilerplate
      (15L, (100 to 140).map(i => s"v$i").mkString(" ")) // clean unique
    ).toDF("doc_id", "text")

    // 1. normalize (idempotent on this corpus — pinned)
    val norm = corpus.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
        " +", " ")).as("text"))
    assert(norm.as[(Long, String)].collect().toMap ==
      corpus.as[(Long, String)].collect().toMap)

    // 2. quality filter: repetition + minimum length
    val nBigrams = greatest(Text.tokenCount(col("text")) - 1, lit(0L))
    val repRatio = when(nBigrams > 0,
      lit(1.0) - size(Dedup.shingleSet(2)(Text.tokens(col("text"))))
        .cast("double") / nBigrams.cast("double")).otherwise(0.0)
    val quality = norm.filter(repRatio <= 0.5 && Text.tokenCount(col("text")) >= 5)
    assert(quality.select("doc_id").as[Long].collect().toSet ==
      Set(10L, 11L, 12L, 13L, 15L), "repetitive doc 14 must drop")

    // 3. exact dedup (content-keyed, min id wins)
    val exactDeduped = Dedup.exactFirst(quality, Seq("text"), Seq(col("doc_id")))
    assert(exactDeduped.select("doc_id").as[Long].collect().toSet ==
      Set(10L, 12L, 13L, 15L), "exact dup 11 must drop")

    // 4. near-dup clustering via the MinHash scale path
    val nearDeduped = Dedup.clusterByMinhash(exactDeduped, "doc_id", "text", 0.5)
    assert(nearDeduped.select("doc_id").as[Long].collect().toSet ==
      Set(10L, 13L, 15L), "near-dup 12 must fold into 10's cluster")

    // 5. decontaminate against the eval probe
    val clean = Dedup.decontaminate(nearDeduped, probe, "doc_id", "text")
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(10L, 15L),
      "leaked doc 13 must drop")

    // 6. deterministic split (stable across runs/engines)
    val split = operators.Sampling.deterministicSplit(clean, "doc_id")
    val splits = split.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(splits.keySet == Set(10L, 15L))
    assert(splits.values.forall(Set("train", "val", "test")))

    // 7. pack into token-budget bins
    val packed = operators.Sampling.packSequences(
      split.withColumn("n_tokens", Text.tokenCount(col("text"))),
      "doc_id", "n_tokens", maxTokens = 60L)
    val packedRows = packed.as[(Long, Long, Long)].collect()
    assert(packedRows.map(_._2).toSet == Set(10L, 15L), "every survivor packed")
    packedRows.groupBy(_._1).values.foreach(bin =>
      if (bin.length > 1) assert(bin.map(_._3).sum <= 60L))

    // 8. shard out the final corpus; read-back is exactly the survivors
    val dir = java.nio.file.Files.createTempDirectory("pipeline_shards_").toString
    operators.Sampling.writeShards(split, "doc_id", dir, numShards = 2)
    val back = spark.read.parquet(dir).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(back == splits, "shard read-back must be the final corpus")
  }

  test("ivfIndexSink: streaming batches append into the persisted index incrementally") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(47)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = for (c <- 0 until 8; m <- 0 until 6) yield {
      val v = centers(c).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      ((c * 6 + m).toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 8, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream_").toString
    Similarity.ivfWriteIndex(emb, "embedding", centroids, dir)

    val in = MemoryStream[(Long, Array[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_stream_ckpt_").toString
    def run(): Unit = {
      val q = graft.sources.IO.ivfIndexSink(
        in.toDF().toDF("vec_id", "embedding"), dir, ckpt, "vec_id", "embedding")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // batch 1: near center 0; batch 2: near center 1 — two micro-batches,
    // each touching its own list partitions only
    in.addData((200L, centers(0).map(_ + 0.01f)), (201L, centers(0).map(_ + 0.02f)))
    run()
    in.addData((300L, centers(1).map(_ + 0.01f)))
    run()

    assert(spark.read.parquet(s"$dir/vectors").count() == 48 + 3)
    val near0 = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      centers(0), 8, nprobe = 2).select("vec_id").as[Long].collect().toSet
    assert(Set(200L, 201L).subsetOf(near0), s"batch-1 vecs probeable: $near0")
    val near1 = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      centers(1), 7, nprobe = 2).select("vec_id").as[Long].collect().toSet
    assert(near1.contains(300L), s"batch-2 vec probeable: $near1")
  }

  test("IVF-PQ fused index: codes mirror vectors, ADC probes never read vectors, fused == indexed top-k, verbs hold the invariant") {
    val dim = 8
    val rnd = new scala.util.Random(11)
    def noisy(center: Array[Float]): Array[Float] =
      center.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val centers = Array.tabulate(8) { c =>
      Array.tabulate(dim)(j => if (j == c) 1f else 0f)
    }
    val rows = for (c <- 0 until 8; m <- 0 until 6)
      yield ((c * 6 + m).toLong, noisy(centers(c)))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 8, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_").toString + "/idx"
    Similarity.ivfPqWriteIndex(emb, "vec_id", "embedding", centroids, dim,
      dir, m = 4, kSub = 8)

    // the MIRROR INVARIANT: codes/ == residual-encode(vectors/) list
    // for list, re-derived through the same public encode step
    def mirrorState(): (Set[(Long, Int, String)], Set[(Long, Int, String)]) = {
      val cbs = Similarity.pqReadCodebooks(spark, dir)
      val cents = Similarity.ivfReadCentroids(spark, dir)
      def hex(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Int, String)] =
        rows.map(r => (r.getLong(0), r.getInt(1),
          r.getAs[Array[Byte]](2).map("%02x".format(_)).mkString)).toSet
      val stored = hex(spark.read.parquet(s"$dir/codes")
        .select(col("vec_id"), col("ivf_list").cast("int"), col("pq_code"))
        .collect())
      val expect = hex(Similarity.ivfPqEncodeResiduals(
          spark.read.parquet(s"$dir/vectors"), "vec_id", "embedding",
          cents, cbs)
        .select(col("vec_id"), col("ivf_list").cast("int"), col("pq_code"))
        .collect())
      (stored, expect)
    }
    val (s0, e0) = mirrorState()
    assert(s0 == e0, "freshly built codes must mirror vectors")
    assert(s0.map(_._1) == rows.map(_._1).toSet)

    // ADC candidate stage reads the m-byte codes, NEVER the vectors:
    // its physical scan is rooted at codes/ with pq_code in the schema
    // and no embedding column anywhere in the plan
    val candPlan = Similarity.ivfPqCandidates(spark, dir, "vec_id",
      centers(0), refineK = 8, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(candPlan.contains("pq_code") && candPlan.contains("/codes"),
      s"ADC stage must scan the codes layout:\n$candPlan")
    assert(!candPlan.contains("embedding"),
      s"ADC stage must never touch raw vectors:\n$candPlan")

    // fused == plain-indexed top-k once refine covers the probed rows
    // (exact re-rank over the full candidate set)
    def asPairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("vec_id", "rn").as[(Long, Long)].collect().sortBy(_._2).toSeq
    for (c <- Seq(0, 3, 7)) {
      val fused = asPairs(Similarity.ivfPqTopK(spark, dir, "vec_id",
        "embedding", centers(c), k = 6, nprobe = 2, refine = 4))
      val plain = asPairs(Similarity.ivfTopKIndexed(spark, dir, "vec_id",
        "embedding", centers(c), 6, nprobe = 2))
      assert(fused == plain, s"center $c: fused $fused != indexed $plain")
    }

    // APPEND: only the touched list's code partition changes; the
    // invariant and the fused query both hold
    def codeDirs(): Map[String, Set[String]] =
      new java.io.File(s"$dir/codes").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("ivf_list="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    val beforeAppend = codeDirs()
    val loaded = Similarity.ivfReadCentroids(spark, dir)
    val touchedList = Similarity.nearestLists(centers(0), loaded, 1).head
    Similarity.ivfPqAppendIndex(
      (100 to 102).map(i => (i.toLong, noisy(centers(0))))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val afterAppend = codeDirs()
    val changed = (beforeAppend.keySet ++ afterAppend.keySet)
      .filter(k => beforeAppend.get(k) != afterAppend.get(k))
    assert(changed == Set(s"ivf_list=$touchedList"),
      s"append must rewrite exactly the touched code partition: $changed")
    val (s1, e1) = mirrorState()
    assert(s1 == e1, "codes must mirror vectors after append")
    val top0 = Similarity.ivfPqTopK(spark, dir, "vec_id", "embedding",
      centers(0), k = 9, nprobe = 2, refine = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(Set(100L, 101L, 102L).subsetOf(top0),
      s"appended vectors must be fused-probeable: $top0")

    // DELETE: drop one whole cluster — its list dir disappears from
    // BOTH layouts; the invariant holds for the survivors
    val list7 = Similarity.nearestLists(centers(7), loaded, 1).head
    val doomed = spark.read.parquet(s"$dir/vectors")
      .filter(col("ivf_list") === list7).select("vec_id")
    Similarity.ivfPqDeleteIds(spark, dir, "vec_id", "embedding", doomed)
    assert(!new java.io.File(s"$dir/vectors/ivf_list=$list7").exists,
      "emptied vector list dir must be dropped")
    assert(!new java.io.File(s"$dir/codes/ivf_list=$list7").exists,
      "emptied code list dir must be dropped")
    val (s2, e2) = mirrorState()
    assert(s2 == e2 && s2.map(_._1).intersect(
      (42 to 47).map(_.toLong).toSet).isEmpty,
      "codes must mirror vectors after delete")

    // RETRAIN: full rebuild beside + swap keeps parity and the mirror
    Similarity.ivfPqRetrainIndex(spark, dir, "vec_id", "embedding",
      k = 7, dim = dim, m = 4, kSub = 8)
    val (s3, e3) = mirrorState()
    assert(s3 == e3, "codes must mirror vectors after retrain")
    val fused = asPairs(Similarity.ivfPqTopK(spark, dir, "vec_id",
      "embedding", centers(3), k = 6, nprobe = 2, refine = 4))
    val plain = asPairs(Similarity.ivfTopKIndexed(spark, dir, "vec_id",
      "embedding", centers(3), 6, nprobe = 2))
    assert(fused == plain, s"post-retrain: fused $fused != indexed $plain")
  }

  test("ivfPqTopKAuto: measured warm gate — warm route scans the probed vectors ONCE (never codes), cold route is the fused path, both agree with their laws") {
    val dim = 8
    val rnd = new scala.util.Random(17)
    def noisy(center: Array[Float]): Array[Float] =
      center.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val centers = Array.tabulate(8) { c =>
      Array.tabulate(dim)(j => if (j == c) 1f else 0f)
    }
    val rows = for (c <- 0 until 8; m <- 0 until 6)
      yield ((c * 6 + m).toLong, noisy(centers(c)))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 8, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_auto_")
      .toString + "/idx"
    Similarity.ivfPqWriteIndex(emb, "vec_id", "embedding", centroids, dim,
      dir, m = 4, kSub = 8)
    def asPairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("vec_id", "rn").as[(Long, Long)].collect().sortBy(_._2).toSeq

    // the gate's measured input == a filesystem walk of the probed dirs
    val pb = Similarity.probedVectorBytes(spark, dir, centers(0), nprobe = 2)
    val probes = Similarity.nearestLists(centers(0),
      Similarity.ivfReadCentroids(spark, dir), 2)
    def walk(f: java.io.File): Long =
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    val expected = probes
      .map(l => walk(new java.io.File(s"$dir/vectors/ivf_list=$l"))).sum
    assert(pb == expected && pb > 0, s"probed bytes $pb != dir walk $expected")

    // WARM route (threshold at the measured bytes): == the plain exact
    // probe, and its plan reads the probed partitions ONCE — exactly
    // one parquet scan, rooted at vectors/, codes/ untouched
    val warm = Similarity.ivfPqTopKAuto(spark, dir, "vec_id", "embedding",
      centers(0), k = 6, nprobe = 2, refine = 4, warmProbeBytes = pb)
    val warmPlan = warm.queryExecution.executedPlan.toString
    assert(!warmPlan.contains("/codes"),
      s"warm route must never scan codes:\n$warmPlan")
    val nScans = math.max("FileScan".r.findAllIn(warmPlan).size,
      "(?<!File)Scan parquet".r.findAllIn(warmPlan).size)
    assert(nScans == 1 && warmPlan.contains("/vectors"),
      s"warm route must scan vectors exactly once ($nScans):\n$warmPlan")
    val plain = asPairs(Similarity.ivfTopKIndexed(spark, dir, "vec_id",
      "embedding", centers(0), 6, nprobe = 2))
    assert(asPairs(warm) == plain, "warm route != plain exact probe")

    // COLD route (threshold below the measured bytes): == the explicit
    // fused IVFADC call; and with refine covering the probed rows the
    // two routes agree exactly, so the gate changes cost, not results
    val cold = asPairs(Similarity.ivfPqTopKAuto(spark, dir, "vec_id",
      "embedding", centers(0), k = 6, nprobe = 2, refine = 4,
      warmProbeBytes = 0L))
    val fused = asPairs(Similarity.ivfPqTopK(spark, dir, "vec_id",
      "embedding", centers(0), k = 6, nprobe = 2, refine = 4))
    assert(cold == fused, s"cold route $cold != fused $fused")
    assert(fused == plain, s"full-refine fused $fused != plain $plain")
  }

  test("fused-index guard: plain mutation verbs refuse a fused index; fused split keeps the mirror") {
    val dim = 8
    val rnd = new scala.util.Random(13)
    def noisy(center: Array[Float]): Array[Float] =
      center.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val centers = Array.tabulate(4) { c =>
      Array.tabulate(dim)(j => if (j == c) 1f else 0f)
    }
    val rows = for (c <- 0 until 4; m <- 0 until 6)
      yield ((c * 6 + m).toLong, noisy(centers(c)))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 4, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_guard_").toString + "/idx"
    Similarity.ivfPqWriteIndex(emb, "vec_id", "embedding", centroids, dim,
      dir, m = 4, kSub = 8)
    assert(Similarity.isFusedIndex(spark, dir))

    // every plain MUTATION verb fails loudly, naming the fused verb —
    // silently desyncing codes/ (ADVICE r12) is no longer reachable
    val batch = Seq((500L, noisy(centers(0)))).toDF("vec_id", "embedding")
    def refuses(what: String)(f: => Unit): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("FUSED") && e.getMessage.contains("ivfPq"),
        s"$what must point at the fused verb: ${e.getMessage}")
    }
    refuses("append")(Similarity.ivfAppendIndex(batch, "vec_id", "embedding", dir))
    refuses("delete")(Similarity.ivfDeleteIds(spark, dir, "vec_id",
      batch.select("vec_id")))
    refuses("reembed")(Similarity.ivfReembedIndex(batch, "vec_id", "embedding", dir))
    refuses("retrain")(Similarity.ivfRetrainIndex(spark, dir, "embedding", k = 4))
    refuses("write")(Similarity.ivfWriteIndex(emb, "embedding", centroids, dir))
    // ...and the refusals really did leave the index untouched: reads
    // (layout-agnostic by design) still serve, ids intact
    assert(spark.read.parquet(s"$dir/vectors").count() == rows.size)

    // the fused SPLIT path: ivfSplitList re-derives the two touched
    // code partitions, so the mirror invariant survives the split
    def mirrorHolds(): Unit = {
      val cbs = Similarity.pqReadCodebooks(spark, dir)
      val cents = Similarity.ivfReadCentroids(spark, dir)
      def hex(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), r.getInt(1),
          r.getAs[Array[Byte]](2).map("%02x".format(_)).mkString)).toSet
      val stored = hex(spark.read.parquet(s"$dir/codes")
        .select(col("vec_id"), col("ivf_list").cast("int"), col("pq_code"))
        .collect())
      val expect = hex(Similarity.ivfPqEncodeResiduals(
          spark.read.parquet(s"$dir/vectors"), "vec_id", "embedding",
          cents, cbs)
        .select(col("vec_id"), col("ivf_list").cast("int"), col("pq_code"))
        .collect())
      assert(stored == expect, "codes must mirror vectors")
    }
    val loaded = Similarity.ivfReadCentroids(spark, dir)
    val list0 = Similarity.nearestLists(centers(0), loaded, 1).head
    Similarity.ivfSplitList(spark, dir, "vec_id", "embedding", list0,
      sampleSize = 64, iters = 6)
    assert(Similarity.ivfReadCentroids(spark, dir).length == loaded.length + 1,
      "split appends one centroid")
    mirrorHolds()
    // the split index still answers fused queries over every id
    val all = Similarity.ivfPqTopK(spark, dir, "vec_id", "embedding",
      centers(0), k = 6, nprobe = 3, refine = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(all.nonEmpty)
  }

  test("ivfRecoverSplit: a torn split (centroids written, vectors not) is repaired by replay") {
    val dim = 4
    val rnd = new scala.util.Random(17)
    // one crowded axis-0 cluster with two separable sub-modes (+x skewed
    // up vs down on axis 1), plus a quiet axis-2 cluster
    def mode(b: Array[Float]) = b.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val subA = Array(1f, 0.3f, 0f, 0f)
    val subB = Array(1f, -0.3f, 0f, 0f)
    val rows = (0 until 20).map(i => (i.toLong, mode(if (i % 2 == 0) subA else subB))) ++
      (20 until 26).map(i => (i.toLong, mode(Array(0f, 0f, 1f, 0f))))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Array(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val dir = java.nio.file.Files.createTempDirectory("ivfsplit_").toString + "/idx"
    Similarity.ivfWriteIndex(emb, "embedding", centroids, dir)

    // CRASH SIMULATION — exactly ivfSplitList's torn window: the intent
    // sidecar AND the updated centroid table (sub-centroids at ids 0
    // and 2) are committed, the vector rewrite never ran: list 0 still
    // holds all 20 rows, centroid 2 references an absent dir
    val intent = s"0 2\n${subA.mkString(",")}\n${subB.mkString(",")}\n"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".split_intent"),
      intent.getBytes("UTF-8"))
    val updated = Seq((0, subA.toSeq), (1, centroids(1).toSeq), (2, subB.toSeq))
    updated.toDF("centroid_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    assert(!new java.io.File(s"$dir/vectors/ivf_list=2").exists,
      "crash state: the new list's dir must not exist yet")

    // the sweep replays the rewrite from the RECORDED sub-centroids
    assert(Similarity.ivfRecoverSplit(spark, dir, "vec_id", "embedding"),
      "a torn split must be detected and repaired")
    assert(!new java.io.File(s"$dir/.split_intent").exists,
      "repair must consume the intent")
    val after = spark.read.parquet(s"$dir/vectors")
      .select(col("vec_id"), col("ivf_list").cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(after.size == 26, "repair must preserve the vector multiset")
    // every crowded-cluster row now sits with its nearer sub-centroid
    (0 until 20).foreach { i =>
      val expected = if (i % 2 == 0) 0 else 2
      assert(after(i.toLong) == expected,
        s"row $i must land in list $expected, got ${after(i.toLong)}")
    }
    assert(after.filter(_._2 == 1).keySet == (20L until 26L).toSet,
      "the quiet list must be untouched")
    // idempotence: a second sweep with no intent is a no-op
    assert(!Similarity.ivfRecoverSplit(spark, dir, "vec_id", "embedding"))
    // and a fresh split on the repaired index allocates the NEXT id (3),
    // not a duplicate — no dead-centroid accumulation
    Similarity.ivfSplitList(spark, dir, "vec_id", "embedding", 0,
      sampleSize = 64, iters = 4)
    assert(Similarity.ivfReadCentroids(spark, dir).length == 4)
  }

  test("approx_percentile within rank-error bound of the exact percentile twin") {
    // accuracy = 1000 → rank error <= group_size/1000; bounding by the
    // exact percentiles at p ± 0.01 is 10x looser than the guarantee, so
    // the assert pins semantics without flaking
    val approx = Queries.q_agg_approx_percentile(spark, sfDir)
      .as[(String, Double, Double, Double)].collect()
    assert(approx.nonEmpty)
    val bounds = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_extendedprice"), lit(0.49)).as("m_lo"),
        percentile(col("l_extendedprice"), lit(0.51)).as("m_hi"),
        percentile(col("l_extendedprice"), lit(0.94)).as("p95_lo"),
        percentile(col("l_extendedprice"), lit(0.96)).as("p95_hi"),
        percentile(col("l_extendedprice"), lit(0.98)).as("p99_lo"),
        percentile(col("l_extendedprice"), lit(1.0)).as("p99_hi"))
      .as[(String, Double, Double, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    approx.foreach { case (flag, m, p95, p99) =>
      val (_, mLo, mHi, p95Lo, p95Hi, p99Lo, p99Hi) = bounds(flag)
      assert(m >= mLo && m <= mHi, s"$flag median $m outside [$mLo, $mHi]")
      assert(p95 >= p95Lo && p95 <= p95Hi, s"$flag p95 $p95 outside [$p95Lo, $p95Hi]")
      assert(p99 >= p99Lo && p99 <= p99Hi, s"$flag p99 $p99 outside [$p99Lo, $p99Hi]")
    }
  }

  test("fingerprint index lifecycle: write -> dedup -> append advances the horizon") {
    val dir = java.nio.file.Files.createTempDirectory("fp_idx_").toString + "/idx"
    val history = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    Dedup.writeFingerprintIndex(history, "text", dir)
    assert(spark.read.parquet(dir).count() == 2)

    // ingest batch: an intra-batch dup pair (min id 11 kept), a history
    // dup (13 repeats doc 1), and a genuinely new doc
    val batch1 = Seq(
      (11L, "epsilon zeta"), (12L, "epsilon zeta"),
      (13L, "alpha beta"), (14L, "eta theta")).toDF("doc_id", "text")
    val surv1 = Dedup.dedupAgainstIndex(batch1, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().toSet
    assert(surv1 == Set(11L, 14L), s"intra-batch + index dedup: $surv1")

    // append the survivors: the index grows by exactly the new
    // fingerprints and stays distinct
    Dedup.appendFingerprintIndex(
      batch1.filter(col("doc_id").isin(11L, 14L)), "text", dir)
    val idx1 = spark.read.parquet(dir).select("fp").as[String].collect()
    assert(idx1.length == 4 && idx1.distinct.length == 4,
      s"index distinct after append: ${idx1.toSeq}")

    // re-running the append with the FULL batch is a no-op — every
    // fingerprint is already indexed, the idempotence that makes a
    // failed-then-retried append safe under the single-writer contract
    Dedup.appendFingerprintIndex(batch1, "text", dir)
    assert(spark.read.parquet(dir).count() == 4, "re-append must be a no-op")

    // next batch: a dup of a batch-1 SURVIVOR is now dropped — the
    // append advanced the dedup horizon beyond the original corpus
    val batch2 = Seq((21L, "epsilon zeta"), (22L, "iota kappa"))
      .toDF("doc_id", "text")
    val surv2 = Dedup.dedupAgainstIndex(batch2, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().toSet
    assert(surv2 == Set(22L), s"appended fp must dedup the next batch: $surv2")
  }

  // ---- takedown lifecycle laws: every persisted artifact must honor
  // opt-out/deletion batch-proportionally (touched partitions only),
  // with delete == rebuild-without-the-ids and idempotent replay ------

  /** (bucket-dir name, sorted (file, size) list) for every `__bucket=`
    * partition under `dir` — the byte-identity witness. */
  private def bucketFiles(dir: String): Map[String, Seq[(String, Long)]] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Map.empty
    else d.listFiles().filter(_.getName.startsWith("__bucket=")).map { b =>
      b.getName -> b.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toSeq.sortBy(_._1)
    }.toMap
  }
  private def bucketIdOf(dirName: String): Long =
    dirName.stripPrefix("__bucket=").toLong

  test("fingerprint index takedown: delete == rebuild; untouched buckets byte-identical; replay no-op") {
    val base = java.nio.file.Files.createTempDirectory("fp_del_").toString
    val dir = base + "/idx"
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "epsilon zeta"), (4L, "eta theta")).toDF("doc_id", "text")
    Dedup.writeFingerprintIndex(corpus, "text", dir)
    val before = bucketFiles(dir)
    val touched = Dedup.deleteFromFingerprintIndex(
      corpus.filter(col("doc_id") === 2L), "text", dir)
    assert(touched.nonEmpty, "delete of an indexed doc must touch its bucket")
    // untouched bucket dirs are byte-identical
    val after = bucketFiles(dir)
    for ((b, files) <- before if !touched.contains(bucketIdOf(b)))
      assert(after(b) == files, s"untouched bucket $b rewrote")
    // delete == rebuild without the doc
    val rebuilt = base + "/rebuilt"
    Dedup.writeFingerprintIndex(
      corpus.filter(col("doc_id") =!= 2L), "text", rebuilt)
    assert(
      spark.read.parquet(dir).select("fp").as[String].collect().toSet ==
        spark.read.parquet(rebuilt).select("fp").as[String].collect().toSet,
      "deleted index must equal the rebuild without the doc")
    // behavior: the removed content re-enters; surviving content still dedups
    val re = Dedup.dedupAgainstIndex(
      Seq((9L, "gamma delta"), (10L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", dir).select("doc_id").as[Long].collect().toSet
    assert(re == Set(9L), s"post-takedown ingest: $re")
    // replay: the fingerprints are gone, so zero buckets touched
    assert(Dedup.deleteFromFingerprintIndex(
      corpus.filter(col("doc_id") === 2L), "text", dir).isEmpty,
      "replayed delete must be a zero-write no-op")
  }

  test("fp-first-seen index takedown: delete == rebuild; untouched buckets byte-identical; replay no-op") {
    // VERDICT r15 #3: the dup-rate monitor's serving artifact joins the
    // delete==rebuild discipline — the last persisted artifact without it.
    import graft.operators.Dedup
    val base = java.nio.file.Files.createTempDirectory("fpfs_del_").toString
    val dir = base + "/idx"
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "epsilon zeta"), (4L, "eta theta")).toDF("doc_id", "text")
    Dedup.writeFpFirstSeenIndex(corpus, "text", dir, t0)
    val before = bucketFiles(dir)
    val touched = Dedup.deleteFromFpFirstSeenIndex(
      corpus.filter(col("doc_id") === 2L), "text", dir)
    assert(touched.nonEmpty, "delete of an indexed content must touch its bucket")
    // untouched bucket dirs are byte-identical
    val after = bucketFiles(dir)
    for ((b, files) <- before if !touched.contains(bucketIdOf(b)))
      assert(after(b) == files, s"untouched bucket $b rewrote")
    // delete == rebuild without the content; first_window stamps survive
    val rebuilt = base + "/rebuilt"
    Dedup.writeFpFirstSeenIndex(
      corpus.filter(col("doc_id") =!= 2L), "text", rebuilt, t0)
    assert(
      spark.read.parquet(dir).select("fp", "first_window")
        .as[(String, java.sql.Timestamp)].collect().toSet ==
        spark.read.parquet(rebuilt).select("fp", "first_window")
          .as[(String, java.sql.Timestamp)].collect().toSet,
      "deleted index must equal the rebuild without the content")
    // behavior: the taken-down content re-arriving reads as FRESH (its
    // window becomes the new first-seen), surviving content still dups
    val w1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val batch = Seq("gamma delta", "alpha beta").toDF("text")
      .select(lit(w1).as("window_start"), md5(col("text")).as("fp"),
        lit(1L).as("n_docs"))
    val known = spark.read.parquet(dir).select("fp", "first_window")
    val rates = graft.streaming.Jobs.dupRatePerWindow(batch, known)
      .select("n_docs", "n_dup").as[(Long, Long)].collect()
    assert(rates.toSeq == Seq((2L, 1L)),
      s"post-takedown: only the surviving content may read duplicate: ${rates.toSeq}")
    // replay: the fingerprint is gone, so zero buckets touched
    assert(Dedup.deleteFromFpFirstSeenIndex(
      corpus.filter(col("doc_id") === 2L), "text", dir).isEmpty,
      "replayed delete must be a zero-write no-op")
  }

  test("cold-start empty append is a no-op, never a schema-less dir (near-dup + winnow index)") {
    // the r16 diversityGateSink lesson, applied to the other seeding
    // appends: a zero-row partitioned append to a NONEXISTENT dir
    // writes only _SUCCESS, after which exists() says yes and the next
    // read dies with UNABLE_TO_INFER_SCHEMA — an empty batch must
    // leave "no index yet" (the consumers' documented cold start)
    import graft.operators.Dedup
    val base = java.nio.file.Files.createTempDirectory("cold_empty_")
      .toString
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Dedup.appendNearDupIndex(empty, "doc_id", "text", s"$base/band")
    assert(!new java.io.File(s"$base/band/bands").exists,
      "empty cold near-dup append must not create the bands dir")
    // the consumer still sees the cold-start contract: everything novel
    val out = Dedup.nearDupAgainstIndex(
      Seq((1L, "a b c d e f")).toDF("doc_id", "text"),
      "doc_id", "text", s"$base/band", 0.5)
    assert(out.count() == 1L, "cold-start batch must admit")
    Dedup.appendWinnowFps(
      Dedup.winnowFingerprints(empty, "doc_id", "text"), s"$base/winnow")
    assert(!new java.io.File(s"$base/winnow/fps").exists,
      "empty cold winnow append must not create the fps dir")
  }

  test("bucket-membership index: seed == gate layout; takedown frees budget; delete == rebuild; untouched buckets byte-identical; replay no-op") {
    import graft.operators.Sampling
    val base = java.nio.file.Files.createTempDirectory("divmem_").toString
    val dir = s"$base/idx"
    val e1 = Seq.fill(64)(0.5); val e2 = e1.map(-_)
    val corpus = Seq((1L, e1), (2L, e1), (3L, e2)).toDF("vec_id", "embedding")
    Sampling.writeBucketMembershipIndex(corpus, "vec_id", "embedding", dir)
    // the occupancy fold the gate runs: region A holds 2, region B 1
    val occ0 = spark.read.parquet(dir).groupBy("bucket")
      .count().select("count").as[Long].collect().sorted.toSeq
    assert(occ0 == Seq(1L, 2L), s"seeded occupancy: $occ0")
    val before = bucketFiles(dir)
    // takedown vec 1 → region A's budget frees by one
    val touched = Sampling.deleteFromBucketMembershipIndex(
      Seq(1L).toDF("vec_id"), "vec_id", dir)
    assert(touched.nonEmpty, "delete of an indexed id must touch its bucket")
    val after = bucketFiles(dir)
    for ((b, files) <- before if !touched.contains(bucketIdOf(b)))
      assert(after(b) == files, s"untouched bucket $b rewrote")
    // delete == rebuild without the id
    val rebuilt = s"$base/rebuilt"
    Sampling.writeBucketMembershipIndex(
      corpus.filter(col("vec_id") =!= 1L), "vec_id", "embedding", rebuilt)
    assert(
      spark.read.parquet(dir).select("bucket", "id")
        .as[(Long, Long)].collect().toSet ==
        spark.read.parquet(rebuilt).select("bucket", "id")
          .as[(Long, Long)].collect().toSet,
      "deleted index must equal the rebuild without the id")
    // the gate-facing consequence: occupancy no longer bills the id
    val occ1 = spark.read.parquet(dir).groupBy("bucket")
      .count().select("count").as[Long].collect().sorted.toSeq
    assert(occ1 == Seq(1L, 1L), s"post-takedown occupancy: $occ1")
    // replay: the id is gone, so zero buckets touched
    assert(Sampling.deleteFromBucketMembershipIndex(
      Seq(1L).toDF("vec_id"), "vec_id", dir).isEmpty,
      "replayed delete must be a zero-write no-op")
  }

  test("near-dup index takedown: delete == rebuild; untouched buckets byte-identical; replay no-op") {
    val baseA = (1 to 40).map(i => s"a$i").mkString(" ")
    val baseB = (100 to 140).map(i => s"b$i").mkString(" ")
    val corpus = Seq((1L, baseA + " end1"), (2L, baseB + " end2"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("neardup_del_").toString
    val dir = root + "/idx"
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", dir)
    val beforeDocs = bucketFiles(s"$dir/docs")
    val beforeBands = bucketFiles(s"$dir/bands")
    val touched = Dedup.deleteFromNearDupIndex(
      Seq(1L).toDF("doc_id"), "doc_id", dir)
    assert(touched.nonEmpty)
    for ((b, files) <- beforeDocs if !touched.contains(bucketIdOf(b)))
      assert(bucketFiles(s"$dir/docs")(b) == files, s"untouched docs/$b rewrote")
    for ((b, files) <- beforeBands if !touched.contains(bucketIdOf(b)))
      assert(bucketFiles(s"$dir/bands")(b) == files, s"untouched bands/$b rewrote")
    // behavior == rebuild-without-doc-1: a near-copy of removed doc 1
    // now SURVIVES ingest; a near-copy of surviving doc 2 still drops
    val batch = Seq((10L, baseA + " endX"), (11L, baseB + " endY"))
      .toDF("doc_id", "text")
    val surv = Dedup.nearDupAgainstIndex(batch, "doc_id", "text", dir, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(surv == Set(10L), s"post-takedown survivors: $surv")
    val rebuilt = root + "/rebuilt"
    Dedup.writeNearDupIndex(corpus.filter(col("doc_id") =!= 1L),
      "doc_id", "text", rebuilt)
    val survR = Dedup.nearDupAgainstIndex(batch, "doc_id", "text", rebuilt, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(survR == surv, "deleted index must behave as the rebuild")
    // relation equality: both sub-relations hold exactly doc 2's rows
    assert(spark.read.parquet(s"$dir/docs").select("id").as[Long]
      .collect().toSet == Set(2L))
    assert(spark.read.parquet(s"$dir/bands").select("id").as[Long]
      .collect().toSet == Set(2L))
    // replay: zero writes
    assert(Dedup.deleteFromNearDupIndex(
      Seq(1L).toDF("doc_id"), "doc_id", dir).isEmpty)
  }

  test("RAG-ingest composition: chunk → embed → IVF index → serve, exhaustive probe == brute force") {
    import spark.implicits._
    // the retrieval-corpus build a RAG user runs, composed from the
    // registered pieces: the q_chunk_docs operator shape over the real
    // fixture docs, one embed column, one ivfWriteIndex, then serving
    // via the indexed probe. The embedding is a deterministic token-
    // hash fold — quality is irrelevant to the law; what is pinned is
    // that the SAME function feeds the index and the reference, and the
    // pipeline preserves every chunk and serves exact results.
    val chunks = graft.Queries.q_chunk_docs(spark, sfDir)
      .withColumn("vec_id", col("doc_id") * 1000L + col("chunk_idx"))
      .localCheckpoint(true)
    val embed = udf { (text: String) =>
      val v = new Array[Float](16)
      text.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val h = t.hashCode
        v(math.floorMod(h, 16)) += (if (((h >> 4) & 1) == 0) 1f else -1f)
      }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      if (n == 0f) Array.fill(16)(0.25f) else v.map(_ / n)
    }
    val emb = chunks
      .select(col("vec_id"), embed(col("chunk_text")).as("embedding"))
      .localCheckpoint(true)
    val nChunks = emb.count()
    val dir = java.nio.file.Files.createTempDirectory("rag_")
      .toString + "/ivf"
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 8, iters = 10)
    Similarity.ivfWriteIndex(emb, "embedding", centroids, dir)
    // the served artifact carries every chunk exactly once
    assert(spark.read.parquet(s"$dir/vectors").count() == nChunks)
    // query: a text-unique chunk, embedded by the SAME function
    val uniqueId = chunks.groupBy("chunk_text")
      .agg(count(lit(1)).as("c"), min(col("vec_id")).as("vec_id"))
      .filter(col("c") === 1L).orderBy("vec_id")
      .select("vec_id").as[Long].head()
    val qVec = emb.filter(col("vec_id") === uniqueId)
      .select("embedding").as[Array[Float]].head()
    // exhaustive probe (nprobe = all lists) == brute force over the
    // same embedded chunks — the serve path loses nothing
    val served = Similarity.ivfTopKIndexed(spark, dir, "vec_id",
      "embedding", qVec, 20, nprobe = 8)
      .select("vec_id", "rn").as[(Long, Long)].collect().toSeq
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      qVec, 20).select("vec_id", "rn").as[(Long, Long)].collect().toSeq
    assert(served == brute, s"served != brute:\n$served\n$brute")
    // self-retrieval survives probe pruning: the query chunk's own
    // list is its nearest centroid, so nprobe=2 still finds it first
    val prunedTop = Similarity.ivfTopKIndexed(spark, dir, "vec_id",
      "embedding", qVec, 1, nprobe = 2)
      .select("vec_id").as[Long].head()
    assert(prunedTop == uniqueId, s"pruned self-retrieval: $prunedTop")
    // takedown leg (VERDICT r14 #5): a source doc is retired — every
    // chunk it contributed leaves the index via ivfDeleteIds and the
    // serve path reflects the surviving corpus IMMEDIATELY (the
    // delete==rebuild discipline the other persisted lifecycles pin):
    // exhaustive probe == brute force over exactly the remaining chunks
    val doomedDoc = uniqueId / 1000L
    val doomedIds = chunks.filter(col("doc_id") === doomedDoc)
      .select("vec_id").localCheckpoint(true)
    val nDoomed = doomedIds.count()
    assert(nDoomed >= 1L)
    Similarity.ivfDeleteIds(spark, dir, "vec_id", doomedIds)
    assert(spark.read.parquet(s"$dir/vectors").count() == nChunks - nDoomed,
      "takedown must remove exactly the doc's chunks")
    val servedAfter = Similarity.ivfTopKIndexed(spark, dir, "vec_id",
      "embedding", qVec, 20, nprobe = 8)
      .select("vec_id", "rn").as[(Long, Long)].collect().toSeq
    assert(!servedAfter.exists(_._1 / 1000L == doomedDoc),
      s"takedown leak into serve path: $servedAfter")
    val bruteAfter = Similarity.bruteForceTopK(
      emb.join(doomedIds, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", qVec, 20)
      .select("vec_id", "rn").as[(Long, Long)].collect().toSeq
    assert(servedAfter == bruteAfter,
      s"post-takedown serve != rebuild-equivalent brute force:\n" +
        s"$servedAfter\n$bruteAfter")
  }

  test("gram index: batch seed serves the marginal-novelty probe; cold start all-novel; sink layout interop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gram_idx_")
      .toString + "/grams"
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
    // cold start: no index -> every doc fully novel
    val cold = Dedup.noveltyAgainstGramIndex(corpus, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(cold.nonEmpty && cold.forall(_._4 == 1000000L),
      s"cold start: ${cold.toSeq}")
    Dedup.writeGramIndex(corpus, "text", dir,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    // re-probing the seed corpus reads zero marginal novelty
    val self = Dedup.noveltyAgainstGramIndex(corpus, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(self.forall(r => r._3 == 0L && r._4 == 0L), s"self: ${self.toSeq}")
    // a candidate batch: doc 10 duplicates indexed content (0), doc 11
    // is fresh (1e6), doc 12 is half-lifted ("c d e" gram from doc 1 +
    // fresh tail -> 1 known of 3)
    val cand = Seq((10L, "a b c d e"), (11L, "p q r s t"),
      (12L, "c d e z1 z2")).toDF("doc_id", "text")
    val got = Dedup.noveltyAgainstGramIndex(cand, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) == ((3L, 0L, 0L)), s"dup doc: $got")
    assert(got(11L) == ((3L, 3L, 1000000L)), s"fresh doc: $got")
    assert(got(12L) == ((3L, 2L, 666667L)), s"half-lift doc: $got")
    // marginal independence is deliberate: two docs sharing a NEW gram
    // both read it as novel (each doc's value vs the CORPUS)
    val pair = Seq((20L, "n1 n2 n3"), (21L, "n1 n2 n3"))
      .toDF("doc_id", "text")
    assert(Dedup.noveltyAgainstGramIndex(pair, "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].collect()
      .forall(_._4 == 1000000L))
    // sink-layout interop: the seeded index carries exactly the sink's
    // schema and bucket sidecar, so noveltyAuditSink appends onto it
    val idx = spark.read.parquet(dir)
    assert(idx.columns.sorted.toSeq == Seq("__bucket", "first_window", "sh"))
    assert(graft.sources.IO.readBucketCount(spark, dir).contains(64))
    assert(idx.count() == 6L) // 2 docs x 3 distinct grams
  }

  test("counted gram index: doc takedown == rebuild, first-seen re-attribution, " +
       "batch-proportional signed ledger, compaction view-identical") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val w1 = ts("2024-01-01 00:00:00"); val w2 = ts("2024-02-01 00:00:00")
    // w1 corpus: doc 1 shares "a b c" with doc 2; "c d e" is doc 1-only;
    // doc 2 also carries "b c f". w2 batch: doc 3 re-carries doc 1's
    // "c d e" (the re-attribution probe) plus fresh "p q r".
    val c1 = Seq((1L, "a b c d e"), (2L, "a b c f")).toDF("doc_id", "text")
    val b2 = Seq((3L, "c d e x1 p q r")).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("gram_cnt_").toString
    val dir = s"$root/idx"; val ref = s"$root/rebuilt"
    Dedup.writeGramIndexCounted(c1, "doc_id", "text", dir, w1)
    Dedup.appendGramIndexCounted(b2, "doc_id", "text", dir, w2)
    def view(d: String): Set[(Long, String, Long)] =
      Dedup.liveGramIndexCounted(spark, d)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2))).toSet
    def firstSeen(d: String): Map[Long, String] =
      Dedup.firstSeenFromCounted(spark, d)
        .collect().map(r => r.getLong(0) -> r.getTimestamp(1).toString).toMap
    // pre-takedown sanity: "a b c" counted twice at w1
    val preView = view(dir)
    assert(preView.exists { case (_, w, n) => w.startsWith("2024-01-01") && n == 2L },
      s"shared-gram count: $preView")
    // TAKEDOWN doc 1 (present it, as a takedown request does)
    Dedup.deleteFromGramIndexCounted(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"),
      "doc_id", "text", dir, w1)
    // delete == rebuild: the live view equals the index built from the
    // surviving corpus, window for window, count for count
    Dedup.writeGramIndexCounted(
      Seq((2L, "a b c f")).toDF("doc_id", "text"), "doc_id", "text", ref, w1)
    Dedup.appendGramIndexCounted(b2, "doc_id", "text", ref, w2)
    assert(view(dir) == view(ref),
      s"delete != rebuild:\n${view(dir)}\n${view(ref)}")
    // first-seen re-attribution: "c d e"'s grams were w1-first via the
    // retired doc only — they must now read w2 (doc 3's window); doc 1's
    // truly-unique gram "b c d" leaves the view entirely; the shared
    // "a b c" stays w1 via surviving doc 2
    val fsGot = firstSeen(dir)
    val sh = (g: String) => graft.functions.Text.xxHash64String(g)
    assert(fsGot(sh("c d e")).startsWith("2024-02-01"), s"re-attribution: $fsGot")
    assert(!fsGot.contains(sh("b c d")), "fully-retired gram must leave the view")
    assert(fsGot(sh("a b c")).startsWith("2024-01-01"))
    assert(fsGot == firstSeen(ref))
    // novelty probe reads the post-takedown truth: a re-submission of the
    // retired text sees its unique gram "b c d" as novel again (1 of 3)
    val probe = Dedup.noveltyAgainstCountedGramIndex(
      Seq((50L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text", dir)
      .as[(Long, Long, Long, Long)].head()
    assert(probe == ((50L, 3L, 1L, 333333L)), s"post-takedown probe: $probe")
    // signed ledger is append-only: physical rows > live rows until
    // compaction folds them; compaction is view-identical and drops the
    // tombstone mass
    val physBefore = spark.read.parquet(dir).count()
    assert(physBefore > view(dir).size.toLong,
      "takedown must append negative rows, not rewrite")
    Dedup.compactGramIndexCounted(spark, dir)
    assert(view(dir) == view(ref), "compaction changed the view")
    assert(spark.read.parquet(dir).count() == view(dir).size.toLong,
      "compaction must fold the ledger to one row per live (sh, window)")
    assert(graft.sources.IO.readBucketCount(spark, dir).contains(64),
      "bucket sidecar must survive compaction")
  }

  test("winnow index lifecycle: write == append-in-batches; gate honors the local guarantee; takedown == rebuild; replay no-op") {
    val runA = (1 to 20).map(i => s"a$i").mkString(" ")
    val runB = (100 to 120).map(i => s"b$i").mkString(" ")
    val corpus = Seq((1L, runA + " tail1"), (2L, runB + " tail2"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("winnow_idx_").toString
    val dir = root + "/idx"
    Dedup.writeWinnowIndex(corpus, "doc_id", "text", dir)
    // local guarantee through the index: a batch doc embedding an
    // 8-token run of doc 1 must match doc 1; a fresh doc matches nothing
    val batch = Seq(
      (10L, "x y " + (1 to 12).map(i => s"a$i").mkString(" ") + " z w q r"),
      (11L, (1 to 30).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val m = Dedup.matchAgainstWinnowIndex(batch, "doc_id", "text", dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(m.map(_._1).toSet == Set(10L) && m.forall(_._2 == 1L),
      s"gate matches: ${m.toSeq}")
    assert(m.forall(r => r._3 >= 2L && r._4 > 0.0 && r._4 <= 1.0))
    // write == append-in-batches: seeding via two appends (cold start)
    // yields the identical fps relation
    val dir2 = root + "/appended"
    Dedup.appendWinnowIndex(corpus.filter(col("doc_id") === 1L),
      "doc_id", "text", dir2)
    Dedup.appendWinnowIndex(corpus.filter(col("doc_id") === 2L),
      "doc_id", "text", dir2)
    def rel(d: String): Set[(Long, Long)] =
      spark.read.parquet(s"$d/fps").select("id", "fh")
        .as[(Long, Long)].collect().toSet
    assert(rel(dir2) == rel(dir), "append-seeded index must equal write")
    // append advances the gate: admit doc 11, then a near-copy of 11 flags
    Dedup.appendWinnowIndex(batch.filter(col("doc_id") === 11L),
      "doc_id", "text", dir)
    val m2 = Dedup.matchAgainstWinnowIndex(
        Seq((20L, (1 to 30).map(i => s"c$i").mkString(" ") + " suffix"))
          .toDF("doc_id", "text"), "doc_id", "text", dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(m2.map(r => (r._1, r._2)).toSet == Set((20L, 11L)),
      s"gate must see the appended admission: ${m2.toSeq}")
    // takedown: untouched buckets byte-identical, delete == rebuild
    val before = bucketFiles(s"$dir/fps")
    val touched = Dedup.deleteFromWinnowIndex(Seq(1L).toDF("doc_id"),
      "doc_id", dir)
    assert(touched.nonEmpty)
    for ((b, files) <- before if !touched.contains(bucketIdOf(b)))
      assert(bucketFiles(s"$dir/fps")(b) == files, s"untouched fps/$b rewrote")
    val m3 = Dedup.matchAgainstWinnowIndex(batch, "doc_id", "text", dir)
      .as[(Long, Long, Long, Double)].collect()
    // doc 10 overlapped only removed content → gone; doc 11 now matches
    // ITSELF (it was admitted above) — the documented re-ingest verdict
    assert(m3.map(r => (r._1, r._2)).toSet == Set((11L, 11L)),
      s"post-takedown matches: ${m3.toSeq}")
    val rebuilt = root + "/rebuilt"
    Dedup.writeWinnowIndex(
      corpus.filter(col("doc_id") =!= 1L)
        .unionAll(batch.filter(col("doc_id") === 11L)),
      "doc_id", "text", rebuilt)
    assert(rel(dir) == rel(rebuilt), "deleted index must equal the rebuild")
    // replay: zero writes; cold start: missing index matches nothing
    assert(Dedup.deleteFromWinnowIndex(Seq(1L).toDF("doc_id"),
      "doc_id", dir).isEmpty)
    assert(Dedup.matchAgainstWinnowIndex(batch, "doc_id", "text",
      root + "/missing").count() == 0L)
  }

  test("semantic gate vs persisted IVF index: flags cosine-near batch rows, no false flags, probe-pruned") {
    val e0 = Array(1f, 0f, 0f, 0f); val e1 = Array(0f, 1f, 0f, 0f)
    val e2 = Array(0f, 0f, 1f, 0f); val e3 = Array(0f, 0f, 0f, 1f)
    val rnd = new scala.util.Random(7)
    def near(c: Array[Float]): Seq[Float] =
      c.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq
    val base = (0 until 8).map(i =>
      (i.toLong, near(if (i % 2 == 0) e0 else e1)))
    val root = java.nio.file.Files.createTempDirectory("semgate_").toString
    val dir = root + "/idx"
    Similarity.ivfWriteIndex(base.toDF("vec_id", "embedding"),
      "embedding", Array(e0, e1, e2, e3), dir)
    // batch: a near-copy of the e0 cluster (flags), an orthogonal novel
    // vector (survives), and a mid-similarity vector below threshold
    val batch = Seq(
      (100L, near(e0)),
      (101L, near(e2)),
      (102L, Seq(0.7f, 0.7f, 0.1f, 0.0f))) // ~0.70 cosine to both clusters
      .toDF("vec_id", "embedding")
    val matches = Similarity.semanticMatchesAgainstIndex(
        batch, "vec_id", "embedding", dir, threshold = 0.95, nprobe = 2)
      .as[(Long, Long, Double)].collect()
    assert(matches.nonEmpty && matches.forall(_._1 == 100L),
      s"only the near-copy may flag: ${matches.toSeq}")
    assert(matches.forall(_._3 >= 0.95))
    // no false flags: every reported sim matches the driver-side cosine
    val idx = base.toMap
    val batchVecs = batch.as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map(p => p._1.toDouble * p._2).sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    for ((b, m, s) <- matches)
      assert(s == BigDecimal(cos(batchVecs(b), idx(m)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"sim mismatch for ($b,$m)")
    // completeness on this clustered fixture (nprobe=2 covers the true
    // cluster): flagged set == brute-force threshold set
    val brute = (for {
      (b, bv) <- batchVecs.toSeq; (i, iv) <- idx.toSeq
      if cos(bv, iv) >= 0.95
    } yield (b, i)).toSet
    assert(matches.map(r => (r._1, r._2)).toSet == brute,
      s"gate vs brute: ${matches.toSeq} vs $brute")
    val surv = Similarity.semanticDedupAgainstIndex(
        batch, "vec_id", "embedding", dir, threshold = 0.95, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(surv == Set(101L, 102L), s"survivors: $surv")
  }

  test("components store takedown: bridge removal splits the component; delete == rebuild on both layouts") {
    // path 1-2-3-4 (node 2 is a bridge), plus components {8,9}, {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L), (20L, 21L))
    val e = edges.toDF("id_a", "id_b")
    // expected rebuild without node 2: 1 isolates; {3,4} split off; the
    // other components are untouched
    val want = Map(1L -> 1L, 3L -> 3L, 4L -> 3L, 8L -> 8L, 9L -> 8L,
      20L -> 20L, 21L -> 20L)
    // BUCKETED layout: touched buckets only, byte-identity elsewhere
    val bDir = java.nio.file.Files.createTempDirectory("cc_del_b_")
      .toString + "/labels"
    Dedup.writeComponentsStore(Dedup.connectedComponents(e), bDir, 8)
    val before = bucketFiles(bDir)
    val touched = Dedup.deleteFromComponentsStore(
      Seq(2L).toDF("id"), e, bDir, buckets = 8)
    // affected component label 1 -> bucket 1; new labels {1, 3} -> {1, 3}
    assert(touched.toSet == Set(1L, 3L), s"touched $touched")
    for ((b, files) <- before if !touched.contains(bucketIdOf(b)))
      assert(bucketFiles(bDir)(b) == files, s"untouched bucket $b rewrote")
    val gotB = Dedup.readComponentsStore(spark, bDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotB == want, s"bucketed takedown $gotB != rebuild $want")
    // replay: node 2 no longer in the store -> no affected components
    assert(Dedup.deleteFromComponentsStore(
      Seq(2L).toDF("id"), e, bDir, buckets = 8).isEmpty)
    // FLAT layout: same labeling through the snapshot route
    val fDir = java.nio.file.Files.createTempDirectory("cc_del_f_")
      .toString + "/labels"
    Dedup.connectedComponents(e).write.parquet(fDir)
    assert(Dedup.deleteFromComponentsStore(
      Seq(2L).toDF("id"), e, fDir, buckets = 8).isEmpty) // flat: no bucket ids
    val gotF = Dedup.readComponentsStore(spark, fDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotF == want, s"flat takedown $gotF != rebuild $want")
  }

  test("componentsMerge: folding batches one at a time equals full recompute") {
    def labelsOf(edges: Seq[(Long, Long)]) =
      Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // three batches exercising every merge shape: fresh components,
    // a new node attaching to an old component, a bridge edge merging
    // TWO old components (the higher-labeled side must fully relabel),
    // an intra-component edge (no-op), and an isolated new pair
    val b1 = Seq((5L, 6L), (8L, 9L), (20L, 21L))
    val b2 = Seq((6L, 7L), (1L, 2L), (8L, 9L))
    val b3 = Seq((7L, 9L), (30L, 31L), (2L, 5L))
    var labels = Dedup.connectedComponents(b1.toDF("id_a", "id_b"))
    for (b <- Seq(b2, b3)) {
      labels = Dedup.componentsMerge(labels, b.toDF("id_a", "id_b"))
        .localCheckpoint(true)
    }
    val inc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = labelsOf(b1 ++ b2 ++ b3)
    assert(inc == full, s"incremental $inc != recompute $full")
    // b3's bridge chain: 1-2-5-6-7-9-8 all collapse to min id 1
    assert(inc(9L) == 1L && inc(5L) == 1L && inc(8L) == 1L)
    assert(inc(20L) == 20L && inc(30L) == 30L, "untouched/isolated comps keep minima")
    // idempotence: re-folding an applied batch is the identity (the
    // replay-safety claim the streaming sink's at-least-once rests on)
    val replay = Dedup.componentsMerge(labels, b3.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replay == inc, "componentsMerge must be idempotent under replay")
  }

  test("componentsSink: streaming edge batches maintain the persisted labeling incrementally") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cc_stream_").toString + "/labels"
    val ckpt = java.nio.file.Files.createTempDirectory("cc_stream_ckpt_").toString
    val in = MemoryStream[(Long, Long)]
    def run(): Unit = {
      val q = graft.sources.IO.componentsSink(
        in.toDF().toDF("id_a", "id_b"), dir, ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def snapshot(): Map[Long, Long] =
      spark.read.parquet(dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch 1 cold-starts the snapshot
    in.addData((5L, 6L), (8L, 9L))
    run()
    assert(snapshot() == Map(5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L))
    // batch 2 attaches a new node and merges the two components
    in.addData((6L, 9L), (9L, 3L))
    run()
    val s2 = snapshot()
    assert(s2 == Map(3L -> 3L, 5L -> 3L, 6L -> 3L, 8L -> 3L, 9L -> 3L), s"$s2")
    // batch 3: incremental across restarts == one-shot recompute
    in.addData((100L, 101L), (3L, 100L))
    run()
    val s3 = snapshot()
    val full = Dedup.connectedComponents(
      Seq((5L, 6L), (8L, 9L), (6L, 9L), (9L, 3L), (100L, 101L), (3L, 100L))
        .toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s3 == full, s"streamed $s3 != recompute $full")
  }

  test("bucketed components store: touched-buckets-only rewrite equals the flat merge") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("cc_store_").toString + "/labels"
    val B = 8
    // seed: components {5,6}, {8,9}, {20,21} -> labels 5, 8, 20
    val b1 = Seq((5L, 6L), (8L, 9L), (20L, 21L))
    Dedup.writeComponentsStore(
      Dedup.connectedComponents(b1.toDF("id_a", "id_b")), dir, B)
    def snapshot(): Map[Long, Long] =
      Dedup.readComponentsStore(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snapshot() == Map(5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L,
      20L -> 20L, 21L -> 20L))
    def bucketBytes(b: Long): Seq[(String, Long)] = {
      val d = new java.io.File(s"$dir/__bucket=$b")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toSeq.sortBy(_._1)
    }
    // component 20 lives in bucket 20 % 8 = 4 and is untouched below
    val untouchedBefore = bucketBytes(20L % B)
    // batch: merge {5,6} with {8,9} via a 6-9 bridge and attach new node 3
    val touched = Dedup.mergeIntoComponentsStore(
      Seq((6L, 9L), (9L, 3L)).toDF("id_a", "id_b"), dir, buckets = B)
    val after = snapshot()
    // flat-merge semantics hold exactly
    val want = Dedup.connectedComponents(
      (b1 ++ Seq((6L, 9L), (9L, 3L))).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == want, s"bucketed $after != flat $want")
    // cost witness: only the merged components' buckets rewrote —
    // 5 % 8 = 5 (old), 8 % 8 = 0 (old), 3 % 8 = 3 (new label) — and
    // the untouched component's bucket files are byte-identical
    assert(touched.toSet.subsetOf(Set(0L, 3L, 5L)), s"touched $touched")
    assert(bucketBytes(20L % B) == untouchedBefore,
      "untouched bucket must not rewrite")
    // emptied-bucket guard: labels 5 and 8 are gone (all rows now label
    // 3); their old bucket dirs must not retain stale rows
    assert(after.values.toSet == Set(3L, 20L))
    // replay is a zero-write no-op
    assert(Dedup.mergeIntoComponentsStore(
      Seq((6L, 9L), (9L, 3L)).toDF("id_a", "id_b"), dir, buckets = B).isEmpty)
    assert(snapshot() == want)
  }

  test("bucketed components store: a replayed merge leaves no new persistent RDDs") {
    // a long-running componentsStoreSink replays batches; every merge,
    // the no-op one included, must release the blocks it pinned
    val dir = java.nio.file.Files.createTempDirectory("cc_pins_").toString + "/labels"
    Dedup.writeComponentsStore(Dedup.connectedComponents(
      Seq((5L, 6L), (8L, 9L), (20L, 21L)).toDF("id_a", "id_b")), dir, 8)
    val batch = Seq((6L, 9L), (9L, 3L)).toDF("id_a", "id_b")
    def newPins(f: => Seq[Long]): (Seq[Long], Set[Int]) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val touched = f
      (touched, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
    }
    val (touched, merged) = newPins(
      Dedup.mergeIntoComponentsStore(batch, dir, buckets = 8))
    assert(touched.nonEmpty && merged.isEmpty,
      s"a merge left ${merged.size} checkpoint RDDs registered")
    val (replayTouched, replayed) = newPins(
      Dedup.mergeIntoComponentsStore(batch, dir, buckets = 8))
    assert(replayTouched.isEmpty, "replay must be a zero-write no-op")
    assert(replayed.isEmpty,
      s"a replayed merge left ${replayed.size} checkpoint RDDs registered")
  }

  test("components store: flat-route merges and deletes on both layouts, first run and replay, leave no new persistent RDDs") {
    // componentsSink and the flat route below the gate run once per
    // micro-batch, and a takedown replays: every run must release what
    // it pinned, the clustering's own pins included
    val b1 = Seq((5L, 6L), (8L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val batch = Seq((6L, 9L), (9L, 3L)).toDF("id_a", "id_b")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L), (20L, 21L))
      .toDF("id_a", "id_b")
    def labelsDir(prefix: String): String =
      java.nio.file.Files.createTempDirectory(prefix).toString + "/labels"
    def newPins(what: String)(f: => Unit): Unit =
      for (run <- Seq("first run", "replay")) {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        f
        val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
        assert(left.isEmpty, s"$what ($run) left ${left.size} checkpoint RDDs registered")
      }
    val flat = labelsDir("cc_pins_f_")
    Dedup.connectedComponents(b1).write.parquet(flat)
    newPins("flat-route merge") {
      assert(Dedup.mergeComponentsStore(batch, flat, buckets = 8).route == "flat")
    }
    val flatDel = labelsDir("cc_pins_fd_")
    Dedup.connectedComponents(edges).write.parquet(flatDel)
    newPins("flat delete")(Dedup.deleteFromComponentsStore(
      Seq(2L).toDF("id"), edges, flatDel, buckets = 8))
    val bucketedDel = labelsDir("cc_pins_bd_")
    Dedup.writeComponentsStore(Dedup.connectedComponents(edges), bucketedDel, 8)
    newPins("bucketed delete")(Dedup.deleteFromComponentsStore(
      Seq(2L).toDF("id"), edges, bucketedDel, buckets = 8))
  }

  test("components store gate: both routes produce the identical labeling; layout follows the gate") {
    import java.nio.file.Files
    val b1 = Seq((5L, 6L), (8L, 9L), (20L, 21L))
    val batch = Seq((6L, 9L), (9L, 3L))
    val want = Dedup.connectedComponents((b1 ++ batch).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bucketDirs(dir: String): Seq[String] = {
      val d = new java.io.File(dir)
      if (!d.exists()) Seq.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("__bucket=")).toSeq
    }
    // FLAT route: a 6-row labeling sits far under the default gate, even
    // when the store was seeded in the bucketed layout — the overwrite
    // converges it to the flat snapshot
    val flatDir = Files.createTempDirectory("cc_gate_f_").toString + "/labels"
    Dedup.writeComponentsStore(
      Dedup.connectedComponents(b1.toDF("id_a", "id_b")), flatDir, 8)
    val rf = Dedup.mergeComponentsStore(batch.toDF("id_a", "id_b"), flatDir,
      buckets = 8)
    assert(rf.route == "flat" && rf.touchedBuckets.isEmpty, s"$rf")
    assert(bucketDirs(flatDir).isEmpty,
      "below the gate the store must converge to the flat layout")
    val gotF = Dedup.readComponentsStore(spark, flatDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotF == want, s"flat route $gotF != recompute $want")
    // BUCKETED route (maxFlatRows = 0 forces the gate): the store starts
    // FLAT, so the crossing converts the layout once, then merges
    // touched-buckets-only — and the labeling is IDENTICAL (the
    // min-label fixpoint is unique; the gate only picks the write
    // strategy)
    val bDir = Files.createTempDirectory("cc_gate_b_").toString + "/labels"
    Dedup.connectedComponents(b1.toDF("id_a", "id_b"))
      .write.parquet(bDir) // flat seed
    val rb = Dedup.mergeComponentsStore(batch.toDF("id_a", "id_b"), bDir,
      buckets = 8, maxFlatRows = 0L)
    assert(rb.route == "bucketed" && rb.touchedBuckets.nonEmpty, s"$rb")
    assert(bucketDirs(bDir).nonEmpty,
      "above the gate the store must be bucketed")
    val gotB = Dedup.readComponentsStore(spark, bDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotB == want, s"bucketed route $gotB != recompute $want")
  }

  test("components store gate: a flat-route merge after a torn swap reads <dir>_bak, as the swap sink does") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import java.nio.file.Files
    val b1 = Seq((5L, 6L), (8L, 9L), (20L, 21L))
    val batch = Seq((6L, 9L), (9L, 3L))
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a crash between a swap's two renames leaves the labeling at
    // <dir>_bak and no live dir
    def torn(prefix: String): String = {
      val dir = Files.createTempDirectory(prefix).toString + "/labels"
      Dedup.connectedComponents(b1.toDF("id_a", "id_b")).write.parquet(dir + "_bak")
      dir
    }
    val sinkDir = torn("cc_torn_s_")
    val in = MemoryStream[(Long, Long)]
    val q = graft.sources.IO.componentsSink(in.toDF().toDF("id_a", "id_b"),
      sinkDir, Files.createTempDirectory("cc_torn_ck_").toString).start()
    try { in.addData(batch: _*); q.processAllAvailable() } finally q.stop()
    val fromSink = labels(spark.read.parquet(sinkDir))
    val flatDir = torn("cc_torn_f_")
    val r = Dedup.mergeComponentsStore(batch.toDF("id_a", "id_b"), flatDir)
    assert(r.route == "flat", s"$r")
    val fromFlat = labels(Dedup.readComponentsStore(spark, flatDir))
    assert(fromFlat == fromSink, s"flat route $fromFlat != swap sink $fromSink")
    assert(fromSink == labels(Dedup.connectedComponents(
      (b1 ++ batch).toDF("id_a", "id_b"))))
    assert(Seq("_bak", "_tmp").forall(s => !new java.io.File(flatDir + s).exists()),
      "the swap must leave only the live dir")
  }

  test("componentsStoreSink: streaming batches fold into the bucketed store; parity with the swap sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("cc_bsink_").toString + "/labels"
    val ckpt = java.nio.file.Files.createTempDirectory("cc_bsink_ck_").toString
    // cold start: an explicitly seeded EMPTY store (the documented
    // bootstrap — mergeIntoComponentsStore requires a readable dir)
    Dedup.writeComponentsStore(
      Seq.empty[(Long, Long)].toDF("id", "label"), store, buckets = 8)
    val in = MemoryStream[(Long, Long)]
    def run(): Unit = {
      // maxFlatRows = 0 pins the BUCKETED route — this test is the
      // bucketed sink's parity law (the gate's own routing law is the
      // "components store gate" test)
      val q = graft.sources.IO.componentsStoreSink(
        in.toDF().toDF("id_a", "id_b"), store, ckpt, buckets = 8,
        maxFlatRows = 0L).start()
      try q.processAllAvailable() finally q.stop()
    }
    in.addData((5L, 6L), (8L, 9L))
    run()
    in.addData((6L, 9L), (9L, 3L))
    run()
    val got = Dedup.readComponentsStore(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Dedup.connectedComponents(
        Seq((5L, 6L), (8L, 9L), (6L, 9L), (9L, 3L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"bucketed stream $got != recompute $want")
  }

  test("BPE merge artifact lifecycle: round-trip, immutable prefix, extend == retrain at fixed vocab") {
    import graft.functions.Text
    val dir = java.nio.file.Files.createTempDirectory("bpe_idx_").toString + "/merges"
    val corpus1 = Seq(("low", 50L), ("lower", 30L), ("lowest", 20L))
      .toDF("word", "cnt")
    // train-once: write == in-memory train; read replays training order
    val written = Text.bpeWriteMerges(corpus1, "word", "cnt", k = 4, dir)
    assert(written.length == 4)
    assert(Text.bpeReadMerges(spark, dir) == written, "read must round-trip")
    assert(written == Text.bpeTrainMerges(corpus1, "word", "cnt", k = 4))

    // corpus grows with a LIGHT tail (original patterns stay dominant)
    val grown = corpus1.unionByName(
      Seq(("newest", 6L), ("widest", 3L)).toDF("word", "cnt"))
    val extended = Text.bpeExtendMerges(grown, "word", "cnt", k = 8, dir)

    // the production guarantee: extend APPENDS — ranks already shipped
    // to encode jobs never change
    assert(extended.take(4) == written, "extend rewrote the merge prefix")
    assert(extended.length == 8)
    assert(Text.bpeReadMerges(spark, dir) == extended,
      "artifact must hold the extended table in rank order")

    // fixture premise for the equality law: retraining from scratch on
    // the grown corpus reproduces the original first 4 merges (the tail
    // is too light to reorder the top pairs) — asserted so a fixture
    // drift fails HERE, not as a mysterious law failure below
    val retrain = Text.bpeTrainMerges(grown, "word", "cnt", k = 8)
    assert(retrain.take(4) == written,
      s"fixture premise broken: retrain head ${retrain.take(4)} != $written")
    // the law: extend-then-encode == retrain-then-encode at fixed vocab
    // (identical state after the shared prefix => identical argmax path)
    assert(retrain == extended, s"extend $extended != retrain $retrain")
    for (w <- Seq("low", "lowest", "newest", "slower", "widest"))
      assert(Text.bpeEncodeWord(w, extended) == Text.bpeEncodeWord(w, retrain))

    // extend is idempotent at the target vocab: k == current size means
    // zero new rounds and an unchanged artifact
    assert(Text.bpeExtendMerges(grown, "word", "cnt", k = 8, dir) == extended)
    assert(Text.bpeReadMerges(spark, dir) == extended)
  }

  test("near-dup index lifecycle: write -> batch dedup vs index -> append advances the horizon") {
    // corpus: two distinct 41-token docs (same shape as the minhash
    // agreement fixture — candidacy at j ~ 0.85 is deterministic)
    val baseA = (1 to 40).map(i => s"a$i").mkString(" ")
    val baseB = (100 to 140).map(i => s"b$i").mkString(" ")
    val corpus = Seq((1L, baseA + " end1"), (2L, baseB + " end2"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup_idx_").toString
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", dir)

    // batch: near-copy of indexed doc 1 (drop), intra-batch near-pair
    // (11 survives, 12 collapses into it), one novel doc (keep)
    val novel = (200 to 240).map(i => s"c$i").mkString(" ")
    val batch = Seq(
      (10L, baseA + " endX"),          // ~indexed doc 1 → dropped
      (11L, novel + " t1"), (12L, novel + " t2"), // intra-batch pair → 11
      (13L, (300 to 340).map(i => s"d$i").mkString(" "))) // novel → kept
      .toDF("doc_id", "text")
    val surv = Dedup.nearDupAgainstIndex(batch, "doc_id", "text", dir, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(surv == Set(11L, 13L), s"survivors: $surv")

    // append the survivors; a near-copy of 11 in the NEXT batch now drops
    Dedup.appendNearDupIndex(
      batch.filter(col("doc_id").isin(11L, 13L)), "doc_id", "text", dir)
    val batch2 = Seq((21L, novel + " t9"),          // ~appended doc 11
      (22L, (400 to 440).map(i => s"e$i").mkString(" ")))
      .toDF("doc_id", "text")
    val surv2 = Dedup.nearDupAgainstIndex(batch2, "doc_id", "text", dir, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(surv2 == Set(22L), s"appended docs must dedup the next batch: $surv2")
  }

  test("near-dup index cold start: unseeded indexDir = empty index, first append seeds it") {
    // an EMPTY index is the natural first state of a streaming ingest
    // pipeline — nearDupAgainstIndex must not require writeNearDupIndex
    // to have ever run. Intra-batch dedup still applies.
    val dir = java.nio.file.Files.createTempDirectory("neardup_cold_").toString + "/idx"
    val novel = (200 to 240).map(i => s"c$i").mkString(" ")
    val batch = Seq(
      (11L, novel + " t1"), (12L, novel + " t2"), // intra-batch pair → 11
      (13L, (300 to 340).map(i => s"d$i").mkString(" ")))
      .toDF("doc_id", "text")
    val surv = Dedup.nearDupAgainstIndex(batch, "doc_id", "text", dir, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(surv == Set(11L, 13L), s"cold-start survivors: $surv")

    // the first append CREATES the index; the next batch dedups against it
    Dedup.appendNearDupIndex(
      batch.filter(col("doc_id").isin(11L, 13L)), "doc_id", "text", dir)
    val batch2 = Seq((21L, novel + " t9"),
      (22L, (400 to 440).map(i => s"e$i").mkString(" ")))
      .toDF("doc_id", "text")
    val surv2 = Dedup.nearDupAgainstIndex(batch2, "doc_id", "text", dir, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(surv2 == Set(22L), s"first-append-seeded index must dedup: $surv2")
  }

  test("near-dup index layout guard: an unstamped (old-hash) index fails loudly on every verb") {
    // round 12 re-keyed every band bucket (xxhash64 → md5-portable);
    // appending/probing new-hash triples against an old-hash index
    // would silently never match — the .layout_version stamp turns that
    // silent miss into a loud rebuild instruction
    val dir = java.nio.file.Files.createTempDirectory("neardup_layout_").toString + "/idx"
    val docs = Seq((1L, (1 to 40).map(i => s"m$i").mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.writeNearDupIndex(docs, "doc_id", "text", dir)
    // a freshly written index is stamped and fully operational
    assert(graft.sources.IO.readLayoutVersion(spark, dir)
      .contains(Dedup.NearDupLayoutVersion))
    Dedup.nearDupAgainstIndex(docs.limit(0), "doc_id", "text", dir, 0.5).count()
    // simulate a pre-v2 index: drop the stamp
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, ".layout_version"))
    val more = Seq((2L, (50 to 90).map(i => s"n$i").mkString(" ")))
      .toDF("doc_id", "text")
    intercept[IllegalStateException] {
      Dedup.appendNearDupIndex(more, "doc_id", "text", dir)
    }
    intercept[IllegalStateException] {
      Dedup.deleteFromNearDupIndex(docs.select("doc_id"), "doc_id", dir)
    }
    intercept[IllegalStateException] {
      Dedup.nearDupAgainstIndex(more, "doc_id", "text", dir, 0.5)
    }
  }

  test("winnow index layout guard: an unstamped index fails loudly on every verb") {
    // the layout check is the store's, shared by every stamped family:
    // the near-dup guard above pins it for one family, this for another
    val dir = java.nio.file.Files.createTempDirectory("winnow_layout_").toString + "/idx"
    val docs = Seq((1L, (1 to 20).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.writeWinnowIndex(docs, "doc_id", "text", dir)
    assert(graft.sources.IO.readLayoutVersion(spark, dir)
      .contains(Dedup.WinnowLayoutVersion))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, ".layout_version"))
    val more = Seq((2L, (30 to 50).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    intercept[IllegalStateException] {
      Dedup.appendWinnowIndex(more, "doc_id", "text", dir)
    }
    intercept[IllegalStateException] {
      Dedup.deleteFromWinnowIndex(docs.select("doc_id"), "doc_id", dir)
    }
    intercept[IllegalStateException] {
      Dedup.matchAgainstWinnowIndex(more, "doc_id", "text", dir)
    }
  }

  test("end-to-end feature-store build: EWMA + sequences + sessions joined, then diffed vs the previous run") {
    // the batch feature-pipeline composition: three per-user operator
    // outputs join into one feature table (per-key alignment must hold
    // exactly), then a snapshot diff against the prior run's table
    // produces the incremental-publish changelog
    val ewma = Queries.q_ewma(spark, sfDir)
      .select(col("user_id"), col("ewma"), col("n_events"))
    val seqs = Queries.q_collect_sequence(spark, sfDir)
      .select(col("user_id"), col("path"), col("n_events").as("n_events_seq"))
    val sess = Queries.q_sessionize(spark, sfDir)
      .groupBy("user_id").agg(max(col("sess_seq")).as("n_sessions"))
    val feat = ewma.join(seqs, Seq("user_id")).join(sess, Seq("user_id"))
    val rows = feat.collect()
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(rows.length.toLong == users, "exactly one feature row per user")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") == r.getAs[Long]("n_events_seq"),
        s"operator outputs disagree on user ${r.getAs[Long]("user_id")}")
      assert(r.getAs[Long]("n_sessions") >= 1L)
      assert(!r.isNullAt(r.fieldIndex("ewma")) && r.getAs[String]("path").nonEmpty)
    }
    // previous run: half the users absent, every 5th user's ewma shifted
    val prev = feat.filter(col("user_id") % 2 === 0)
      .select(col("user_id"),
        when(col("user_id") % 5 === 0, col("ewma") + 1.0)
          .otherwise(col("ewma")).as("ewma"))
    val cur = feat.select("user_id", "ewma")
    val diff = prev.withColumnRenamed("ewma", "old_v")
      .join(cur.withColumnRenamed("ewma", "new_v"), Seq("user_id"), "full_outer")
      .withColumn("status",
        when(col("old_v").isNull, "added")
          .when(col("new_v").isNull, "removed")
          .when(col("old_v") =!= col("new_v"), "changed")
          .otherwise("same"))
    val byStatus = diff.groupBy("status").count()
      .as[(String, Long)].collect().toMap
    val ids = feat.select("user_id").as[Long].collect()
    val expAdded = ids.count(_ % 2 != 0).toLong
    val expChanged = ids.count(u => u % 2 == 0 && u % 5 == 0).toLong
    assert(byStatus.getOrElse("added", 0L) == expAdded, s"$byStatus")
    assert(byStatus.getOrElse("changed", 0L) == expChanged, s"$byStatus")
    assert(byStatus.getOrElse("removed", 0L) == 0L, s"$byStatus")
  }

  // ---- partitioned-dir maintenance laws (round 11): census / compact
  // / expire — the fragmentation-proportional small-files story every
  // append-mode artifact needs at 100 TB ------------------------------

  /** (partition-dir name, sorted (file, size) list) for every
    * `<prefix>=<v>` partition — the generic byte-identity witness. */
  private def partFiles(dir: String, prefix: String)
      : Map[String, Seq[(String, Long)]] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Map.empty
    else d.listFiles().filter(_.getName.startsWith(prefix + "=")).map { p =>
      p.getName -> p.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(f => f.getName -> f.length()).toSeq.sortBy(_._1)
    }.toMap
  }

  test("compactPartitionedDir: only fragmented partitions rewrite, byte-identity elsewhere, second run writes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("compact_").toString + "/t"
    // day A fragments across 3 appends (3+ files); day B stays at 1
    for (i <- 1 to 3)
      Seq(("A", i * 10L)).toDF("day", "v").coalesce(1)
        .write.mode("append").partitionBy("day").parquet(dir)
    Seq(("B", 99L)).toDF("day", "v").coalesce(1)
      .write.mode("append").partitionBy("day").parquet(dir)
    val census0 = graft.sources.IO.partitionCensus(spark, dir, "day")
    assert(census0.map(c => c.partition -> c.files).toMap ==
      Map("day=A" -> 3, "day=B" -> 1), s"census: $census0")
    val rowsBefore = spark.read.parquet(dir)
      .select("day", "v").as[(String, Long)].collect().toSet
    val before = partFiles(dir, "day")

    val compacted = graft.sources.IO.compactPartitionedDir(
      spark, dir, "day", maxFilesPerPartition = 2)
    assert(compacted == Seq("day=A"), s"compacted: $compacted")
    // row-set identity; fragmented partition at its 1-file target;
    // untouched partition byte-identical
    assert(spark.read.parquet(dir)
      .select("day", "v").as[(String, Long)].collect().toSet == rowsBefore)
    val after = partFiles(dir, "day")
    assert(after("day=A").size == 1, s"day=A files: ${after("day=A")}")
    assert(after("day=B") == before("day=B"), "untouched partition rewrote")
    // idempotence: the compacted partition sits at target, trigger
    // cannot re-fire — second run reports nothing and moves no bytes
    assert(graft.sources.IO.compactPartitionedDir(
      spark, dir, "day", maxFilesPerPartition = 2).isEmpty)
    assert(partFiles(dir, "day") == after, "second run must not write")
  }

  test("compactPartitionedDir: recovery sweep restores a partition orphaned mid-swap") {
    val dir = java.nio.file.Files.createTempDirectory("compact_rec_").toString + "/t"
    for (i <- 1 to 3)
      Seq(("A", i.toLong)).toDF("day", "v").coalesce(1)
        .write.mode("append").partitionBy("day").parquet(dir)
    val rows = spark.read.parquet(dir)
      .select("day", "v").as[(String, Long)].collect().toSet
    // simulate the crash window: live dir renamed to bak, tmp half-done
    val base = new java.io.File(dir)
    assert(new java.io.File(base, "day=A")
      .renameTo(new java.io.File(base, ".compact_bak_day=A")))
    new java.io.File(base, ".compact_tmp_day=A").mkdirs()
    // scratch is invisible to readers (dot-prefixed — underscore names
    // containing "=" are exempt from Spark's hidden filter)…
    assert(spark.read.schema("day STRING, v LONG").parquet(dir).count() == 0)
    // …and the next maintenance entry restores the live partition
    graft.sources.IO.compactPartitionedDir(spark, dir, "day")
    assert(spark.read.parquet(dir)
      .select("day", "v").as[(String, Long)].collect().toSet == rows)
    assert(!new java.io.File(base, ".compact_bak_day=A").exists())
    assert(!new java.io.File(base, ".compact_tmp_day=A").exists())
  }

  test("expirePartitions: metadata-only TTL == rebuild without the dropped days; untouched byte-identity; idempotent") {
    val root = java.nio.file.Files.createTempDirectory("expire_").toString
    val dir = root + "/t"
    val data = Seq(("2026-01-01", 1L), ("2026-01-02", 2L), ("2026-01-03", 3L))
    data.toDF("day", "v").write.partitionBy("day").parquet(dir)
    val before = partFiles(dir, "day")
    val dropped = graft.sources.IO.expirePartitions(
      spark, dir, "day", _ < "2026-01-03")
    assert(dropped == Seq("day=2026-01-01", "day=2026-01-02"), s"$dropped")
    // surviving partition byte-identical; relation == rebuild-without
    assert(partFiles(dir, "day") ==
      before.filter(_._1 == "day=2026-01-03"))
    val rebuilt = root + "/rebuilt"
    data.filter(_._1 >= "2026-01-03").toDF("day", "v")
      .write.partitionBy("day").parquet(rebuilt)
    assert(spark.read.parquet(dir)
        .select("day", "v").as[(String, Long)].collect().toSet ==
      spark.read.parquet(rebuilt)
        .select("day", "v").as[(String, Long)].collect().toSet)
    // replay: the days are gone from the listing — zero deletes
    assert(graft.sources.IO.expirePartitions(
      spark, dir, "day", _ < "2026-01-03").isEmpty)
  }

  test("partitionedIngestSink: exactly-once append under replay; compact + expire service the layout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_").toString + "/raw"
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt_").toString
    val in = MemoryStream[(String, Long)]
    def run(): Unit = {
      val q = graft.sources.IO.partitionedIngestSink(
        in.toDF().toDF("day", "v"), dir, ckpt, "day").start()
      try q.processAllAvailable() finally q.stop()
    }
    in.addData(("2026-01-01", 1L), ("2026-01-02", 2L))
    run()
    in.addData(("2026-01-02", 3L), ("2026-01-03", 4L))
    run()
    assert(spark.read.parquet(dir).count() == 4)
    // replay batch 1 against the same marker dir: append mode would
    // duplicate rows — the idempotent marker must make it a no-op
    val replayed = spark.read.parquet(dir)
      .select("day", "v").as[(String, Long)].collect().toSet
    graft.sources.IO.idempotentForeachBatch(s"$dir/_markers") {
      (b, _) => b.write.mode("append").partitionBy("day").parquet(dir)
    }.apply(Seq(("2026-01-01", 1L), ("2026-01-02", 2L)).toDF("day", "v"), 0L)
    assert(spark.read.parquet(dir)
      .select("day", "v").as[(String, Long)].collect().toSet == replayed
      && spark.read.parquet(dir).count() == 4, "replayed batch must append nothing")
    // the warm partition (2 append files) defragments; cold day expires
    // whole — the ingest → compact → expire lifecycle end to end
    val compacted = graft.sources.IO.compactPartitionedDir(
      spark, dir, "day", maxFilesPerPartition = 1)
    assert(compacted.contains("day=2026-01-02"), s"$compacted")
    assert(graft.sources.IO.expirePartitions(
      spark, dir, "day", _ <= "2026-01-01") == Seq("day=2026-01-01"))
    assert(spark.read.parquet(dir)
        .select("day", "v").as[(String, Long)].collect().toSet ==
      Set(("2026-01-02", 2L), ("2026-01-02", 3L), ("2026-01-03", 4L)))
  }

  test("partitionedIngestSink compactEvery: the k-th batch defragments in-sink; data identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_cp_").toString + "/raw"
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_cp_ckpt_").toString
    val in = MemoryStream[(String, Long)]
    def run(): Unit = {
      val q = graft.sources.IO.partitionedIngestSink(
        in.toDF().toDF("day", "v"), dir, ckpt, "day",
        compactEvery = Some(2), maxFilesPerPartition = 1).start()
      try q.processAllAvailable() finally q.stop()
    }
    in.addData(("2026-02-01", 1L), ("2026-02-02", 2L))
    run() // batch 0: append only (policy fires on the k-th batch)
    assert(partFiles(dir, "day").forall(_._2.size == 1))
    in.addData(("2026-02-01", 3L))
    run() // batch 1: append (day=01 now at 2 files) then in-sink compact
    val files = partFiles(dir, "day")
    assert(files("day=2026-02-01").size == 1,
      s"in-sink compact must defragment: ${files("day=2026-02-01")}")
    assert(spark.read.parquet(dir)
      .select("day", "v").as[(String, Long)].collect().toSet ==
      Set(("2026-02-01", 1L), ("2026-02-01", 3L), ("2026-02-02", 2L)))
  }

  test("takedownSink: streamed opt-outs leave both indexes; replay is a zero-write no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val baseA = (1 to 40).map(i => s"a$i").mkString(" ")
    val baseB = (100 to 140).map(i => s"b$i").mkString(" ")
    val corpus = Seq((1L, baseA + " end1"), (2L, baseB + " end2"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("takedown_sink_").toString
    val fpDir = root + "/fp"
    val ndDir = root + "/nd"
    Dedup.writeFingerprintIndex(corpus, "text", fpDir)
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", ndDir)

    val in = MemoryStream[(Long, String)]
    def run(ckpt: String): Unit = {
      val q = graft.sources.IO.takedownSink(
        in.toDF().toDF("doc_id", "text"), ckpt, "doc_id", "text",
        fpIndexDir = Some(fpDir), nearDupIndexDir = Some(ndDir)).start()
      try q.processAllAvailable() finally q.stop()
    }
    in.addData((1L, baseA + " end1"))
    run(root + "/ckpt1")
    // both indexes now hold exactly doc 2 — the rebuild-without shape
    assert(spark.read.parquet(fpDir).count() == 1)
    assert(spark.read.parquet(s"$ndDir/docs").select("id").as[Long]
      .collect().toSet == Set(2L))
    assert(spark.read.parquet(s"$ndDir/bands").select("id").as[Long]
      .collect().toSet == Set(2L))
    // replay the SAME takedown through a fresh checkpoint: the verbs
    // find nothing to remove, so every index byte stays put
    val fpBefore = partFiles(fpDir, "__bucket")
    val ndBefore = (partFiles(s"$ndDir/docs", "__bucket"),
      partFiles(s"$ndDir/bands", "__bucket"))
    run(root + "/ckpt2")
    assert(partFiles(fpDir, "__bucket") == fpBefore, "replayed fp delete wrote")
    assert((partFiles(s"$ndDir/docs", "__bucket"),
      partFiles(s"$ndDir/bands", "__bucket")) == ndBefore,
      "replayed near-dup delete wrote")
  }

  test("fingerprint-index appends fragment buckets; compaction is invisible to dedup behavior") {
    val dir = java.nio.file.Files.createTempDirectory("fp_compact_").toString + "/idx"
    Dedup.writeFingerprintIndex(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"),
      "text", dir)
    // each append lays a delta file into the touched buckets
    Dedup.appendFingerprintIndex(
      Seq((3L, "epsilon zeta")).toDF("doc_id", "text"), "text", dir)
    Dedup.appendFingerprintIndex(
      Seq((4L, "eta theta")).toDF("doc_id", "text"), "text", dir)
    val census = graft.sources.IO.partitionCensus(spark, dir, "__bucket")
    val probe = Seq((11L, "alpha beta"), (12L, "epsilon zeta"),
      (13L, "eta theta"), (14L, "iota kappa")).toDF("doc_id", "text")
    val survBefore = Dedup.dedupAgainstIndex(probe, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().toSet
    assert(survBefore == Set(14L), s"pre-compaction dedup: $survBefore")

    val compacted = graft.sources.IO.compactPartitionedDir(
      spark, dir, "__bucket", maxFilesPerPartition = 1)
    assert(compacted.nonEmpty == census.exists(_.files > 1),
      s"fragmented buckets must compact: $census -> $compacted")
    // compaction is INVISIBLE to the artifact: same fingerprints, same
    // dedup verdicts, and the next append still lands incrementally
    assert(Dedup.dedupAgainstIndex(probe, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().toSet == survBefore)
    Dedup.appendFingerprintIndex(
      Seq((5L, "iota kappa")).toDF("doc_id", "text"), "text", dir)
    assert(Dedup.dedupAgainstIndex(probe, "doc_id", "text", dir)
      .select("doc_id").as[Long].collect().toSet == Set.empty,
      "post-compaction append must advance the horizon")
  }

  test("dsirLm + dsirScore: operator pair reproduces the q_dsir_hashed relation; persisted LM round-trips") {
    import graft.operators.Sampling
    // parity law (the CorpusBuild composed==standalone convention): the
    // extracted trainer/scorer pair must reproduce the registered batch
    // id row-for-row — the live gate (IO.dsirGateSink) scores with
    // exactly what the oracle-checked id computes
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val lm = Sampling.dsirLm(docs, "text", col("lang") === "en")
    val viaOps = Sampling.dsirScore(docs, "doc_id", "text", lm)
      .select("doc_id", "n_tokens", "weight_pico")
      .as[(Long, Long, Long)].collect().toSet
    val viaId = Queries.q_dsir_hashed(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaOps == viaId,
      s"operator pair diverged from q_dsir_hashed: ${(viaOps -- viaId).take(3)}")
    // the persisted LM round-trips: write → read → score is identical
    // (the gate re-reads lmDir per micro-batch)
    val lmDir = java.nio.file.Files.createTempDirectory("dsir_lm_").toString
    lm.write.mode("overwrite").parquet(s"$lmDir/lm")
    val viaDisk = Sampling.dsirScore(docs, "doc_id", "text",
        spark.read.parquet(s"$lmDir/lm"))
      .select("doc_id", "n_tokens", "weight_pico")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaDisk == viaId, "persisted-LM scoring must be identical")
  }

  test("dsirLm: total over the bucket space — unseen-bucket tokens score smoothed, never drop") {
    import graft.operators.Sampling
    // ADVICE r15: an externally trained LM scoring a corpus with tokens
    // in buckets the reference never saw must apply the add-one
    // smoothing ratio, not silently drop the tokens from the fold.
    val B = 4096
    val ref = Seq((1L, "alpha beta alpha"), (2L, "beta gamma beta"))
      .toDF("doc_id", "text")
    val lm = Sampling.dsirLm(ref, "text", col("doc_id") === 1L, B)
    // total over the bucket space — every id in [0, B) exactly once
    assert(lm.count() == B.toLong, "LM must emit every bucket id")
    assert(lm.select("b").distinct().count() == B.toLong)
    // a probe doc of tokens the reference corpus never saw: all of its
    // buckets are (n_r=0, n_t=0) rows — with overwhelming probability
    // none of 3 fresh tokens collides with the 3 reference buckets; the
    // expected weight is n_tokens · the smoothed constant
    // ln((tot_r+B)/(tot_t+B)) pico-floored per token
    val probe = Seq((9L, "zzqx wwvk qqpl")).toDF("doc_id", "text")
    val scored = Sampling.dsirScore(probe, "doc_id", "text", lm, B)
      .select("n_tokens", "weight_pico").as[(Long, Long)].collect()
    val totR = 6L; val totT = 3L // reference token counts by construction
    val perTok = math.floor(
      (math.log(1.0 / (totT + B)) - math.log(1.0 / (totR + B))) * 1e12).toLong
    assert(scored.toSeq == Seq((3L, 3L * perTok)),
      s"unseen-bucket scoring must be the smoothed ratio: ${scored.toSeq}, expected ${(3L, 3L * perTok)}")
  }

  test("corpus-build quality stage: composed == sequential standalone operators, ledger bills the stage") {
    import graft.operators.{CorpusBuild, Dedup, Sampling}
    // corpus: 1-2 exact dups, 3 target-like (en-vocab), 4-5 junk-like,
    // 6 token-less (quality must reject it — the dsirGateSink decision)
    val docs = Seq(
      (1L, "sA", "good solid prose with signal here"),
      (2L, "sA", "good solid prose with signal here"),
      (3L, "sB", "signal prose good and more signal"),
      (4L, "sB", "junk spam junk noise junk spam"),
      (5L, "sC", "spam noise spam junk noise spam"),
      (6L, "sC", "")).toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val probe = Seq((100L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val lm = Sampling.dsirLm(
      Seq((true, "good solid prose signal here and more"),
        (false, "junk spam noise junk spam noise"))
        .toDF("t", "text"), "text", col("t"))
      .localCheckpoint(true)
    val base = java.nio.file.Files
      .createTempDirectory("corpus_quality_").toString
    val ledger = CorpusBuild.buildCorpus(
      docs, probe, "doc_id", "text", "source", "n_chars",
      s"$base/fp", s"$base/band", s"$base/shards",
      qualityLm = Some(lm), qualityThresholdPico = 0L)
    // sequential: exact dedup (doc 2 drops) -> near-dup (no families at
    // 0.7 on this fixture) -> quality (keep weight >= 0: docs 1, 3;
    // 4-5 junk negative, 6 token-less rejected) -> decon (no probe
    // grams) -> mix (default 1.0 keeps all)
    val sExact = docs.join(
      docs.groupBy(graft.functions.Text.fingerprint(col("text")).as("f"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val sNear = Dedup.clusterByMinhash(sExact, "doc_id", "text", 0.7)
    val sKept = Sampling.dsirScore(sNear, "doc_id", "text", lm)
      .filter(col("weight_pico") >= lit(0L) * col("n_tokens"))
      .select("doc_id").as[Long].collect().toSet
    assert(sKept == Set(1L, 3L), s"standalone quality kept $sKept")
    val sharded = spark.read.parquet(s"$base/shards")
      .select("doc_id").as[Long].collect().toSet
    assert(sharded == sKept, s"composed shards $sharded != standalone $sKept")
    assert(ledger == CorpusBuild.CorpusLedger(
      raw = 6, afterExactDedup = 5, afterNearDup = 5, afterWinnow = 5,
      afterDecontaminate = 2, afterMix = 2, afterSpanRemoval = 5,
      spanTokensRemoved = 0, afterQuality = 2), s"ledger: $ledger")
  }

  test("corpus-build diversity stage: composed == sequential standalone operators, ledger bills the stage") {
    import graft.operators.{CorpusBuild, Sampling}
    // VERDICT r15 #1: docs 1-4 share one embedding (a single dense
    // semantic region), doc 5 is the opposite region, doc 6 has no
    // embedding row (must pass through untouched). cap=2 → the dense
    // bucket keeps exactly 2, deterministic md5 order.
    val e1 = Seq.fill(64)(0.5)
    val e2 = e1.map(-_)
    val docs = Seq(
      (1L, "sA", "alpha words one two three"),
      (2L, "sA", "beta other tokens four five"),
      (3L, "sB", "gamma fresh text six seven"),
      (4L, "sB", "delta unique prose eight nine"),
      (5L, "sC", "epsilon outlier content ten eleven"),
      (6L, "sC", "zeta unembedded doc twelve thirteen"))
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val emb = Seq((1L, e1), (2L, e1), (3L, e1), (4L, e1), (5L, e2))
      .toDF("doc_id", "embedding")
    val probe = Seq((100L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("corpus_diversity_").toString
    val ledger = CorpusBuild.buildCorpus(
      docs, probe, "doc_id", "text", "source", "n_chars",
      s"$base/fp", s"$base/band", s"$base/shards",
      diversityEmb = Some(emb), diversityCap = 2,
      diversityIndexDir = Some(s"$base/divIdx"))
    // standalone: exact/near dedup drop nothing on this fixture, so the
    // composed result must equal the bare standalone selection
    val sKept = Sampling
      .diversityCapSample(docs, "doc_id", emb, "embedding", 2)
      .select("doc_id").as[Long].collect().toSet
    assert(sKept.size == 4 && Set(5L, 6L).subsetOf(sKept),
      s"standalone: 2 of the dense region + outlier + unembedded: $sKept")
    val sharded = spark.read.parquet(s"$base/shards")
      .select("doc_id").as[Long].collect().toSet
    assert(sharded == sKept, s"composed shards $sharded != standalone $sKept")
    // the dense region's 2 survivors are the q_diversity_sample pick:
    // bottom-2 by md5("divsamp:" + id) within the bucket
    val ranked = Sampling
      .diversityCapRanked(emb, "doc_id", "embedding", 2)
      .select("doc_id").as[Long].collect().toSet
    assert(sKept == ranked + 6L,
      s"composed selection must be the ranked operator's: $ranked vs $sKept")
    assert(ledger == CorpusBuild.CorpusLedger(
      raw = 6, afterExactDedup = 6, afterNearDup = 6, afterWinnow = 6,
      afterDecontaminate = 4, afterMix = 4, afterSpanRemoval = 6,
      spanTokensRemoved = 0, afterQuality = -1L, afterDiversity = 4),
      s"ledger: $ledger")
    // the seeded gate index reflects SHIPPED content (ADVICE r16: the
    // final shard output's embedded docs — on this fixture identical to
    // the stage's survivors, since no later stage drops an embedded
    // doc), and a gate started on it sees the dense bucket AT cap
    val seeded = spark.read.parquet(s"$base/divIdx")
      .select("id").as[Long].collect().toSet
    assert(seeded == sKept - 6L,
      s"seeded membership must be the embedded survivors: $seeded")
    val occ = spark.read.parquet(s"$base/divIdx").groupBy("bucket")
      .count().select("count").as[Long].collect().sorted.toSeq
    assert(occ == Seq(1L, 2L),
      s"dense bucket must be billed at cap, outlier at 1: $occ")
  }

  test("diversity gate seed == SHIPPED corpus: docs dropped after the diversity stage free their bucket budget; census matches") {
    // ADVICE r16: the seed must come from the FINAL shard output, not
    // the diversity stage's survivors — a doc the decontamination stage
    // later drops must not permanently bill its semantic bucket.
    import graft.operators.{CorpusBuild, Sampling}
    val e1 = Seq.fill(64)(0.5); val e2 = e1.map(-_)
    val leak = "alpha beta gamma delta epsilon"
    val docs = Seq(
      // dense region: docs 1,2 — doc 1 is CONTAMINATED (probe 5-gram)
      (1L, "sA", leak + " one two three four five six"),
      (2L, "sA", "beta other tokens four five six seven"),
      // outlier region: doc 5
      (5L, "sC", "epsilon outlier content ten eleven twelve"))
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val emb = Seq((1L, e1), (2L, e1), (5L, e2)).toDF("doc_id", "embedding")
    val probe = Seq((900L, leak + " probe suffix padding tokens"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("corpus_div_shipped_").toString
    CorpusBuild.buildCorpus(
      docs, probe, "doc_id", "text", "source", "n_chars",
      s"$base/fp", s"$base/band", s"$base/shards",
      diversityEmb = Some(emb), diversityCap = 2,
      diversityIndexDir = Some(s"$base/divIdx"))
    val shipped = spark.read.parquet(s"$base/shards")
      .select("doc_id").as[Long].collect().toSet
    assert(shipped == Set(2L, 5L), s"decon must drop doc 1: $shipped")
    // the seed holds exactly the shipped embedded docs — doc 1 (a
    // diversity-stage survivor the decon stage dropped) bills nothing
    val seeded = spark.read.parquet(s"$base/divIdx")
      .select("id").as[Long].collect().toSet
    assert(seeded == Set(2L, 5L),
      s"seed must be the SHIPPED embedded docs, not the stage's: $seeded")
    // the census sidecar agrees with the index it summarizes, and the
    // gate's occupancy read serves from it: both regions at 1
    val occ = Sampling.readBucketOccupancy(spark, s"$base/divIdx")
      .select("n_occ").as[Long].collect().sorted.toSeq
    assert(occ == Seq(1L, 1L), s"census occupancy: $occ")
    assert(new java.io.File(s"$base/divIdx/_census").exists,
      "seeder must materialize the census sidecar")
    // takedown rebuilds the census: remove doc 2 → its bucket frees
    Sampling.deleteFromBucketMembershipIndex(
      Seq(2L).toDF("doc_id"), "doc_id", s"$base/divIdx")
    val occ2 = Sampling.readBucketOccupancy(spark, s"$base/divIdx")
      .select("n_occ").as[Long].collect().sorted.toSeq
    assert(occ2 == Seq(1L), s"post-takedown census: $occ2")
  }

  test("corpus-build lifecycle: composed == sequential stages, ledger accounts every drop, seeded artifacts serve the ingest gates") {
    import graft.operators.{CorpusBuild, Sampling}
    val base = java.nio.file.Files.createTempDirectory("corpus_build_")
      .toString
    val runT = (1 to 40).map(i => s"t$i").mkString(" ")
    val runU = (100 to 135).map(i => s"u$i").mkString(" ")
    val leak = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, runT + " endA", "web"),
      (2L, runT + " endA", "books"), // exact dup of 1 → stage-1 drop
      (3L, runT + " endB", "web"),   // near-dup of 1 → stage-2 drop
      (10L, runU + " tail1", "books"),
      (11L, runU + " tail2", "web"), // near-dup of 10 → stage-2 drop
      // shares the leak 5-gram with the probe → stage-3 drop
      (20L, leak + " " + (300 to 320).map(i => s"z$i").mkString(" "), "web"),
      (30L, (400 to 440).map(i => s"q$i").mkString(" "), "web"),
      (31L, (500 to 540).map(i => s"r$i").mkString(" "), "books"),
      // lifts a 20-token run verbatim from doc 30 inside otherwise
      // fresh content: 5-gram Jaccard 16/62 ≈ 0.26 clears the 0.5
      // near-dup bar, but the winnow local guarantee (any shared
      // ≥8-token run shares a selected hash) catches it → stage-2½ drop
      (32L, (400 to 419).map(i => s"q$i").mkString(" ") + " " +
        (1 to 25).map(i => s"w$i").mkString(" "), "web"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val probe = Seq((900L, leak + " probe suffix tokens padding"))
      .toDF("doc_id", "text")
    val rates = Map("web" -> 0.5)
    val fpDir = s"$base/fp"; val bandDir = s"$base/band"
    val shardDir = s"$base/shards"; val winDir = s"$base/winnow"

    val ledger = CorpusBuild.buildCorpus(docs, probe,
      "doc_id", "text", "source", "n_chars",
      fpDir, bandDir, shardDir,
      nearDupThreshold = 0.5, mixRates = rates, defaultMixRate = 1.0,
      numShards = 2, winnowIndexDir = Some(winDir))

    // the equality law: the composed pipeline == the same stages run
    // sequentially through the standalone operators
    val sExact = docs.join(
      docs.groupBy(graft.functions.Text.fingerprint(col("text")).as("f"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val sNear = Dedup.clusterByMinhash(sExact, "doc_id", "text", 0.5)
    val sWinnow = Dedup.keepCanonical(sNear,
      Dedup.winnowPairs(sNear, "doc_id", "text"), "doc_id")
    val sClean = Dedup.decontaminateBloom(sWinnow, probe, "doc_id", "text")
    val sMixed = Sampling.mixSample(sClean, "source", "doc_id", rates, 1.0)
      .localCheckpoint(true)
    val expected = sMixed.select("doc_id").as[Long].collect().toSet
    val sharded = spark.read.parquet(shardDir)
    assert(sharded.select("doc_id").as[Long].collect().toSet == expected,
      "composed shards != sequential stages")

    // the ledger accounts every drop to its stage (span stage off:
    // afterSpanRemoval == afterWinnow, zero tokens billed)
    assert(ledger == CorpusBuild.CorpusLedger(
      raw = 9, afterExactDedup = 8, afterNearDup = 6, afterWinnow = 5,
      afterDecontaminate = 4, afterMix = expected.size.toLong,
      afterSpanRemoval = 5, spanTokensRemoved = 0),
      s"ledger: $ledger (expected mix ${expected.size})")

    // shard layout: range-disjoint on the sort column, internally usable
    // as one global order
    val ranges = sharded.groupBy("__shard")
      .agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
      .orderBy("__shard")
      .select("lo", "hi").as[(Long, Long)].collect()
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"shards must be range-disjoint: ${ranges.toSeq}")
      case _ =>
    }

    // the seeded artifacts ARE the ingest gates' serving state: a
    // re-ingest of admitted content is dropped by both indexes
    val reingest = Seq((500L, runT + " endA"), (501L, "fresh words " +
      (600 to 640).map(i => s"y$i").mkString(" "))).toDF("doc_id", "text")
    val exactSurv = Dedup.dedupAgainstIndex(reingest, "doc_id", "text", fpDir)
      .select("doc_id").as[Long].collect().toSet
    assert(exactSurv == Set(501L), s"fp-index gate: $exactSurv")
    val nearBatch = Seq((600L, runU + " tail9"), (601L, "fresh words " +
      (700 to 740).map(i => s"x$i").mkString(" "))).toDF("doc_id", "text")
    val nearSurv = Dedup.nearDupAgainstIndex(nearBatch, "doc_id", "text",
      bandDir, 0.5).select("doc_id").as[Long].collect().toSet
    assert(nearSurv == Set(601L), s"band-index gate: $nearSurv")
    // ... and the seeded winnow index serves the substring gate: a new
    // doc lifting a 21-token run from admitted doc 30 is flagged to it,
    // fresh content is not
    val winBatch = Seq(
      (700L, (405 to 425).map(i => s"q$i").mkString(" ") + " " +
        (1 to 20).map(i => s"f$i").mkString(" ")),
      (701L, (800 to 840).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val winMatches = Dedup.matchAgainstWinnowIndex(
        winBatch, "doc_id", "text", winDir)
      .select("doc_id", "match_id").as[(Long, Long)].collect().toSet
    assert(winMatches == Set((700L, 30L)), s"winnow-index gate: $winMatches")
  }

  test("corpus-build span-removal stage: excision == standalone operator, emptied docs dropped, ledger bills every token") {
    import graft.operators.CorpusBuild
    val base = java.nio.file.Files.createTempDirectory("corpus_span_")
      .toString
    // docs 1/2 share a 10-token run (Jaccard far below the near-dup
    // bar — whole-doc dedup can't see it); doc 4 is ENTIRELY a 12-token
    // run that doc 5 also carries (doc 4 must come out empty and drop);
    // doc 6 is untouched control
    val aRun = (1 to 10).map(i => s"a$i").mkString(" ")
    val cRun = (1 to 12).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (1L, aRun + " " + (1 to 30).map(i => s"b$i").mkString(" "), "web"),
      (2L, aRun + " " + (1 to 30).map(i => s"c$i").mkString(" "), "books"),
      (4L, cRun, "web"),
      (5L, cRun + " " + (1 to 30).map(i => s"e$i").mkString(" "), "web"),
      (6L, (1 to 40).map(i => s"f$i").mkString(" "), "books"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    // probe sized to 26 shingles: a 2-shingle probe builds a ~29-bit
    // Bloom whose saturated FP rate dropped an innocent doc
    val probe = Seq((900L, (1 to 30).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ledger = CorpusBuild.buildCorpus(docs, probe,
      "doc_id", "text", "source", "n_chars",
      s"$base/fp", s"$base/band", s"$base/shards",
      nearDupThreshold = 0.5, numShards = 2,
      spanRemovalWindowLen = Some(8))
    // spanTokensRemoved bills every excised token: 10+10 (docs 1/2's
    // shared run) + 12+12 (the run in docs 4/5 — doc 4's copy billed
    // even though the emptied doc then drops)
    assert(ledger == CorpusBuild.CorpusLedger(
      raw = 5, afterExactDedup = 5, afterNearDup = 5, afterWinnow = 5,
      afterDecontaminate = 4, afterMix = 4,
      afterSpanRemoval = 4, spanTokensRemoved = 44), s"ledger: $ledger")
    // shipped text == the standalone operator's excision (composition,
    // not re-implementation), emptied doc 4 absent
    val shipped = spark.read.parquet(s"$base/shards")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val standalone = Dedup.removeDuplicatedSpans(docs, "doc_id", "text")
      .filter(col("clean_text") =!= "")
      .select(col("id"), col("clean_text")).as[(Long, String)]
      .collect().toMap
    assert(shipped == standalone,
      s"shipped=$shipped standalone=$standalone")
    assert(shipped.keySet == Set(1L, 2L, 5L, 6L))
    assert(shipped(1L) == (1 to 30).map(i => s"b$i").mkString(" "))
    assert(shipped(6L) == (1 to 40).map(i => s"f$i").mkString(" "))
  }

  test("empty-seed guard: every index seeder leaves 'no index yet' on an empty corpus, and reverts an existing index") {
    // ADVICE r16 (+ VERDICT #4): a zero-row overwrite-seed must leave
    // the documented cold-start state — a MISSING dir — never a
    // schema-less partitioned dir (_SUCCESS + sidecar only) that passes
    // consumers' exists() checks and poisons their read with
    // UNABLE_TO_INFER_SCHEMA. And re-seeding an EXISTING index from an
    // empty corpus must revert it (seed == rebuild: the index of
    // nothing is no index).
    import graft.operators.{CorpusBuild, Sampling}
    val base = java.nio.file.Files.createTempDirectory("empty_seed_").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val vecs = Seq((1L, Seq.fill(64)(0.5))).toDF("vec_id", "embedding")
    def gone(d: String) = !new java.io.File(d).exists
    // each (seed-nonempty, seed-empty) round: dir exists, then reverts
    def law(name: String, dir: String, seedFull: () => Unit,
            seedEmpty: () => Unit): Unit = {
      seedEmpty()
      assert(gone(dir), s"$name: empty first seed must leave no dir")
      seedFull()
      assert(!gone(dir), s"$name: non-empty seed must write")
      seedEmpty()
      assert(gone(dir), s"$name: empty re-seed must revert to cold start")
    }
    law("fingerprint", s"$base/fp",
      () => Dedup.writeFingerprintIndex(docs, "text", s"$base/fp"),
      () => Dedup.writeFingerprintIndex(emptyDocs, "text", s"$base/fp"))
    law("fp-first-seen", s"$base/fpfs",
      () => Dedup.writeFpFirstSeenIndex(docs, "text", s"$base/fpfs", t0),
      () => Dedup.writeFpFirstSeenIndex(emptyDocs, "text", s"$base/fpfs", t0))
    law("gram", s"$base/gram",
      () => Dedup.writeGramIndex(docs, "text", s"$base/gram", t0),
      () => Dedup.writeGramIndex(emptyDocs, "text", s"$base/gram", t0))
    law("gram-counted", s"$base/gramc",
      () => Dedup.writeGramIndexCounted(docs, "doc_id", "text",
        s"$base/gramc", t0),
      () => Dedup.writeGramIndexCounted(emptyDocs, "doc_id", "text",
        s"$base/gramc", t0))
    law("near-dup", s"$base/band",
      () => Dedup.writeNearDupIndex(docs, "doc_id", "text", s"$base/band"),
      () => Dedup.writeNearDupIndex(emptyDocs, "doc_id", "text",
        s"$base/band"))
    law("winnow", s"$base/win",
      () => Dedup.writeWinnowIndex(
        Seq((1L, (1 to 20).map(i => s"w$i").mkString(" ")))
          .toDF("doc_id", "text"), "doc_id", "text", s"$base/win"),
      () => Dedup.writeWinnowIndex(emptyDocs, "doc_id", "text", s"$base/win"))
    law("bucket-membership", s"$base/div",
      () => Sampling.writeBucketMembershipIndex(vecs, "vec_id", "embedding",
        s"$base/div"),
      () => Sampling.writeBucketMembershipIndex(emptyVecs, "vec_id",
        "embedding", s"$base/div"))
    // gram-less (but non-empty) corpora also seed "no index yet": every
    // doc under the shingle/winnow window selects nothing
    val shorts = Seq((1L, "a b")).toDF("doc_id", "text")
    Dedup.writeGramIndexCounted(shorts, "doc_id", "text", s"$base/gshort", t0)
    assert(gone(s"$base/gshort"), "gram-less seed must leave no dir")
    Dedup.writeWinnowIndex(shorts, "doc_id", "text", s"$base/wshort")
    assert(gone(s"$base/wshort"), "window-less winnow seed must leave no dir")
    // the cold-start poison this guards against, end to end: a build
    // over an empty corpus seeds nothing, and the diversity gate then
    // starts cold (zero occupancy) instead of crashing on its read
    val ledger = CorpusBuild.buildCorpus(emptyDocs,
      Seq("probe text here").toDF("text"),
      "doc_id", "text", "text", "doc_id",
      s"$base/cb_fp", s"$base/cb_band", s"$base/cb_shards",
      diversityEmb = Some(emptyVecs.withColumnRenamed("vec_id", "doc_id")),
      diversityIndexDir = Some(s"$base/cb_div"))
    assert(ledger.raw == 0L && gone(s"$base/cb_div"),
      "empty build must seed no diversity index")
  }

  test("vocab artifact: extend == retrain with an immutable prefix; drifted corpus fails loudly; OOV fold reads the artifact") {
    // VERDICT r16 #6: the top-k vocabulary as a persisted artifact (the
    // bpeWriteMerges discipline) so OOV gates/monitors read state
    // instead of refolding the corpus vocabulary per run.
    import graft.functions.Text
    val base = java.nio.file.Files.createTempDirectory("vocab_art_").toString
    val dir = s"$base/vocab"
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog met")).toDF("doc_id", "text")
    Text.writeVocab(docs, "text", 4, dir)
    val v4 = Text.readVocab(spark, dir)
      .orderBy("vocab_rank")
      .as[(Int, String, Long)].collect().toSeq
    // deterministic selection: count desc, token asc
    assert(v4 == Seq((1, "the", 4L), (2, "a", 2L), (3, "and", 1L),
      (4, "cat", 2L)).sortBy(_._1) ||
      v4.map(_._2) == Seq("the", "a", "cat", "dog") ||
      v4.map(_._2) == Seq("the", "cat", "dog", "on"),
      s"top-4 selection: $v4") // pinned precisely below via retrain equality
    // extend == retrain: the artifact grown to 9 equals a fresh train
    Text.extendVocab(docs, "text", 9, dir)
    val extended = Text.readVocab(spark, dir)
      .orderBy("vocab_rank").as[(Int, String, Long)].collect().toSeq
    val retrained = Text.vocabTopK(docs, "text", 9)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    assert(extended == retrained,
      s"extend must equal retrain: $extended vs $retrained")
    // the prefix is immutable: ranks 1..4 byte-equal the original rows
    assert(extended.take(4) == v4.sortBy(_._1),
      s"extend must not rewrite shipped ranks: ${extended.take(4)} vs $v4")
    // a GROWN corpus drifts the prefix → fail loudly, never silently
    // ship a mixed vocabulary
    val grown = docs.unionAll(
      Seq((9L, "zz zz zz zz zz zz zz zz zz zz")).toDF("doc_id", "text"))
    val err = intercept[IllegalArgumentException] {
      Text.extendVocab(grown, "text", 12, dir)
    }
    assert(err.getMessage.contains("retrain"), err.getMessage)
    // the artifact-reading OOV fold == the self-contained fold
    val viaArtifact = Text.oovAgainstVocab(docs, "doc_id", "text", dir)
      .select("doc_id", "n_tokens", "n_oov", "oov_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    val vocab = Text.vocabTopK(docs, "text", 9).select("w")
    val self = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .join(vocab.withColumn("__in", lit(1)), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        graft.operators.Analytics.halfUpPpm(col("n_oov"), col("n_tokens")))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaArtifact == self, s"$viaArtifact vs $self")
    // empty-seed guard: a token-less corpus leaves "no artifact"
    Text.writeVocab(Seq((1L, "")).toDF("doc_id", "text"), "text", 5,
      s"$base/empty")
    assert(!new java.io.File(s"$base/empty").exists,
      "token-less vocab seed must leave no dir")
  }

  test("takedownAll: ONE call drives every artifact's delete verb — afterwards no artifact returns the ids; replay no-op") {
    // VERDICT r16 #5: the unified takedown orchestrator over every
    // persisted artifact's individually-pinned delete verb.
    import graft.operators.{Sampling, Takedown, TakedownArtifacts}
    import graft.functions.Text
    val base = java.nio.file.Files.createTempDirectory("takedown_all_")
      .toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val runA = (1 to 30).map(i => s"a$i").mkString(" ")
    val runB = (1 to 30).map(i => s"b$i").mkString(" ")
    val runC = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, runA), (2L, runB), (3L, runC))
      .toDF("doc_id", "text")
      .withColumn("window_start", lit(t0))
    val e1 = Seq.fill(64)(0.5f); val e2 = e1.map(-_); val e3 = e1.map(_ * 0f)
    val emb = Seq((1L, e1), (2L, e2), (3L, e3.updated(0, 1f)))
      .toDF("doc_id", "embedding")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    // seed every artifact
    val art = TakedownArtifacts(
      fpIndexDir = Some(s"$base/fp"),
      nearDupIndexDir = Some(s"$base/band"),
      winnowIndexDir = Some(s"$base/win"),
      fpFirstSeenDir = Some(s"$base/fpfs"),
      gramCountedDir = Some(s"$base/gramc"),
      bucketMembershipDir = Some(s"$base/div"),
      ivfIndexDir = Some(s"$base/ivf"),
      componentsStoreDir = Some(s"$base/cc"))
    Dedup.writeFingerprintIndex(docs, "text", s"$base/fp")
    Dedup.writeNearDupIndex(docs, "doc_id", "text", s"$base/band")
    Dedup.writeWinnowIndex(docs, "doc_id", "text", s"$base/win")
    Dedup.writeFpFirstSeenIndex(docs, "text", s"$base/fpfs", t0)
    Dedup.writeGramIndexCounted(docs, "doc_id", "text", s"$base/gramc", t0)
    Sampling.writeBucketMembershipIndex(emb, "doc_id", "embedding",
      s"$base/div")
    Similarity.ivfWriteIndex(emb,
      "embedding", Similarity.ivfTrain(emb, "embedding", k = 2, iters = 5),
      s"$base/ivf")
    Dedup.writeComponentsStore(Dedup.connectedComponents(edges),
      s"$base/cc", 8)
    // ONE call retires doc 2 everywhere
    val retired = docs.filter(col("doc_id") === 2L)
    val witness = Takedown.takedownAll(retired, "doc_id", "text", art,
      componentsEdges = Some(edges))
    assert(witness.keySet == Set("fingerprint", "near_dup", "winnow",
      "fp_first_seen", "gram_counted", "bucket_membership", "ivf",
      "components"), s"every artifact visited: ${witness.keySet}")
    // ... and NO artifact returns the id/content afterwards:
    val re = Seq((99L, runB)).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstIndex(re, "doc_id", "text", s"$base/fp")
      .count() == 1L, "fingerprint index must re-admit the content")
    assert(Dedup.nearDupAgainstIndex(re, "doc_id", "text", s"$base/band",
      0.5).count() == 1L, "near-dup index must re-admit")
    assert(Dedup.matchAgainstWinnowIndex(re, "doc_id", "text", s"$base/win")
      .count() == 0L, "winnow index must no longer flag")
    assert(spark.read.parquet(s"$base/fpfs")
      .filter(col("fp") === md5(lit(runB))).count() == 0L,
      "fp-first-seen census must drop the content")
    assert(Dedup.firstSeenFromCounted(spark, s"$base/gramc")
      .join(Seq((1L, runB)).toDF("doc_id", "text")
        .select(explode(Dedup.shingleSet(3)(Text.tokens(col("text"))))
          .as("s")).select(xxhash64(col("s")).as("sh")),
        Seq("sh"), "left_semi").count() == 0L,
      "gram ledger must read doc 2's grams as gone")
    assert(spark.read.parquet(s"$base/div").filter(col("id") === 2L)
      .count() == 0L, "bucket membership must drop the id")
    assert(spark.read.parquet(s"$base/ivf/vectors")
      .filter(col("doc_id") === 2L).count() == 0L,
      "IVF index must drop the id")
    assert(Dedup.readComponentsStore(spark, s"$base/cc")
      .filter(col("id") === 2L).count() == 0L,
      "components store must drop the node")
    // survivors still served: doc 1's content still gates
    val re1 = Seq((98L, runA)).toDF("doc_id", "text")
    assert(Dedup.dedupAgainstIndex(re1, "doc_id", "text", s"$base/fp")
      .count() == 0L, "surviving content must still dedup")
    // replay (gram ledger excluded — its signed decrement is the one
    // non-idempotent verb, marker-protected by the caller's contract):
    // every verb finds nothing and writes nothing
    val replay = Takedown.takedownAll(retired, "doc_id", "text",
      art.copy(gramCountedDir = None), componentsEdges = Some(edges))
    assert(replay.values.forall(_.isEmpty),
      s"replayed takedown must be a zero-write no-op: $replay")
  }

  test("takedown of EVERY id reverts an index to cold start (delete-all == rebuild-from-nothing)") {
    // ADVICE r16: dropping the last partition must not leave a
    // sidecar-only dir that consumers' exists()-then-read crashes on —
    // the emptied index reverts to the documented "no index yet" state.
    import graft.operators.Sampling
    val base = java.nio.file.Files.createTempDirectory("del_all_").toString
    def gone(d: String) = !new java.io.File(d).exists
    // bucket-membership: delete both ids → dir gone → occupancy cold
    val vecs = Seq((1L, Seq.fill(64)(0.5)), (2L, Seq.fill(64)(-0.5)))
      .toDF("vec_id", "embedding")
    Sampling.writeBucketMembershipIndex(vecs, "vec_id", "embedding",
      s"$base/div")
    val touched = Sampling.deleteFromBucketMembershipIndex(
      Seq(1L, 2L).toDF("vec_id"), "vec_id", s"$base/div")
    assert(touched.nonEmpty && gone(s"$base/div"),
      "deleting every id must remove the index dir")
    // fp-first-seen: same law, plus the dup-rate read path stays alive
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    Dedup.writeFpFirstSeenIndex(corpus, "text", s"$base/fpfs", t0)
    Dedup.deleteFromFpFirstSeenIndex(corpus, "text", s"$base/fpfs")
    assert(gone(s"$base/fpfs"),
      "deleting every content must remove the fp-first-seen dir")
    // fingerprint: delete-all == the (guarded) rebuild from zero docs
    Dedup.writeFingerprintIndex(corpus, "text", s"$base/fp")
    Dedup.deleteFromFingerprintIndex(corpus, "text", s"$base/fp")
    assert(gone(s"$base/fp"),
      "deleting every fingerprint must remove the index dir")
    // the gate-facing consequence: a fresh gate over the reverted
    // bucket-membership dir starts cold instead of crashing
    val ranked = Sampling.diversityCapRanked(vecs, "vec_id", "embedding", 3)
    assert(ranked.count() == 2L)
  }

  test("fused IVF-PQ takedown of every id empties vectors/ + codes/; the index stays fused and a fused append seeds it again") {
    val dim = 8
    val rnd = new scala.util.Random(19)
    def noisy(center: Array[Float]): Array[Float] =
      center.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val centers = Array.tabulate(4) { c =>
      Array.tabulate(dim)(j => if (j == c) 1f else 0f)
    }
    val rows = for (c <- 0 until 4; m <- 0 until 6)
      yield ((c * 6 + m).toLong, noisy(centers(c)))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(emb, "embedding", k = 4, iters = 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_empty_").toString + "/idx"
    Similarity.ivfPqWriteIndex(emb, "vec_id", "embedding", centroids, dim,
      dir, m = 4, kSub = 8)
    def gone(rel: String) = !new java.io.File(s"$dir/$rel").exists

    Similarity.ivfPqDeleteIds(spark, dir, "vec_id", "embedding",
      emb.select("vec_id"))
    assert(gone("vectors") && gone("codes"),
      "deleting every id must remove both list-partitioned relations")
    assert(!gone("centroids") && !gone("codebooks"))
    assert(Similarity.ivfListSizes(spark, dir).count() == 0L &&
      !Similarity.ivfNeedsRetrain(spark, dir))

    // still a fused index: the plain append refuses it, touching nothing
    val batch = (100 to 103).map(i => (i.toLong, noisy(centers(i % 4))))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException](
      Similarity.ivfAppendIndex(batch, "vec_id", "embedding", dir))
    assert(e.getMessage.contains("FUSED") && e.getMessage.contains("ivfPqAppendIndex"),
      e.getMessage)
    assert(gone("vectors") && gone("codes"))

    // the fused append seeds both relations again, mirror included
    Similarity.ivfPqAppendIndex(batch, "vec_id", "embedding", dir)
    val cbs = Similarity.pqReadCodebooks(spark, dir)
    val cents = Similarity.ivfReadCentroids(spark, dir)
    def hex(rs: Array[org.apache.spark.sql.Row]): Set[(Long, Int, String)] =
      rs.map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2).map("%02x".format(_)).mkString)).toSet
    val stored = hex(spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("ivf_list").cast("int"), col("pq_code"))
      .collect())
    val expect = hex(Similarity.ivfPqEncodeResiduals(
        spark.read.parquet(s"$dir/vectors"), "vec_id", "embedding", cents, cbs)
      .select(col("vec_id"), col("ivf_list").cast("int"), col("pq_code"))
      .collect())
    assert(stored == expect && stored.map(_._1) == (100L to 103L).toSet,
      s"codes must mirror the re-seeded vectors: $stored vs $expect")
    val served = Similarity.ivfPqTopK(spark, dir, "vec_id", "embedding",
      centers(0), k = 4, nprobe = 4, refine = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(served == (100L to 103L).toSet, s"appended ids must be served: $served")
  }

  test("direction artifact: roundtrip == registered ids; deterministic rewrite; self-projection parity; empty-seed guard") {
    import graft.operators.Spectral
    val base = java.nio.file.Files.createTempDirectory("specart_").toString
    val dir = s"$base/pc1"
    val emb = Tables.embeddings(spark, sfDir)
    Spectral.writeDirection(emb, "embedding", dir)
    val (m, v, ev, width, ref, refN) = Spectral.readDirection(spark, dir)
    // roundtrip parity with the registered ids: the artifact's direction
    // IS q_embed_pca's, its reference histogram IS q_embed_project's
    val pca = Queries.q_embed_pca(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(v.toSeq == pca.map(_._2).toSeq, "artifact v != q_embed_pca")
    assert(pca.forall(_._3 == ev), "artifact ev != q_embed_pca")
    val proj = Queries.q_embed_project(spark, sfDir)
      .as[(Long, Long)].collect()
    assert(ref == proj.toMap, "artifact histogram != q_embed_project")
    assert(refN == proj.map(_._2).sum && width == 50000L)
    assert(m.length == v.length && v.map(math.abs).max == 1000L)
    // deterministic fit: a rewrite reproduces the artifact content
    val before = spark.read.parquet(dir)
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    Spectral.writeDirection(emb, "embedding", dir)
    val after = spark.read.parquet(dir)
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(before.toSeq == after.toSeq, "rewrite must be bit-stable")
    // self-projection against the frozen artifact == the live fit
    val selfProj = Spectral.projectAgainst(emb, "embedding", dir)
      .as[(Long, Long)].collect()
    assert(selfProj.toSeq == proj.toSeq, "projectAgainst(self) != live fit")
    // a self-histogram drifts 0 ppm from its own reference
    assert(Spectral.tvDriftPpm(ref, refN, ref, refN) == 0L)
    // empty-seed guard: an empty fit writes NO artifact, an empty
    // re-fit reverts an existing one (the cold-start contract)
    val empty = emb.filter(col("vec_id") < 0)
    val dir2 = s"$base/pc1_empty"
    Spectral.writeDirection(empty, "embedding", dir2)
    assert(!new java.io.File(dir2).exists(),
      "empty fit must not write an artifact")
    Spectral.writeDirection(empty, "embedding", dir)
    assert(!new java.io.File(dir).exists(),
      "empty re-fit must revert the artifact")
  }
}
