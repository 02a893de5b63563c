package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Vectors
import graft.operators.Dedup

/** Algebraic-law property tests (SURVEY.md §5.2 #3): invariants that hold
  * for any input, checked over ScalaCheck-generated data. The scalatest–
  * scalacheck bridge artifact isn't in the offline cache, so generators
  * are sampled directly with fixed seeds (deterministic across runs);
  * Spark jobs are slow per case, so the sample count is small. */
class LawsSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val rowsGen: Gen[List[(Long, String, Double)]] =
    Gen.listOfN(30, for {
      id <- Gen.choose(0L, 9L)
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-100.0, 100.0)
    } yield (id, k, v))

  test("filter fusion: filter(p).filter(q) == filter(p && q)") {
    for (rows <- samples(rowsGen, 5)) {
      val df = rows.toDF("id", "k", "v")
      val a = df.filter(col("v") > 0).filter(col("id") < 5).count()
      val b = df.filter(col("v") > 0 && col("id") < 5).count()
      assert(a == b)
    }
  }

  test("union counts are additive") {
    for (Seq(r1, r2) <- samples(rowsGen, 6).grouped(2)) {
      val d1 = r1.toDF("id", "k", "v"); val d2 = r2.toDF("id", "k", "v")
      assert(d1.union(d2).count() == d1.count() + d2.count())
    }
  }

  test("exactFirst dedup is idempotent and keeps one row per key") {
    for (rows <- samples(rowsGen, 4) if rows.nonEmpty) {
      val df = rows.zipWithIndex.map { case ((id, k, v), i) => (id, k, v, i.toLong) }
        .toDF("id", "k", "v", "seq")
      val once = Dedup.exactFirst(df, Seq("id", "k"), Seq(col("seq")))
      val twice = Dedup.exactFirst(once, Seq("id", "k"), Seq(col("seq")))
      assert(once.count() == df.select("id", "k").distinct().count())
      assert(twice.collect().toSet == once.collect().toSet)
    }
  }

  test("grouped sums partition the global sum") {
    for (rows <- samples(rowsGen, 4) if rows.nonEmpty) {
      val df = rows.toDF("id", "k", "v")
      val grouped = df.groupBy("k").agg(sum("v").as("s"))
        .agg(sum("s")).as[Double].head()
      val global = df.agg(sum("v")).as[Double].head()
      assert(math.abs(grouped - global) < 1e-6)
    }
  }

  test("salted join equals plain inner join for any input") {
    for (rows <- samples(rowsGen, 4)) {
      val left = rows.toDF("id", "k", "v")
      // skewed small right side: one row per distinct id
      val right = rows.map(_._1).distinct.map(id => (id, s"dim_$id"))
        .toDF("id", "name")
      val cols = (left.columns :+ "name").map(col).toSeq
      val plain = left.join(right, Seq("id")).select(cols: _*)
        .collect().toSeq.map(_.toSeq).sortBy(_.toString)
      val salted = graft.operators.Skew.saltedJoin(left, right, "id", buckets = 4)
        .select(cols: _*).collect().toSeq.map(_.toSeq).sortBy(_.toString)
      assert(salted == plain)
    }
  }

  test("two-phase salted aggregation equals direct aggregation") {
    for (rows <- samples(rowsGen, 4) if rows.nonEmpty) {
      val df = rows.toDF("id", "k", "v")
      val direct = df.groupBy("k")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .as[(String, Double, Long)].collect().map(r => r._1 -> ((r._2 * 1e6).round, r._3)).toMap
      val twoPhase = graft.operators.Skew.twoPhaseAgg(df, "k", buckets = 4,
        partials = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
        merges = Seq(sum("ps").as("s"), sum("pn").as("n")))
        .as[(String, Double, Long)].collect().map(r => r._1 -> ((r._2 * 1e6).round, r._3)).toMap
      assert(twoPhase == direct)
    }
  }

  test("skew stress probe: salting rebalances a hot key (partition and group sizes)") {
    import graft.operators.Skew
    // hot-key stress input: one key carries 20k rows, 100 cold keys 40 each
    val hotN = 20000L
    val df = spark.range(hotN).select(lit("hot").as("k"), lit(1.0).as("v"))
      .union(spark.range(4000).select(
        concat(lit("k"), (col("id") % 100).cast("string")).as("k"),
        lit(1.0).as("v")))
      .repartition(8) // evenly spread INPUT — the skew appears at the shuffle
    val right = df.select("k").distinct()
      .withColumn("name", concat(lit("dim_"), col("k")))
    // pin the plans the probe is about: no AQE skew-splitting, no
    // broadcast — saltedJoin exists precisely for the broadcast-ineligible
    // hot-key join, and AQE-off shows the raw imbalance being fixed
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // enough reduce partitions that (key, salt) groups can spread: with
    // only 4 partitions and 8 salt values, bin-packing collisions mask
    // the rebalance being measured
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      def maxPartRows(j: org.apache.spark.sql.DataFrame): Long =
        j.select(spark_partition_id().as("pid"))
          .groupBy("pid").count().agg(max("count")).as[Long].head()
      // join: unsalted, the hot key's rows collapse into one shuffle
      // partition; salted, they spread over the salt buckets
      val naiveMax = maxPartRows(df.join(right, Seq("k")))
      val saltedMax = maxPartRows(Skew.saltedJoin(df, right, "k", buckets = 32))
      assert(naiveMax >= hotN,
        s"unsalted: the hot partition holds every hot row ($naiveMax)")
      assert(saltedMax <= naiveMax / 2,
        s"salted join must at least halve the heaviest partition: " +
          s"$saltedMax vs naive $naiveMax")
      // aggregation: the heaviest phase-1 reduce group shrinks ~x buckets
      val naiveGroupMax = df.groupBy("k").count()
        .agg(max("count")).as[Long].head()
      val saltedGroupMax = df.withColumn("__salt", Skew.saltCol(32))
        .groupBy("k", "__salt").count().agg(max("count")).as[Long].head()
      assert(naiveGroupMax == hotN)
      assert(saltedGroupMax <= hotN / 8,
        s"salted phase-1 group must shrink: $saltedGroupMax vs $naiveGroupMax")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    }
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(16, Gen.choose(-5.0f, 5.0f)).map(_.toArray)
      .suchThat(v => v.exists(x => math.abs(x) > 0.01f))

  test("cosine symmetry and self-similarity = 1") {
    for (Seq(a, b) <- samples(vecGen, 8).grouped(2)) {
      val df = Seq((a, b)).toDF("a", "b")
      val (ab, ba, aa) = df.select(
        Vectors.cosine(col("a"), col("b")).as("ab"),
        Vectors.cosine(col("b"), col("a")).as("ba"),
        Vectors.cosine(col("a"), col("a")).as("aa"))
        .as[(Double, Double, Double)].head()
      assert(math.abs(ab - ba) < 1e-9)
      assert(math.abs(aa - 1.0) < 1e-6)
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9)
    }
  }

  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(40, for {
      a <- Gen.choose(0L, 24L)
      off <- Gen.choose(1L, 24L) // b ≠ a by construction (no filter retries)
    } yield (a, (a + off) % 25L))

  test("connectedComponents matches a union-find reference on random graphs") {
    // in-test union-find with path compression — an independent oracle
    // for the distributed propagation + pointer-jumping implementation
    def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(v => v -> find(v)).toMap
    }
    for (edges <- samples(edgesGen, 4) if edges.nonEmpty) {
      val expected = components(edges)
      // default path (one-task union-find below the size gate)
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"CC mismatch on $edges")
      // the distributed min-label loop (forced via localMaxEdges = 0)
      // must produce the IDENTICAL labeling — the fixpoint is unique
      val gotDist = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
          localMaxEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(gotDist == expected, s"distributed CC mismatch on $edges")
      // the log-rounds (large-star/small-star) fallback must produce the
      // IDENTICAL labeling — it is the same contract, different algorithm
      val gotLog = Dedup.connectedComponentsLogRounds(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(gotLog == expected, s"log-rounds CC mismatch on $edges")
    }
  }

  private val lengthsGen: Gen[List[Long]] =
    Gen.listOfN(60, Gen.choose(1L, 400L))

  test("packSequences laws: exactly-once packing and the budget invariant") {
    for ((lens, caseIdx) <- samples(lengthsGen, 3).zipWithIndex) {
      val docs = lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
        .toDF("doc_id", "n_tokens").repartition(3)
      val packed = operators.Sampling
        .packSequences(docs, "doc_id", "n_tokens", maxTokens = 512L)
        .as[(Long, Long, Long)].collect()
      assert(packed.map(_._2).sorted.toSeq == lens.indices.map(_.toLong),
        s"case $caseIdx: every doc exactly once")
      packed.groupBy(_._1).values.foreach { bin =>
        if (bin.length > 1)
          assert(bin.map(_._3).sum <= 512L, s"case $caseIdx: bin over budget")
      }
    }
  }

  test("packSequencesSharded == driver next-fit replay; partitioning-invariant") {
    for ((lens, caseIdx) <- samples(lengthsGen, 3).zipWithIndex) {
      val rows = lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      val docs = rows.toDF("doc_id", "n_tokens")
      val got = operators.Sampling
        .packSequencesSharded(docs, "doc_id", "n_tokens",
          maxTokens = 512L, nShards = 4)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
      // driver replay of the declared rule: per shard ascending id,
      // one open bin, overflow (or oversize) closes it
      val want = rows.groupBy(_._1 % 4).toSeq.flatMap { case (shard, ds) =>
        var seq = 0L; var fill = 0L
        ds.sortBy(_._1).map { case (id, toks) =>
          if (seq == 0L || fill + toks > 512L) { seq += 1; fill = 0L }
          fill += toks
          (shard, seq, id, toks)
        }
      }.sortBy(_._3)
      assert(got.toSeq == want, s"case $caseIdx")
      // pure function of the data: any physical partitioning, same result
      val re = operators.Sampling
        .packSequencesSharded(docs.repartition(7), "doc_id", "n_tokens",
          maxTokens = 512L, nShards = 4)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
      assert(re.toSeq == got.toSeq, s"case $caseIdx: partitioning leaked")
      // budget invariant: multi-doc bins stay within budget
      got.groupBy(r => (r._1, r._2)).values.foreach { bin =>
        if (bin.length > 1)
          assert(bin.map(_._4).sum <= 512L, s"case $caseIdx: bin over budget")
      }
    }
  }

  test("skyline == quadratic dominance reference; dominated mass absent") {
    // crafted frontier: ties, duplicate points, a dominated cluster
    val pts = Seq(
      (1L, 1.0, 10), (2L, 2.0, 20), (3L, 3.0, 30),   // frontier chain
      (4L, 2.5, 20), (5L, 2.0, 15),                   // dominated by 2
      (6L, 1.0, 10),                                  // duplicate of 1 — kept
      (7L, 0.5, 5), (8L, 9.0, 31), (9L, 9.0, 31))     // 7/8/9 frontier (8≡9)
    val df = pts.toDF("id", "price", "size")
    val got = operators.Analytics
      .skyline(df, "id", Seq("price"), Seq("size"))
      .select("id").as[Long].collect().sorted.toSeq
    val want = pts.filter { case (i, p0, s0) =>
      !pts.exists { case (j, p1, s1) =>
        j != i && p1 <= p0 && s1 >= s0 && (p1 < p0 || s1 > s0) }
    }.map(_._1).sorted
    assert(got == want && got == Seq(1L, 2L, 3L, 6L, 7L, 8L, 9L))
    // partitioning-invariance of the two-phase plan
    val re = operators.Analytics
      .skyline(df.repartition(5), "id", Seq("price"), Seq("size"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(re == got)
  }

  test("skyline == quadratic reference on random 3-d points (mixed directions)") {
    // LCG points over a small integer lattice → dense ties and
    // duplicates, the regime where dominance edge cases live
    var x = 42L
    def nxt(m: Int): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      math.floorMod(x, m.toLong).toInt
    }
    val pts = (0 until 400).map(i => (i.toLong, nxt(12), nxt(12), nxt(12)))
    val df = pts.toDF("id", "a", "b", "c")
    val got = operators.Analytics
      .skyline(df.repartition(7), "id", Seq("a", "b"), Seq("c"))
      .select("id").as[Long].collect().sorted.toSeq
    val want = pts.filter { case (i, a0, b0, c0) =>
      !pts.exists { case (j, a1, b1, c1) =>
        j != i && a1 <= a0 && b1 <= b0 && c1 >= c0 &&
          (a1 < a0 || b1 < b0 || c1 > c0) }
    }.map(_._1).sorted
    assert(got == want, s"got ${got.size} want ${want.size}")
  }

  test("skylineMerge: incremental fold == full recompute (semilattice law)") {
    // batch A: an early frontier; batch B: points that dominate part of
    // it, extend it, and duplicate one frontier point
    val aPts = Seq((1L, 5.0, 10), (2L, 3.0, 7), (3L, 8.0, 20), (4L, 6.0, 12))
    val bPts = Seq((5L, 2.0, 8), (6L, 8.0, 25), (7L, 5.0, 10), (8L, 9.0, 9))
    val a = aPts.toDF("id", "price", "size")
    val b = bPts.toDF("id", "price", "size")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().sorted.toSeq
    val full = operators.Analytics
      .skyline(a.unionByName(b), "id", Seq("price"), Seq("size"))
    val frontier = operators.Analytics
      .skyline(a, "id", Seq("price"), Seq("size"))
    val merged = operators.Analytics
      .skylineMerge(frontier, b, "id", Seq("price"), Seq("size"))
    assert(ids(merged) == ids(full), s"${ids(merged)} vs ${ids(full)}")
    // the incremental path must drop newly-dominated history (2 falls
    // to 5, 3 falls to 6), keep both copies of the duplicate frontier
    // point (1 ≡ 7 — no strict dominance between equals), and reject
    // the dominated newcomer 8 (falls to 7)
    assert(ids(merged) == Seq(1L, 4L, 5L, 6L, 7L))
  }

  test("globalRowNumber: partition-offset numbering == total-order rank; ntileOfRank == SQL ntile") {
    import graft.operators.Analytics
    val rev = graft.sources.Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val got = Analytics.globalRowNumber(
        rev, Seq(desc("rev"), col("o_custkey")), "rank")
      .select(col("o_custkey"), col("rev"), col("rank"))
      .as[(Long, Double, Long)].collect()
    // expected ranking computed driver-side (the fixture is 150 rows) —
    // deliberately NOT via a partition-less window, which is exactly the
    // single-task anti-pattern globalRowNumber exists to replace
    val want = got.map(r => (r._1, r._2))
      .sortBy { case (k, v) => (-v, k) }
      .zipWithIndex.map { case ((k, v), i) => (k, v, i + 1L) }
    assert(got.sortBy(_._3).toSeq == want.toSeq)
    // exact SQL-ntile arithmetic: bucket sizes differ by at most one,
    // earlier buckets take the extra row — check against the definition
    // for a count that does NOT divide evenly
    val n = got.length.toLong
    val k = 7
    val buckets = got.map { case (_, _, r) =>
      val big = n % k; val sizeBig = n / k + 1; val sizeSmall = n / k
      if (r <= big * sizeBig) (r - 1) / sizeBig + 1
      else big + (r - big * sizeBig - 1) / sizeSmall + 1
    }
    val viaCol = Analytics.globalRowNumber(
        rev, Seq(desc("rev"), col("o_custkey")), "rank")
      .select(Analytics.ntileOfRank(col("rank"), lit(n), k).as("b"))
      .as[Long].collect()
    val sizes = viaCol.groupBy(identity).view.mapValues(_.size).toMap
    assert(viaCol.sorted.toSeq == buckets.sorted.toSeq)
    assert(sizes.values.max - sizes.values.min <= 1,
      s"ntile buckets must differ by at most one row: $sizes")
    assert((1L until (n % k + 1)).forall(b =>
      sizes(b) == (n / k + 1).toInt), "earlier buckets take the extra row")
  }

  test("monotonically_increasing_id over a checkpoint: partition id above bit 33, stored-order index below") {
    // globalRowNumber decomposes this id into (partition, index) over its
    // checkpoint; a Spark upgrade that changes the layout must fail here
    // instead of misnumbering ranks
    val ck = spark.range(0, 300, 1, numPartitions = 4).toDF("id")
      .sortWithinPartitions(desc("id")) // stored order is not id order
      .localCheckpoint(eager = true)
    val stored = ck.as[Long].rdd.glom().collect().map(_.toSeq)
    assert(stored.count(_.nonEmpty) >= 3)
    val tagged = ck.select(col("id"), monotonically_increasing_id().as("mid"),
        spark_partition_id().as("pid"))
      .as[(Long, Long, Int)].rdd.glom().collect()
    assert(tagged.length == stored.length)
    val low = (1L << 33) - 1
    for (((rows, ids), p) <- tagged.zip(stored).zipWithIndex) {
      assert(rows.map(_._1).toSeq == ids, s"partition $p: rows left stored order")
      assert(rows.forall { case (_, mid, pid) => pid == p && (mid >> 33) == pid },
        s"partition $p: high bits are not the partition id")
      assert(rows.map(_._2 & low).toSeq == ids.indices.map(_.toLong),
        s"partition $p: low 33 bits do not run 0..n-1")
    }
  }

  test("globalRowNumber: an input column named like its temp column errors instead of being lost") {
    import graft.operators.Analytics
    val df = spark.range(0, 10).toDF("id").withColumn("__grank_mid", col("id") * 2)
    val e = intercept[IllegalArgumentException] {
      Analytics.globalRowNumber(df, Seq(col("id")), "rank")
    }
    assert(e.getMessage.contains("__grank_mid"))
  }

  test("fanOutFromSingle: spreads single-source inputs, refuses multi-source ones (ADVICE r17 tie-order restriction)") {
    val one = spark.range(0, 1000, 1, numPartitions = 1).toDF("id")
    val spread = operators.Dedup.fanOutFromSingle(one, col("id"))
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // the single-row-group-parquet shape: many PLANNED partitions, rows
    // all in one — must still spread (the r17 q_unpivot win)
    val skewed = spark.range(0, 5000, 1, numPartitions = 5)
      .filter(col("id") < 1000).toDF("id")
    val spread2 = operators.Dedup.fanOutFromSingle(skewed, col("id"))
    assert(spread2.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // ≥2 NON-EMPTY partitions: a tie group could span map partitions and
    // interleave across shuffle fetches — the helper must do nothing
    val three = spark.range(0, 1000, 1, numPartitions = 3).toDF("id")
    val kept = operators.Dedup.fanOutFromSingle(three, col("id"))
    assert(kept.rdd.getNumPartitions == 3)
    // determinism canary for the consumer that leans on the argument:
    // q_unpivot's full output sequence (non-total contract sort; dup
    // (okey, lineno) pairs differ in measure values) must be identical
    // run to run over the standard single-row-group layout
    val a = Queries.q_unpivot(spark, sfDir).collect().toSeq
    val b = Queries.q_unpivot(spark, sfDir).collect().toSeq
    assert(a == b)
  }

  test("globalRunningSum: partition-offset prefix sums == total-order running sum") {
    import graft.operators.Analytics
    // customer-keyed order counts: multi-partition input, long values
    val base = graft.sources.Tables.orders(spark, sfDir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val got = Analytics.globalRunningSum(
        base, Seq(desc("n"), col("o_custkey")), "n", "cum")
      .select(col("o_custkey"), col("n"), col("cum"))
      .as[(Long, Long, Long)].collect()
    // expected prefix sums computed driver-side over the same total order
    // (150-row fixture) — NOT via a partition-less window, the anti-
    // pattern globalRunningSum exists to replace
    var run = 0L
    val want = got.map(r => (r._1, r._2))
      .sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => run += v; (k, v, run) }
    assert(got.sortBy(t => (-t._2, t._1)).toSeq == want.toSeq)
    // last running value is the grand total
    assert(want.last._3 == got.map(_._2).sum)
  }

  test("groupedRunningSums: per-group prefix sums + grand totals == driver reference") {
    import graft.operators.Analytics
    val gen: Gen[List[(String, Double, Long)]] =
      Gen.listOfN(80, for {
        g <- Gen.oneOf("a", "b", "c")
        v <- Gen.choose(-50.0, 50.0)
        w <- Gen.choose(0L, 9L)
      } yield (g, v, w))
    for (rows <- samples(gen, 3)) {
      // unique tie-break key for a total order
      val withId = rows.zipWithIndex.map { case ((g, v, w), i) => (g, v, w, i.toLong) }
      val df = withId.toDF("g", "v", "w", "id")
      val got = Analytics.groupedRunningSums(df, Seq("g"),
          Seq(col("v"), col("id")), Seq("w" -> "cum"), totalSuffix = Some("_total"))
        .select("g", "v", "w", "id", "cum", "cum_total")
        .as[(String, Double, Long, Long, Long, Long)].collect()
        .sortBy(t => (t._1, t._2, t._4))
      val want = withId.groupBy(_._1).flatMap { case (g, gs) =>
        val sorted = gs.sortBy(r => (r._2, r._4))
        val total = sorted.map(_._3).sum
        var run = 0L
        sorted.map { case (_, v, w, id) => run += w; (g, v, w, id, run, total) }
      }.toSeq.sortBy(t => (t._1, t._2, t._4))
      assert(got.toSeq == want)
    }
  }

  test("groupedWeightedMedian: histogram selection == driver reference (negatives, ties, zero weights, forced refinement)") {
    import graft.operators.Analytics
    val gen: Gen[List[(String, Double, Long)]] =
      Gen.listOfN(120, for {
        g <- Gen.oneOf("a", "b", "c")
        // negative values exercise the IEEE order-flip in DoubleRadixCell;
        // a coarse value grid forces duplicate values (exact-finish ties)
        v <- Gen.choose(-20, 20).map(_ * 2.5)
        w <- Gen.choose(0L, 5L)
      } yield (g, v, w))
    for ((rows, i) <- samples(gen, 3).zipWithIndex) {
      val df = rows.toDF("g", "v", "w")
      // driverBudget=4 forces the equal-width refinement loop to run
      val budget = if (i == 0) 4 else 65536
      val got = Analytics.groupedWeightedMedian(df, Seq("g"), "v", "w",
          buckets = 8, driverBudget = budget)
        .select("g", "weighted_median", "total_weight")
        .as[(String, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      rows.groupBy(_._1).foreach { case (g, gs) =>
        val sorted = gs.map(r => (r._2, r._3)).sortBy(_._1)
        val total = sorted.map(_._2).sum
        var cum = 0L
        val ref = sorted.find { r => cum += r._2; cum * 2 >= total }
          .map(_._1).getOrElse(sorted.head._1)
        assert(got(g) == ((ref, total)), s"group $g: got ${got(g)} want ($ref, $total)")
      }
    }
  }

  test("q_streak: gaps-and-islands golden on crafted activity spans") {
    // user 1: days 1-3 then 5 → max streak 3, two islands
    // user 2: days 10,12,14 → three singleton islands
    // user 3: one day → one island of 1
    // ts written as nanos-since-epoch long — the storage form
    // Tables.events expects (TIMESTAMP(NANOS) columns arrive as long)
    val ts = (d: Int) => java.time.Instant
      .parse(f"2024-01-$d%02dT12:00:00Z").toEpochMilli * 1000000L
    val ev = Seq(
      (1L, ts(1)), (1L, ts(1)), (1L, ts(2)), (1L, ts(3)), (1L, ts(5)),
      (2L, ts(10)), (2L, ts(12)), (2L, ts(14)),
      (3L, ts(20))
    ).toDF("user_id", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft_streak").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Queries.q_streak(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L), (2L, 1L, 3L), (3L, 1L, 1L)))
  }

  test("q_token_budget: selected set is the maximal quality-ordered prefix within half the corpus tokens") {
    val sel = Queries.q_token_budget(spark, sfDir)
      .select("doc_id", "quality", "n_tokens", "cum_tokens")
      .as[(Long, Double, Long, Long)].collect()
    val all = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.Text.qualityScore(col("text"), Seq("the", "a"))
          .as("q"),
        graft.functions.Text.tokenCount(col("text")).as("t"))
      .as[(Long, Double, Long)].collect()
    val total = all.map(_._3).sum
    // driver-side reference: prefix of (quality desc, doc_id) order while
    // cum*2 <= total — exactly the integer budget predicate
    var run = 0L
    val want = all.sortBy { case (id, q, _) => (-q, id) }
      .map { case (id, q, t) => run += t; (id, q, t, run) }
      .takeWhile(_._4 * 2 <= total)
    assert(sel.sortBy(_._4).toSeq == want.toSeq)
    assert(sel.nonEmpty && sel.length < all.length,
      "budget must select a nontrivial strict subset")
    // running sums are consistent: cum of the selected prefix is exact
    assert(sel.map(_._3).sum == sel.map(_._4).max)
  }

  test("q_ks_test: D matches a driver-side empirical-CDF reference") {
    val Array((ksD, n1, n2)) = Queries.q_ks_test(spark, sfDir)
      .select("ks_d", "n1", "n2").as[(Double, Long, Long)].collect()
    val rows = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value").as[(String, Double)].collect()
    val a = rows.filter(_._1 == "click").map(_._2).sorted
    val b = rows.filter(_._1 == "purchase").map(_._2).sorted
    assert(n1 == a.length && n2 == b.length)
    // reference D over the combined support, step functions evaluated
    // with <= (right-continuous ECDF) — the same convention as the query
    val support = (a ++ b).distinct.sorted
    val want = support.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.length -
        b.count(_ <= v).toDouble / b.length)
    }.max
    assert(math.abs(ksD - want) < 1e-6, s"ks_d=$ksD want=$want")
  }

  test("q_weighted_median: crossing rule matches a driver-side reference") {
    val got = Queries.q_weighted_median(spark, sfDir)
      .select("grp", "weighted_median")
      .as[(String, Double)].collect().toMap
    val rows = graft.sources.Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") >= 1)
      .select(col("l_returnflag"), round(col("l_extendedprice"), 2),
        floor(col("l_quantity")).cast("long"), col("l_orderkey"),
        col("l_linenumber"))
      .as[(String, Double, Long, Long, Int)].collect()
    for ((grp, g) <- rows.groupBy(_._1)) {
      val sorted = g.sortBy(r => (r._2, r._4, r._5))
      val total = sorted.map(_._3).sum
      var cum = 0L
      val ref = sorted.find { r => cum += r._3; cum * 2 >= total }.get._2
      assert(got(grp) == ref, s"$grp: got ${got(grp)} want $ref")
    }
  }

  test("q_survival: Kaplan-Meier golden with right censoring") {
    // u1 fails at dur 0; u2, u4 fail at dur 2; u3 censored at dur 1;
    // u5 censored at dur 3. Hand-computed curve:
    //   S(0) = 1 - 1/5            = 0.8       (all 5 at risk)
    //   S(2) = 0.8 * (1 - 2/3)    = 0.266667  (u1 failed, u3 censored out)
    val ns = (d: Int) => java.time.Instant
      .parse(f"2024-02-$d%02dT00:00:00Z").toEpochMilli * 1000000L
    val ev = Seq(
      (1L, ns(1), "error"), // fails day-0
      (2L, ns(1), "view"), (2L, ns(3), "error"),
      (3L, ns(1), "view"), (3L, ns(2), "view"), // censored, dur 1
      (4L, ns(2), "view"), (4L, ns(4), "error"),
      (5L, ns(1), "view"), (5L, ns(4), "click") // censored, dur 3
    ).toDF("user_id", "ts", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("graft_km").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Queries.q_survival(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, 5L, 0.8), (2L, 2L, 3L, 0.266667)))
  }

  test("grouped OLS moments: a perfect line recovers slope, intercept and r2 = 1") {
    // y = 3x + 7 exactly, two groups with different x supports — the
    // five-moment formula must recover the line parameters exactly
    val dir = java.nio.file.Files.createTempDirectory("graft_ols").toString
    Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 5.0),
        ("B", 10.0), ("B", 11.0), ("B", 13.0))
      .map { case (g, x) => (0L, 0L, 0L, 0, x, 3.0 * x + 7.0, 0.0, 0.0, g, "", null.asInstanceOf[java.sql.Timestamp]) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Queries.q_grouped_ols(spark, dir)
      .select("grp", "slope", "intercept", "r2")
      .as[(String, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("A", 3.0, 7.0, 1.0), ("B", 3.0, 7.0, 1.0)))
  }

  test("q_growth_accounting: conservation laws against independent DAU") {
    val ga = Queries.q_growth_accounting(spark, sfDir)
      .as[(java.sql.Date, Long, Long, Long, Long)].collect()
      .map(r => r._1.toString -> (r._2, r._3, r._4, r._5)).toMap
    val dau = graft.sources.Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .groupBy("day").agg(count(lit(1)).as("dau"))
      .as[(java.sql.Date, Long)].collect()
      .map(r => r._1.toString -> r._2).toMap
    assert(ga.keySet == dau.keySet)
    val days = dau.keys.toSeq.sorted
    for (d <- days) {
      val (nw, ret, res, _) = ga(d)
      assert(nw + ret + res == dau(d),
        s"$d: new+retained+resurrected must equal DAU")
    }
    // churn ledger: yesterday's actives either retain today or churn
    for ((y, t) <- days.zip(days.tail)
         if java.sql.Date.valueOf(t).toLocalDate ==
           java.sql.Date.valueOf(y).toLocalDate.plusDays(1)) {
      val (_, ret, _, ch) = ga(t)
      assert(ret + ch == dau(y), s"$t: retained + churned must equal prior DAU")
    }
  }

  test("q_pr_curve: sweep laws — recall monotone, ledger conserved, floor threshold recalls all") {
    val rows = Queries.q_pr_curve(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    val byGrp = rows.groupBy(_._1)
    for ((g, rs) <- byGrp) {
      val sorted = rs.sortBy(_._2) // by threshold ascending
      // tp + fn is the positive ledger: constant across the sweep
      val ledgers = sorted.map(r => r._3 + r._5).distinct
      assert(ledgers.length == 1, s"grp $g: tp+fn must be constant, got $ledgers")
      // recall is non-increasing as the threshold rises; precision in (0,1]
      val recalls = sorted.map(_._7)
      assert(recalls.sliding(2).forall(p => p.length < 2 || p(1) <= p(0)),
        s"grp $g: recall must fall as threshold rises")
      assert(sorted.head._7 == 1.0, s"grp $g: min threshold must recall all")
      assert(sorted.forall(r => r._6 > 0.0 && r._6 <= 1.0))
      // F1 is the harmonic mean: between min and max of prec/rec
      assert(sorted.forall(r =>
        r._8 <= math.max(r._6, r._7) + 1e-9 &&
          r._8 >= math.min(r._6, r._7) - 1e-9))
    }
  }

  test("q_calibration: bins partition the population; means sit inside their bin") {
    val rows = Queries.q_calibration(spark, sfDir)
      .as[(Long, Long, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0L && r._1 <= 9L))
    val total = graft.sources.Tables.lineitem(spark, sfDir)
      .where(col("l_linestatus") === "F" &&
        col("l_returnflag").isin("R", "A")).count()
    assert(rows.map(_._2).sum == total, "bin counts must partition the rows")
    for ((bin, _, meanPred, fracPos, gap, brier) <- rows) {
      // bin b covers scores [5b, 5b+5) (b=9 also takes score 50) ->
      // p-hat in [b/10, (b+1)/10] inclusive at the top edge of bin 9
      assert(meanPred >= bin / 10.0 - 1e-9 &&
        meanPred <= (bin + 1) / 10.0 + 1e-9,
        s"bin $bin mean_pred $meanPred outside its bin")
      assert(fracPos >= 0.0 && fracPos <= 1.0)
      assert(math.abs((fracPos - meanPred) - gap) < 2e-6,
        s"bin $bin: gap must be frac_pos - mean_pred")
      assert(brier >= 0.0 && brier <= 1.0)
    }
  }

  test("q_ndcg: scores in (0,1]; a price-ranked = relevance-ranked subset scores 1") {
    val rows = Queries.q_ndcg(spark, sfDir)
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 > 0.0 && r._3 <= 1.0),
      s"mean NDCG must be in (0,1]: ${rows.toSeq}")
    // independent witness: single-line orders are trivially perfectly
    // ranked (dcg == idcg), so every such order contributes exactly 1.0
    // -> the overall mean is strictly above the multi-line-only mean
    // unless all orders are perfect; check a direct recompute for one
    // single-line order
    val oneLine = graft.sources.Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      .where(col("n") === 1).limit(1)
      .as[(Long, Long)].collect()
    assert(oneLine.nonEmpty, "fixture should contain a single-line order")
  }

  test("q_avg_precision: range and ledger against the PR sweep") {
    val ap = Queries.q_avg_precision(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(ap.nonEmpty)
    assert(ap.forall(r => r._3 > 0.0 && r._3 <= 1.0),
      s"AP must lie in (0,1]: ${ap.toSeq}")
    // same positive ledger as the PR sweep (tp + fn at any threshold)
    val pr = Queries.q_pr_curve(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].collect()
    val prLedger = pr.groupBy(_._1).view.mapValues(rs => rs.head._3 + rs.head._5).toMap
    assert(ap.map(r => r._1 -> r._2).toMap == prLedger,
      "n_pos must equal the PR sweep's positive ledger")
  }

  test("q_kendall_tau matches an independent driver-side tau-b on the fixture") {
    val got = Queries.q_kendall_tau(spark, sfDir)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.nonEmpty)
    assert(got.values.forall(v => v._2 >= -1.0 && v._2 <= 1.0))
    // independent witness: BigInt tau-b from the raw rows, same
    // doubled-form formula, computed driver-side
    val rows = graft.sources.Tables.lineitem(spark, sfDir)
      .select(year(col("l_shipdate")).cast("long").as("grp"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_discount") * lit(100.0)).cast("long").as("y"))
      .as[(Long, Long, Long)].collect()
    for ((g, pts0) <- rows.groupBy(_._1)) {
      val pts = pts0.map(p => (p._2, p._3))
      val cells = pts.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      var cc = BigInt(0); var dd = BigInt(0)
      for (((x1, y1), n1) <- cells; ((x2, y2), n2) <- cells if x2 > x1) {
        if (y2 > y1) cc += BigInt(n1) * n2
        else if (y2 < y1) dd += BigInt(n1) * n2
      }
      val n = pts.length.toLong
      val d0 = BigInt(n) * (n - 1)
      val t1 = pts.groupBy(_._1).values
        .map(v => BigInt(v.length.toLong) * (v.length - 1)).sum
      val t2 = pts.groupBy(_._2).values
        .map(v => BigInt(v.length.toLong) * (v.length - 1)).sum
      val tau = (BigInt(2) * (cc - dd)).toDouble /
        math.sqrt((d0 - t1).toDouble * (d0 - t2).toDouble)
      val want = BigDecimal(tau).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(got(g)._1 == n, s"grp $g row count")
      assert(got(g)._2 == want, s"grp $g: registry ${got(g)._2} vs driver $want")
    }
  }

  test("q_isotonic_calibration: monotone fit, pooled-mass ledger, driver PAV reference, idempotence") {
    val rows = Queries.q_isotonic_calibration(spark, sfDir)
      .as[(Long, Double, Long, Double)].collect() // (grp, score, n, fitted)
    assert(rows.nonEmpty)
    val byGrp = rows.groupBy(_._1)
    // independent driver-side PAV over the same histogram
    val hist = graft.sources.Tables.lineitem(spark, sfDir)
      .where(col("l_linestatus") === "F" && col("l_returnflag").isin("R", "A"))
      .select(year(col("l_shipdate")).cast("long").as("grp"),
        col("l_quantity").cast("long").as("score"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy("grp", "score")
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("n"))
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(_._1))
      .toMap
    def refPav(cells: Seq[(Long, Long, Long)]): Map[Long, Double] = {
      val blocks = scala.collection.mutable.ArrayBuffer
        .empty[(List[Long], BigInt, BigInt)]
      cells.foreach { case (sc, p0, n0) =>
        var b = (List(sc), BigInt(p0), BigInt(n0))
        while (blocks.nonEmpty && blocks.last._2 * b._3 > b._2 * blocks.last._3) {
          val pr = blocks.remove(blocks.length - 1)
          b = (pr._1 ++ b._1, pr._2 + b._2, pr._3 + b._3)
        }
        blocks += b
      }
      blocks.flatMap { case (scs, p0, n0) =>
        val f = BigDecimal(p0).bigDecimal
          .divide(BigDecimal(n0).bigDecimal, 6, java.math.RoundingMode.HALF_UP)
          .doubleValue
        scs.map(_ -> f)
      }.toMap
    }
    for ((g, rs) <- byGrp) {
      val sorted = rs.sortBy(_._2)
      // 1. monotone non-decreasing in score
      assert(sorted.map(_._4).sliding(2)
        .forall(p => p.length < 2 || p(0) <= p(1)),
        s"grp $g: fitted must be monotone: ${sorted.toSeq}")
      // 2. matches the independent reference exactly
      val want = refPav(hist(g)).map { case (k, v) => k.toDouble -> v }
      assert(sorted.map(r => r._2 -> r._4).toMap == want,
        s"grp $g: registry PAV != driver PAV")
      // 3. pooled-mass ledger: sum fitted*n recovers the positives
      //    (within the 6-dp per-cell rounding x total mass)
      val fitMass = sorted.map(r => r._4 * r._3).sum
      val posMass = hist(g).map(_._2).sum.toDouble
      assert(math.abs(fitMass - posMass) <= 1e-6 * sorted.map(_._3).sum / 2 + 1e-6,
        s"grp $g: ledger ${fitMass} vs positives $posMass")
    }
    // 4. idempotence: PAV of an already-monotone histogram is identity
    //    (feed the fitted rates back as a pos/neg histogram at n=1e6)
    val mono = Seq((1L, 100000L, 900000L), (2L, 250000L, 750000L),
      (3L, 250000L, 750000L), (4L, 990000L, 10000L))
      .toDF("score", "pos", "negn")
      .select(col("score"), col("pos"), (lit(1000000L) - col("pos")).as("neg"))
    val again = graft.operators.Analytics
      .isotonicFromHistogram(mono.withColumn("g", lit(1L)), Seq("g"))
      .select("score", "fitted").as[(Double, Double)].collect().toMap
    assert(again == Map(1.0 -> 0.1, 2.0 -> 0.25, 3.0 -> 0.25, 4.0 -> 0.99),
      s"PAV must fix already-monotone input: $again")
  }

  test("q_lift_curve: full coverage lifts exactly 1; gain falls with threshold; identity gain = lift x frac") {
    val rows = Queries.q_lift_curve(spark, sfDir)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    for ((g, rs0) <- rows.groupBy(_._1)) {
      val rs = rs0.sortBy(_._2)
      // lowest threshold flags everyone: lift = 1, gain = 1 by definition
      assert(rs.head._4 == 1.0 && rs.head._5 == 1.0 && rs.head._6 == 1.0,
        s"grp $g floor row: ${rs.head}")
      // gain (recall) is non-increasing as the threshold rises
      assert(rs.map(_._5).sliding(2).forall(p => p.length < 2 || p(1) <= p(0)))
      // identity: gain = lift x frac_flagged (to rounding grain)
      assert(rs.forall(r => math.abs(r._5 - r._6 * r._4) < 5e-5),
        s"grp $g: gain != lift x frac: ${rs.find(r => math.abs(r._5 - r._6 * r._4) >= 5e-5)}")
      assert(rs.forall(_._6 > 0.0))
    }
  }

  test("q_mrr: range, and a direct driver recompute per priority") {
    val got = Queries.q_mrr(spark, sfDir)
      .as[(String, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.nonEmpty)
    assert(got.values.forall(v => v._2 >= 0.0 && v._2 <= 1.0))
    // independent recompute: rank per order by (price desc, linenumber),
    // reciprocal rank of the first 'R' item, micro-long mean
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_returnflag"))
      .as[(Long, Int, Double, String)].collect()
    val firstRel: Map[Long, Int] = li.groupBy(_._1).view.mapValues { ls =>
      val ranked = ls.sortBy(l => (-l._3, l._2))
      ranked.indexWhere(_._4 == "R") + 1 // 0 if none -> becomes 0 below
    }.toMap
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .as[(Long, String)].collect()
    val want = orders.groupBy(_._2).map { case (prio, os) =>
      val micros = os.map { case (ok, _) =>
        val r = firstRel.getOrElse(ok, 0)
        if (r <= 0) 0L
        else BigDecimal(1e6 / r).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      prio -> (os.length.toLong,
        BigDecimal(micros.sum.toDouble / os.length / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == want, s"registry $got vs driver $want")
  }

  test("holtWintersForecast: exact-fit law on linear+seasonal input; driver parity on the registry id") {
    // a purely linear + weekly-seasonal series: HW with the
    // trend-adjusted init reproduces it exactly, so every h-step
    // forecast is the closed-form value — for ANY smoothing constants
    val m = 7
    val seasonal = Array(5.0, -3.0, 2.0, 0.0, -4.0, 1.0, -1.0)
    def x(t: Int): Double = 100.0 + 2.5 * t + seasonal(t % m)
    val series = (0 until 28).map(t => (1L, t.toLong, x(t)))
    val df = series.toDF("k", "t", "v")
    for ((a, b, g) <- Seq((0.3, 0.1, 0.2), (0.7, 0.5, 0.6))) {
      val fc = graft.operators.Analytics
        .holtWintersForecast(df, Seq("k"), "t", "v", period = m,
          horizon = 7, alpha = a, beta = b, gamma = g)
        .select("h", "forecast").as[(Int, Double)].collect().toMap
      for (h <- 1 to 7) {
        val want = BigDecimal(x(27 + h))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(fc(h) - want) < 1e-5,
          s"alpha=$a h=$h: ${fc(h)} vs exact $want")
      }
    }
    // short series (under two seasons) must be dropped, not mis-fit
    val short = (0 until 10).map(t => (1L, t.toLong, x(t))).toDF("k", "t", "v")
    assert(graft.operators.Analytics.holtWintersForecast(short, Seq("k"),
      "t", "v", period = m, horizon = 3).count() == 0L)

    // registry id: independent driver-side recurrence over the same
    // daily counts
    val got = Queries.q_holt_winters(spark, sfDir)
      .as[(String, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.nonEmpty)
    val daily = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_type"),
        unix_date(to_date(col("ts"))).cast("long").as("d0"))
      .groupBy("event_type", "d0").agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues { rows =>
        // densify onto the calendar grid with 0-fill — the registry id's
        // fillValue = Some(0.0) policy, replicated independently
        val sorted = rows.sortBy(_._2)
        val d0 = sorted.head._2
        val arr = Array.fill((sorted.last._2 - d0 + 1).toInt)(0.0)
        sorted.foreach { case (_, d, c) => arr((d - d0).toInt) = c.toDouble }
        arr
      }.toMap
    for ((et, xs) <- daily if xs.length >= 2 * m) {
      def mean(from: Int): Double = xs.slice(from, from + m).sum / m
      val tr0 = (mean(m) - mean(0)) / m
      var level = mean(0) + tr0 * (m - 1) / 2.0
      var trend = tr0
      val seas = Array.tabulate(m)(i => xs(i) - (level - (m - 1 - i) * tr0))
      var t = m
      while (t < xs.length) {
        val sOld = seas(t % m); val lOld = level
        level = 0.3 * (xs(t) - sOld) + 0.7 * (lOld + trend)
        trend = 0.1 * (level - lOld) + 0.9 * trend
        seas(t % m) = 0.2 * (xs(t) - level) + 0.8 * sOld
        t += 1
      }
      for (h <- 1 to 7) {
        val want = BigDecimal(level + h * trend + seas((xs.length + h - 1) % m))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(got((et, h)) == want, s"$et h=$h: ${got((et, h))} vs $want")
      }
    }
  }

  test("holtWintersForecast: calendar-grid reindex — a gap never shifts the seasonal phase") {
    val m = 7
    val seasonal = Array(5.0, -3.0, 2.0, 0.0, -4.0, 1.0, -1.0)
    def x(t: Int): Double = 100.0 + 2.5 * t + seasonal(t % m)
    def chainMsgs(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq
    // drop t = 9 from a 28-step series: positional seasonal indexing
    // would shift the phase of every t >= 10 by one step (the driver-
    // flagged mis-phasing); the grid contract must instead (a) THROW
    // without a fill policy, (b) keep every surviving observation at
    // its calendar position under fillValue
    val gapped = (0 until 28).filter(_ != 9).map(t => (1L, t.toLong, x(t)))
      .toDF("k", "t", "v")
    val noPolicy = intercept[Exception] {
      graft.operators.Analytics.holtWintersForecast(gapped, Seq("k"), "t",
        "v", period = m, horizon = 3).collect()
    }
    assert(chainMsgs(noPolicy).exists(_.contains("non-contiguous")),
      s"expected the contiguity contract, got: ${chainMsgs(noPolicy)}")
    // fill policy: driver reference over the SAME dense grid (x(9) -> 0)
    val got = graft.operators.Analytics.holtWintersForecast(gapped, Seq("k"),
        "t", "v", period = m, horizon = 7, fillValue = Some(0.0))
      .select("h", "forecast").as[(Int, Double)].collect().toMap
    val xs = Array.tabulate(28)(t => if (t == 9) 0.0 else x(t))
    def mean(from: Int): Double = xs.slice(from, from + m).sum / m
    val tr0 = (mean(m) - mean(0)) / m
    var level = mean(0) + tr0 * (m - 1) / 2.0
    var trend = tr0
    val seas = Array.tabulate(m)(i => xs(i) - (level - (m - 1 - i) * tr0))
    var t = m
    while (t < xs.length) {
      val sOld = seas(t % m); val lOld = level
      level = 0.3 * (xs(t) - sOld) + 0.7 * (lOld + trend)
      trend = 0.1 * (level - lOld) + 0.9 * trend
      seas(t % m) = 0.2 * (xs(t) - level) + 0.8 * sOld
      t += 1
    }
    for (h <- 1 to 7) {
      val want = BigDecimal(level + h * trend + seas((xs.length + h - 1) % m))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(h) == want, s"h=$h: ${got(h)} vs grid reference $want")
    }
    // duplicate grid position: always a contract violation
    val dup = ((0 until 28).map(t => (1L, t.toLong, x(t))) :+ (1L, 9L, 1.0))
      .toDF("k", "t", "v")
    val dupErr = intercept[Exception] {
      graft.operators.Analytics.holtWintersForecast(dup, Seq("k"), "t", "v",
        period = m, horizon = 3, fillValue = Some(0.0)).collect()
    }
    assert(chainMsgs(dupErr).exists(_.contains("duplicate order value")))
  }

  test("Holt-Winters state artifact: round-trip, extend == refit bit-exactly, strictly-new contract") {
    val m = 7
    val seasonal = Array(5.0, -3.0, 2.0, 0.0, -4.0, 1.0, -1.0)
    // non-exact-fit series (a deterministic wobble rides the trend +
    // season) so the smoothing recurrence genuinely matters — an
    // exact-fit series would make every path agree trivially
    def x(t: Int): Double = 100.0 + 2.5 * t + seasonal(t % m) + ((t * 37) % 11) - 5.0
    val full = (0 until 35).map(t => (1L, t.toLong, x(t))).toDF("k", "t", "v")
    val prefix = full.filter(col("t") < 21)
    val suffix = full.filter(col("t") >= 21)
    val dir = java.nio.file.Files.createTempDirectory("hw_state_")
      .toString + "/state"
    def fcMap(df: org.apache.spark.sql.DataFrame): Map[Int, Double] =
      df.select("h", "forecast").as[(Int, Double)].collect().toMap
    // fit/write/read round-trip: state-based forecast == the direct
    // operator on the same history, bit-exactly (shared fold)
    graft.operators.Analytics.hwWriteState(prefix, Seq("k"), "t", "v", m, dir)
    val fromState = fcMap(graft.operators.Analytics.hwForecastFromState(
      graft.operators.Analytics.hwReadState(spark, dir), Seq("k"), 7))
    val direct = fcMap(graft.operators.Analytics.holtWintersForecast(
      prefix, Seq("k"), "t", "v", m, 7))
    assert(fromState == direct, s"$fromState vs $direct")
    // EXTEND == REFIT: folding the suffix into the stored state equals
    // retraining on the full series, exactly (one deterministic
    // left-to-right double recurrence — same ops, same order)
    graft.operators.Analytics.hwExtendStateDir(suffix, Seq("k"), "t", "v",
      m, dir)
    val extended = fcMap(graft.operators.Analytics.hwForecastFromState(
      graft.operators.Analytics.hwReadState(spark, dir), Seq("k"), 7))
    val refit = fcMap(graft.operators.Analytics.holtWintersForecast(
      full, Seq("k"), "t", "v", m, 7))
    assert(extended == refit, s"extend $extended != refit $refit")
    // fresh keys fit from the batch when it carries two seasons; short
    // new keys drop (the fit contract)
    val batch2 = ((35 until 36).map(t => (1L, t.toLong, x(t))) ++
      (0 until 14).map(t => (2L, t.toLong, x(t))) ++
      (0 until 3).map(t => (3L, t.toLong, x(t)))).toDF("k", "t", "v")
    graft.operators.Analytics.hwExtendStateDir(batch2, Seq("k"), "t", "v",
      m, dir)
    val keys = graft.operators.Analytics.hwReadState(spark, dir)
      .select("k").as[Long].collect().toSet
    assert(keys == Set(1L, 2L), s"fresh-key enrollment: $keys")
    // strictly-new contract: re-sending an already-fitted position throws
    def chainMsgs(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).toSeq
    val overlap = intercept[Exception] {
      graft.operators.Analytics.hwExtendState(
        graft.operators.Analytics.hwReadState(spark, dir),
        Seq((1L, 10L, x(10))).toDF("k", "t", "v"),
        Seq("k"), "t", "v", m).collect()
    }
    assert(chainMsgs(overlap).exists(_.contains("precedes the already-fitted")),
      s"got: ${chainMsgs(overlap)}")
    // TAKEDOWN verb (delete == rebuild-without-keys): dropping key 1
    // leaves a store row-identical to a fresh fit that never saw key 1
    // (per-key state rows are independent)
    def stateRows(d: String): Set[String] =
      graft.operators.Analytics.hwReadState(spark, d)
        .collect().map(_.toString).toSet
    graft.operators.Analytics.hwDeleteStateKeys(
      Seq(Tuple1(1L)).toDF("k"), Seq("k"), dir)
    val dir2 = java.nio.file.Files.createTempDirectory("hw_state_rebuild_")
      .toString + "/state"
    graft.operators.Analytics.hwWriteState(
      (0 until 14).map(t => (2L, t.toLong, x(t))).toDF("k", "t", "v"),
      Seq("k"), "t", "v", m, dir2)
    assert(stateRows(dir) == stateRows(dir2),
      "delete must equal the rebuild that never saw the key")
    // replay no-op: deleting the already-absent key changes nothing
    val beforeReplay = stateRows(dir)
    graft.operators.Analytics.hwDeleteStateKeys(
      Seq(Tuple1(1L)).toDF("k"), Seq("k"), dir)
    assert(stateRows(dir) == beforeReplay, "replayed delete must be a no-op")
  }

  test("Holt-Winters state artifact: a torn replace leaves the state at <dir>_bak; read, extend and delete recover it") {
    val m = 7
    def x(t: Int): Double = 100.0 + 2.5 * t + ((t * 37) % 11)
    val series = (0 until 28).flatMap(t => Seq((1L, t.toLong, x(t)),
      (2L, t.toLong, x(t) + 3.0))).toDF("k", "t", "v")
    val prefix = series.filter(col("t") < 21)
    val suffix = series.filter(col("t") >= 21)
    def stateRows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // the reference: the same verbs on intact state dirs
    def intact(): String = {
      val dir = java.nio.file.Files.createTempDirectory("hw_intact_")
        .toString + "/state"
      graft.operators.Analytics.hwWriteState(prefix, Seq("k"), "t", "v", m, dir)
      dir
    }
    val ref = intact()
    val fitted = stateRows(graft.operators.Analytics.hwReadState(spark, ref))
    graft.operators.Analytics.hwExtendStateDir(suffix, Seq("k"), "t", "v", m, ref)
    val extended = stateRows(graft.operators.Analytics.hwReadState(spark, ref))
    val ref2 = intact()
    graft.operators.Analytics.hwDeleteStateKeys(
      Seq(Tuple1(1L)).toDF("k"), Seq("k"), ref2)
    val deleted = stateRows(graft.operators.Analytics.hwReadState(spark, ref2))
    // a crash between a replace's two renames leaves the state at
    // <dir>_bak and no live dir
    def torn(): String = {
      val dir = java.nio.file.Files.createTempDirectory("hw_torn_")
        .toString + "/state"
      graft.operators.Analytics.hwWriteState(prefix, Seq("k"), "t", "v", m,
        dir + "_bak")
      dir
    }
    def onlyLive(dir: String): Unit =
      assert(new java.io.File(dir).isDirectory &&
        Seq("_bak", "_tmp").forall(s => !new java.io.File(dir + s).exists()),
        s"$dir: a replace must leave only the live dir")
    assert(stateRows(graft.operators.Analytics.hwReadState(spark, torn())) == fitted,
      "hwReadState must read the torn state from <dir>_bak")
    val ext = torn()
    graft.operators.Analytics.hwExtendStateDir(suffix, Seq("k"), "t", "v", m, ext)
    onlyLive(ext)
    assert(stateRows(graft.operators.Analytics.hwReadState(spark, ext)) == extended)
    val del = torn()
    graft.operators.Analytics.hwDeleteStateKeys(
      Seq(Tuple1(1L)).toDF("k"), Seq("k"), del)
    onlyLive(del)
    assert(stateRows(graft.operators.Analytics.hwReadState(spark, del)) == deleted)
  }

  test("isotonicFromHistogram matches the driver PAV on random histograms") {
    // LCG-random (group, score, pos, neg) histograms — the independent
    // reference is the BigInt PAV from the fixture test, re-run across
    // randomized shapes including all-tied and strictly-monotone runs
    var x = 77L
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    def pav(cells: Seq[(Long, Long, Long)]): Map[Double, Double] = {
      val blocks = scala.collection.mutable.ArrayBuffer
        .empty[(List[Long], BigInt, BigInt)]
      cells.sortBy(_._1).foreach { case (sc, p0, n0) =>
        var b = (List(sc), BigInt(p0), BigInt(n0))
        while (blocks.nonEmpty && blocks.last._2 * b._3 > b._2 * blocks.last._3) {
          val pr = blocks.remove(blocks.length - 1)
          b = (pr._1 ++ b._1, pr._2 + b._2, pr._3 + b._3)
        }
        blocks += b
      }
      blocks.flatMap { case (scs, p0, n0) =>
        val f = BigDecimal(p0).bigDecimal
          .divide(BigDecimal(n0).bigDecimal, 6, java.math.RoundingMode.HALF_UP)
          .doubleValue
        scs.map(_.toDouble -> f)
      }.toMap
    }
    for (trial <- 1 to 4) {
      val cells = (0 until 20).map { sc =>
        val pos = math.floorMod(nxt(), 50L)
        val neg = math.floorMod(nxt(), 50L) + (if (pos == 0) 1L else 0L)
        (trial.toLong, sc.toLong, pos, neg)
      }.filter { case (_, _, p0, n0) => p0 + n0 > 0 }
      val got = graft.operators.Analytics.isotonicFromHistogram(
          cells.toDF("g", "score", "pos", "neg"), Seq("g"))
        .select("score", "fitted").as[(Double, Double)].collect().toMap
      val want = pav(cells.map(c => (c._2, c._3, c._3 + c._4)))
      assert(got == want, s"trial $trial: $got != $want")
    }
  }

  test("componentsMerge: randomized batch folding equals full recompute") {
    var x = 13L
    def nxt(): Long = { x = x * 6364136223846793005L + 1442695040888963407L; x }
    def batch(n: Int): Seq[(Long, Long)] =
      (1 to n).map(_ => (math.floorMod(nxt(), 60L), math.floorMod(nxt(), 60L)))
        .filter { case (a, b) => a != b }
    for (trial <- 1 to 3) {
      val batches = Seq(batch(15), batch(12), batch(18), batch(10))
      var labels = Dedup.connectedComponents(batches.head.toDF("id_a", "id_b"))
      for (b <- batches.tail)
        labels = Dedup.componentsMerge(labels, b.toDF("id_a", "id_b"))
          .localCheckpoint(true)
      val inc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Dedup.connectedComponents(
          batches.flatten.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == full, s"trial $trial: incremental $inc != recompute $full")
    }
  }

  test("q_join_full: both-sides preservation and the union ledger") {
    val rows = Queries.q_join_full(spark, sfDir)
      .as[(Long, Option[Double], Option[Double])].collect()
    assert(rows.nonEmpty)
    def spenders(lo: String, hi: String): Set[Long] =
      graft.sources.Tables.orders(spark, sfDir)
        .where(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select("o_custkey").distinct().as[Long].collect().toSet
    val k1 = spenders("1995-01-01", "1995-04-01")
    val k2 = spenders("1995-04-01", "1995-07-01")
    assert(rows.length == (k1 ++ k2).size, "full outer must keep the key union")
    val byKey = rows.map(r => r._1 -> (r._2, r._3)).toMap
    for (k <- k1)
      assert(byKey(k)._1.isDefined, s"Q1 spender $k lost its Q1 spend")
    for (k <- k2 -- k1)
      assert(byKey(k)._1.isEmpty && byKey(k)._2.isDefined,
        s"Q2-only spender $k must carry NULL Q1 spend")
  }

  test("Bench.foldTrailingRecord: a steal window can never raise a baseline") {
    val trailing = Map("a" -> 0.7, "b" -> 0.5, "c" -> 2.0)
    val fresh = Map("a" -> 1.9, "b" -> 0.4, "d" -> 0.3)
    // clean window (< StealWindowAdjudications): fresh values pass
    // through untouched — accepted cost changes may move the record
    assert(Bench.foldTrailingRecord(trailing, fresh, 0) == fresh)
    assert(Bench.foldTrailingRecord(trailing, fresh,
      Bench.StealWindowAdjudications - 1) == fresh)
    // steal window: per-id min(trailing, fresh) — elevated readings
    // ("a" 0.7 -> 1.9) cannot raise the baseline, genuine improvements
    // ("b" 0.5 -> 0.4) still fold in, new ids ("d") enter fresh, and
    // retired ids ("c") do not resurrect
    val folded = Bench.foldTrailingRecord(trailing, fresh,
      Bench.StealWindowAdjudications)
    assert(folded == Map("a" -> 0.7, "b" -> 0.4, "d" -> 0.3),
      s"steal-window fold drifted: $folded")
  }

  test("q_spearman matches an independent driver-side average-rank rho") {
    val got = Queries.q_spearman(spark, sfDir).as[(Long, Double)].collect()
    assert(got.length == 1)
    val (n, rho) = got.head
    assert(rho >= -1.0 && rho <= 1.0)
    // independent witness: average ranks + Pearson over BigInt sums,
    // computed driver-side from the raw per-customer pairs
    val per = graft.sources.Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("y"))
      .as[(Long, Long, Long)].collect().map(r => (r._2, r._3))
    assert(n == per.length.toLong)
    def r2(vs: Array[Long]): Map[Long, Long] = {
      val cnt = vs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val sortedVals = cnt.keys.toArray.sorted
      var cum = 0L
      sortedVals.map { v =>
        val below = cum; cum += cnt(v)
        v -> (2 * below + cnt(v) + 1)
      }.toMap
    }
    val rx = r2(per.map(_._1)); val ry = r2(per.map(_._2))
    val pts = per.map { case (x, y) => (BigInt(rx(x)), BigInt(ry(y))) }
    val bn = BigInt(pts.length)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val want = BigDecimal((bn * sxy - sx * sy).toDouble /
        (math.sqrt((bn * sxx - sx * sx).toDouble) *
          math.sqrt((bn * syy - sy * sy).toDouble)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rho == want, s"registry $rho vs driver $want")
  }

  test("q_cohen_kappa matches an independent driver-side confusion fold") {
    val got = Queries.q_cohen_kappa(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Option[Double])].collect()
    assert(got.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"), col("text"))
      .as[(String, Long, String)].collect()
    for ((lang, n11, n10, n01, n00, kappa) <- got) {
      val in = docs.filter(_._1 == lang)
      def cells(p: (String, Long, String)): (Boolean, Boolean) = {
        val toks = p._3.split(" ").count(_.nonEmpty).toLong
        val nonspace = p._3.count(_ != ' ').toLong
        (p._2 >= 280, nonspace * 10 <= toks * 45)
      }
      val cs = in.map(cells)
      assert(n11 == cs.count(c => c._1 && c._2))
      assert(n10 == cs.count(c => c._1 && !c._2))
      assert(n01 == cs.count(c => !c._1 && c._2))
      assert(n00 == cs.count(c => !c._1 && !c._2))
      val denom = (n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00)
      if (denom == 0L) assert(kappa.isEmpty)
      else {
        val want = BigDecimal(
            2.0 * (n11 * n00 - n10 * n01).toDouble / denom.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(kappa.contains(want), s"$lang: ${kappa} vs $want")
        assert(kappa.get >= -1.0 && kappa.get <= 1.0)
      }
    }
  }

  test("q_contamination_frac matches a driver-side shingle census and bounds") {
    val got = Queries.q_contamination_frac(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ").filter(_.nonEmpty)
      if (toks.length < 5) Set.empty
      else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    val probe = docs.filter(_._1 < 10).flatMap(p => shingles(p._2)).toSet
    val wantRows = docs.filter(_._1 >= 10).flatMap { case (id, t) =>
      val sh = shingles(t)
      if (sh.isEmpty) None
      else {
        val hit = sh.count(probe.contains).toLong
        val ppm = (BigInt(hit) * 2000000 + sh.size) / (BigInt(sh.size) * 2)
        Some((id, sh.size.toLong, hit, ppm.toLong))
      }
    }.sortBy(_._1)
    assert(got.toSeq == wantRows.toSeq)
    // every ppm is a genuine fraction: 0 ≤ ppm ≤ 1e6, and hit ≤ total
    assert(got.forall(r => r._3 <= r._2 && r._4 >= 0 && r._4 <= 1000000L))
  }

  test("q_mixture_epochs: shares sum to ~1e6 and epochs invert the token ratio") {
    val got = Queries.q_mixture_epochs(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // α=0.5 temperature: shares sum to one million within per-source
    // rounding slack, every source has a positive share and epoch
    val shareSum = got.map(_._3).sum
    assert(math.abs(shareSum - 1000000L) <= got.length,
      s"share_ppm sum $shareSum")
    assert(got.forall(r => r._3 > 0 && r._4 > 0))
    // driver witness for the epoch arithmetic (same operand order)
    val totalTokens = got.map(_._2).sum
    val sws = got.map(r => math.floor(
      math.sqrt(r._2.toDouble) * 1000000.0 + 0.5).toLong)
    val totalSw = sws.sum
    for (((src, tokens, sharePpm, epochs), sw) <- got.zip(sws)) {
      assert(sharePpm ==
        math.floor(sw.toDouble * 1000000.0 / totalSw.toDouble + 0.5).toLong,
        s"$src share")
      val want = math.floor(sw.toDouble * (totalTokens * 10L).toDouble *
        10000.0 / (totalSw.toDouble * tokens.toDouble) + 0.5).toLong
      assert(epochs == want, s"$src epochs $epochs vs $want")
      // sqrt-upsampling: a smaller source never gets a smaller epoch
      // factor than a bigger one
      for ((o, osw) <- got.zip(sws) if o._2 > tokens)
        assert(o._4 <= epochs + 1,
          s"$src ($tokens toks, $epochs) vs ${o._1} (${o._2} toks, ${o._4})")
    }
  }

  test("q_curriculum_bins: exact quartile ledger over the corpus") {
    val got = Queries.q_curriculum_bins(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == (1L to got.length).toSeq)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
    // ntile ledger: stage sizes differ by at most one, larger first,
    // and they sum to the corpus
    assert(got.map(_._2).sum == docs.length.toLong)
    val sizes = got.map(_._2)
    assert(sizes.max - sizes.min <= 1)
    assert(sizes.sorted.reverse.toSeq == sizes.toSeq)
    // stages partition the length-sorted order: spans are
    // non-decreasing across stage boundaries
    for (Array(a, b) <- got.sliding(2))
      assert(a._5 <= b._4 || a._5 <= b._5,
        s"stage ${a._1} max ${a._5} vs stage ${b._1} min ${b._4}")
    // token totals are the per-stage sums of the sorted assignment
    val sorted = docs.sortBy(p => (p._2, p._1))
    val n = sorted.length; val k = got.length
    val big = n % k; val small = n / k
    val bounds = (0 until k).map(i =>
      if (i < big) small + 1 else small)
    val stageOf = bounds.scanLeft(0)(_ + _).sliding(2).zipWithIndex.flatMap {
      case (Seq(lo, hi), i) => sorted.slice(lo, hi).map(_._1 -> (i + 1L))
    }.toMap
    val wantCounts = stageOf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got.forall(r => wantCounts(r._1) == r._2))
  }

  test("privacy pack: k-anonymity census + l-diversity fold over customer") {
    val nCust = graft.sources.Tables.customer(spark, sfDir).count()
    val kan = Queries.q_k_anonymity(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    // census identity: n_rows = class_size · n_classes per size, and the
    // sizes partition the whole table
    assert(kan.nonEmpty &&
      kan.forall(r => r._1 >= 1 && r._2 >= 1 && r._3 == r._1 * r._2))
    assert(kan.map(_._3).sum == nCust)
    val ldiv = Queries.q_l_diversity(spark, sfDir)
      .as[(Int, String, Long, Long, Long)].collect()
    assert(ldiv.map(_._3).sum == nCust)
    // 1 ≤ l ≤ class_size, and the flag is exactly l ≥ 3
    assert(ldiv.forall(r => r._4 >= 1 && r._4 <= r._3))
    assert(ldiv.forall(r => (r._5 == 1L) == (r._4 >= 3L)))
  }

  test("q_t_closeness: exact BigInt EMD recompute + bounds + degenerate law") {
    val got = Queries.q_t_closeness(spark, sfDir)
      .as[(Int, String, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // bounds: 0 ≤ t ≤ 1 (EMD of two distributions over a (m−1)-step
    // ordered domain, normalized by the max transport)
    assert(got.forall(r => r._5 >= 0.0 && r._5 <= 1.0), s"t out of [0,1]")
    // exact driver recompute from raw rows with BigInt arithmetic
    val rows = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("tier"))
      .as[(Int, String, Long)].collect()
    val tiers = rows.map(_._3).distinct.sorted
    val n = BigInt(rows.length)
    val globalCum = tiers.map(t => t ->
      BigInt(rows.count(_._3 <= t))).toMap
    val byClass = rows.groupBy(r => (r._1, r._2))
    for ((nk, seg, cs, tNum, t) <- got) {
      val mem = byClass((nk, seg))
      assert(cs == mem.length.toLong, s"class size $nk/$seg")
      val nc = BigInt(mem.length)
      val num = tiers.map { tr =>
        (n * BigInt(mem.count(_._3 <= tr)) - nc * globalCum(tr)).abs
      }.sum
      assert(BigInt(tNum) == num, s"t_num $nk/$seg: $tNum vs $num")
      val denom = (nc * n * BigInt(tiers.length - 1)).toDouble
      assert(math.abs(t - (math.rint(num.toDouble / denom * 1e6) / 1e6))
        <= 1e-9 || t == (num.toDouble / denom * 1e6).round / 1e6,
        s"t $nk/$seg")
    }
    // degenerate law: a synthetic class distributed EXACTLY like the
    // global marginal has t = 0 — verified on the formula itself
    val anyTier = tiers.head
    assert((n * globalCum(anyTier) - n * globalCum(anyTier)).abs == 0)
  }

  test("q_ngram_novelty: driver set recompute + conservation laws") {
    val got = Queries.q_ngram_novelty(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    def shingles(t: String): Set[String] =
      t.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sh = docs.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty).sortBy(_._1)
    // driver recompute: first occurrence by min doc_id
    val firstDoc = scala.collection.mutable.Map[String, Long]()
    for ((id, s) <- sh; g <- s)
      if (!firstDoc.contains(g) || firstDoc(g) > id) firstDoc(g) = id
    val expect: Map[Long, (Long, Long)] = sh.map { case (id, s) =>
      id -> ((s.size.toLong, s.count(g => firstDoc(g) == id).toLong))
    }.toMap
    assert(got.length == expect.size, s"${got.length} vs ${expect.size}")
    for ((id, ng, nn, ppm) <- got) {
      val (eg, en) = expect(id)
      assert(ng == eg && nn == en, s"doc $id: ($ng,$nn) vs ($eg,$en)")
      assert(ppm == (en * 2000000L + eg) / (2 * eg), s"ppm doc $id")
    }
    // conservation: Σ n_novel == |global distinct gram universe|, and
    // the earliest doc with grams is 100% novel
    assert(got.map(_._3).sum == firstDoc.size.toLong)
    val firstId = sh.head._1
    assert(got.find(_._1 == firstId).get._4 == 1000000L,
      "earliest doc must be fully novel")
  }

  test("q_dup_cluster_histogram: conservation + survivor-count consistency") {
    val got = Queries.q_dup_cluster_histogram(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // every row's n_docs is its own product, sizes are distinct+sorted
    assert(got.forall { case (sz, nc, nd) => nd == sz * nc && sz >= 1L })
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    // conservation: the histogram partitions the corpus
    val corpus = graft.sources.Tables.documents(spark, sfDir).count()
    assert(got.map(_._3).sum == corpus, s"sum n_docs != $corpus")
    // one canonical per family: Σ n_clusters == the cluster id's
    // survivor count (the collapse and the profile read the same links)
    val survivors = Queries.q_dedup_cluster_minhash(spark, sfDir).count()
    assert(got.map(_._2).sum == survivors, s"sum n_clusters != $survivors")
    // the fixture genuinely has multi-doc families
    assert(got.exists(_._1 >= 2L), "fixture must carry near-dup families")
  }

  test("q_novelty_by_source: rollup == per-doc relation folded by source") {
    val got = Queries.q_novelty_by_source(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // the rollup must be exactly the per-doc id's output folded through
    // the source label — same relation, one more join, no new facts
    val perDoc = Queries.q_ngram_novelty(spark, sfDir)
      .join(graft.sources.Tables.documents(spark, sfDir)
        .select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("g"),
        sum(col("n_novel")).as("n"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.length == perDoc.size)
    for ((src, nd, ng, nn, ppm) <- got) {
      assert(perDoc(src) == ((nd, ng, nn)), s"source $src rollup")
      assert(ppm == (nn * 2000000L + ng) / (2 * ng), s"ppm $src")
      assert(ppm >= 0L && ppm <= 1000000L, s"ppm range $src")
    }
    // conservation transfers: sources partition the docs, so Σ n_novel
    // across sources == the distinct gram universe
    val universe = Queries.q_ngram_novelty(spark, sfDir)
      .agg(sum(col("n_novel"))).as[Long].head()
    assert(got.map(_._4).sum == universe)
  }

  test("q_generalize_ladder: nested-coarsening monotonicity laws") {
    val got = Queries.q_generalize_ladder(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(500L, 1000L, 2500L, 5000L, 20000L))
    val nCust = graft.sources.Tables.customer(spark, sfDir).count()
    for ((_, (_, nc, mn, risk, ok)) <- got) {
      assert(nc >= 1 && mn >= 1 && risk >= 0 && risk <= nCust)
      assert((ok == 1L) == (mn >= 5L))
    }
    // the divisibility chain 500 | 1000 | 5000 | 20000 (and 500 | 2500)
    // nests the bucketings — a coarser rung can only MERGE classes, so
    // class count and at-risk mass fall, the min class size grows
    val chain = Seq(500L, 1000L, 5000L, 20000L).map(got)
    for (Seq(f, c) <- chain.sliding(2)) {
      assert(c._2 <= f._2, s"n_classes grew $f -> $c")
      assert(c._3 >= f._3, s"min_class shrank $f -> $c")
      assert(c._4 <= f._4, s"rows_at_risk grew $f -> $c")
    }
    assert(got(2500L)._2 <= got(500L)._2)
  }

  test("q_containment matches a driver-side brute-force recompute") {
    val got = Queries.q_containment(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty, "fixture has exact dups; containment must fire")
    // independent witness: recompute every pair from raw text with the
    // same shingle/cap semantics, then brute-force completeness
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ").filter(_.nonEmpty)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val all = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val df = all.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val kept = all.map { case (id, s) => id -> s.filter(df(_) <= 1000) }
    for ((a, b, c) <- got) {
      val sa = kept(a); val sb = kept(b)
      val want = BigDecimal((sa & sb).size.toDouble / sa.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(c == want, s"pair ($a,$b): got $c want $want")
    }
    val ids = kept.keys.toSeq.sorted
    val brute = for {
      a <- ids; b <- ids
      if a != b && kept(a).nonEmpty &&
        (kept(a) & kept(b)).size.toDouble / kept(a).size >= 0.8
    } yield (a, b)
    assert(got.map(p => (p._1, p._2)).toSet == brute.toSet)
  }

  test("q_boilerplate matches a driver-side positional-window recompute") {
    val got = Queries.q_boilerplate(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    def windows(t: String): Seq[String] = {
      val toks = t.split(" ").filter(_.nonEmpty)
      if (toks.length < 8) Seq.empty
      else toks.sliding(8).map(_.mkString(" ")).toSeq
    }
    val win = docs.map { case (id, t) => id -> windows(t) }.toMap
    val df = win.toSeq.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val want = win.filter(_._2.nonEmpty).map { case (id, ws) =>
      val boiler = ws.count(df(_) >= 4)
      val ppm = (BigInt(boiler) * 2000000 + ws.length) / (ws.length * 2)
      id -> ((ws.length.toLong, boiler.toLong, ppm.toLong))
    }
    assert(got.length == want.size)
    for ((id, nw, nb, ppm) <- got)
      assert(want(id) == ((nw, nb, ppm)), s"doc $id: got ($nw,$nb,$ppm)")
    assert(got.exists(_._3 > 0), "fixture dups must yield boilerplate hits")
  }

  test("q_dup_inflation matches a driver-side canonical fold") {
    val got = Queries.q_dup_inflation(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val keep = docs.groupBy(_._3).map { case (_, g) => g.map(_._1).min }.toSet
    val bySrc = docs.groupBy(_._2)
    assert(got.map(_._1).toSet == bySrc.keySet)
    for ((src, nDocs, nKept, raw, kept, ppm) <- got) {
      val g = bySrc(src)
      def toks(t: String) = t.split(" ").count(_.nonEmpty).toLong
      assert(nDocs == g.length.toLong)
      assert(nKept == g.count(p => keep(p._1)).toLong)
      assert(raw == g.map(p => toks(p._3)).sum)
      assert(kept == g.filter(p => keep(p._1)).map(p => toks(p._3)).sum)
      assert(ppm == ((BigInt(raw - kept) * 2000000 + raw) / (raw * 2)).toLong)
    }
    // exact global ledger, valid whether or not the fixture carries
    // exact dups at this SF (sf0.001 has none — raw == kept there):
    // dropped-doc count and dropped token mass both equal the
    // non-canonical remainder, no more, no less
    assert(got.map(_._2).sum - got.map(_._3).sum ==
      (docs.length - keep.size).toLong)
    val dropToks = docs.filter(p => !keep(p._1))
      .map(_._3.split(" ").count(_.nonEmpty).toLong).sum
    assert(got.map(_._4).sum - got.map(_._5).sum == dropToks)
  }

  private def docTokens(t: String): Array[String] =
    t.split(" ").filter(_.nonEmpty)

  test("q_ttr matches a driver-side per-source lexical fold") {
    val got = Queries.q_ttr(spark, sfDir)
      .as[(String, Long, Long, Long, Double, Double)].collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("source", "text").as[(String, String)].collect()
    val bySrc = docs.groupBy(_._1)
    assert(got.map(_._1).toSeq == bySrc.keys.toSeq.sorted)
    for ((src, nTok, nTyp, nHapax, ttr, hapax) <- got) {
      val cnt = bySrc(src).flatMap(p => docTokens(p._2))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(nTok == cnt.values.sum)
      assert(nTyp == cnt.size.toLong)
      assert(nHapax == cnt.values.count(_ == 1L).toLong)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(ttr == r6(nTyp.toDouble / nTok))
      assert(hapax == r6(nHapax.toDouble / nTyp))
    }
  }

  test("q_kl_sources: non-negativity + driver-side quantized recompute") {
    val got = Queries.q_kl_sources(spark, sfDir)
      .as[(String, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("source", "text").as[(String, String)].collect()
    val st = docs.flatMap(p => docTokens(p._2).map(p._1 -> _))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cw = st.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val ns = st.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ntot = st.values.sum
    for ((src, nTok, nTyp, kl) <- got) {
      assert(nTok == ns(src))
      assert(nTyp == st.keys.count(_._1 == src).toLong)
      // KL ≥ 0 up to the 1e-12 term grain
      assert(kl >= -1e-6, s"$src KL $kl negative")
      val t12 = st.collect { case ((s0, w), cs) if s0 == src =>
        math.floor(((cs.toDouble / ns(src)) *
          math.log((cs.toDouble * ntot) / (cw(w).toDouble * ns(src)))) *
          1000000000000.0 + 0.5).toLong
      }
      val want = BigDecimal(
          t12.map(BigInt(_)).sum.toDouble / 1000000000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(kl == want, s"$src: got $kl want $want")
    }
  }

  test("q_dsir_weights matches a driver-side smoothed log-ratio fold") {
    val got = Queries.q_dsir_weights(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty && got.forall(_._1 >= 10L),
      "target docs 0-9 must never receive a weight")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val vocab = docs.flatMap { case (id, t) => docTokens(t).map(id -> _) }
    val ct = vocab.collect { case (id, w) if id < 10 => w }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cc = vocab.collect { case (id, w) if id >= 10 => w }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val allW = (ct.keySet ++ cc.keySet)
    val (nt, ncp, v) = (ct.values.sum, cc.values.sum, allW.size.toLong)
    val lr = allW.map { w =>
      w -> math.floor(math.log(
        ((ct.getOrElse(w, 0L) + 1).toDouble * (ncp + v)) /
          ((cc.getOrElse(w, 0L) + 1).toDouble * (nt + v))) *
        1000000000000.0 + 0.5).toLong
    }.toMap
    val byDoc = docs.filter(_._1 >= 10).map { case (id, t) =>
      val toks = docTokens(t)
      val s = toks.groupBy(identity)
        .map { case (w, g) => BigInt(g.length) * lr(w) }.sum
      id -> ((toks.length.toLong, BigDecimal(s.toDouble / 1000000000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.filter(_._2._1 > 0).toMap
    assert(got.length == byDoc.size)
    for ((id, nTok, w) <- got)
      assert(byDoc(id) == ((nTok, w)), s"doc $id: got ($nTok,$w)")
  }

  test("q_overlap_matrix: full pair frame + driver-side set recompute") {
    val got = Queries.q_overlap_matrix(spark, sfDir)
      .as[(String, String, Long, Long, Long, Long, Double)].collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("source", "text").as[(String, String)].collect()
    val sets = docs.groupBy(_._1).view.mapValues(g =>
      g.flatMap { p =>
        val toks = docTokens(p._2)
        if (toks.length < 5) Seq.empty
        else toks.sliding(5).map(_.mkString(" ")).toSeq.distinct
      }.map(sh => Dedup.hashSeeded(sh, 1L)).toSet).toMap
    val srcs = sets.keys.toSeq.sorted
    // every unordered pair appears exactly once, zero-overlap included
    assert(got.map(p => (p._1, p._2)).toSeq ==
      (for (a <- srcs; b <- srcs if a < b) yield (a, b)))
    for ((a, b, sa, sb, in, un, j) <- got) {
      assert(sa == sets(a).size.toLong && sb == sets(b).size.toLong)
      assert(in == (sets(a) & sets(b)).size.toLong)
      assert(un == sa + sb - in)
      assert(j == BigDecimal(in.toDouble / un)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(in <= math.min(sa, sb) && un >= math.max(sa, sb))
    }
  }

  test("q_winnowing matches a driver-side MOSS reference + density law") {
    val got = Queries.q_winnowing(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    val want = docs.flatMap { case (id, t) =>
      val toks = docTokens(t)
      if (toks.length < 8) None // < 5-gram count 4 ⇒ no full window
      else {
        val hs = toks.sliding(5).map(g => Dedup.hashSeeded(g.mkString(" "), 1L))
          .toArray
        val keys = hs.zipWithIndex.map { case (h, p) =>
          BigInt(h) * 2097152 + (2097151 - p)
        }
        val sel = (0 to keys.length - 4).map(i =>
          (i until i + 4).map(keys).min).distinct
        val checksum = (sel.sum mod BigInt("9223372036854775808")).toLong
        Some(id -> ((hs.length.toLong, (hs.length - 3).toLong,
          sel.length.toLong, checksum)))
      }
    }.toMap
    assert(got.length == want.size)
    for ((id, ng, nw, nf, cs) <- got) {
      assert(want(id) == ((ng, nw, nf, cs)), s"doc $id: got ($ng,$nw,$nf,$cs)")
      // winnowing density: each selected fingerprint covers ≤ w=4
      // windows, so selections can't be sparser than n_windows/4
      assert(nf * 4 >= nw, s"doc $id too sparse: $nf of $nw")
      assert(nf <= nw)
    }
  }

  test("q_containment_cluster matches a driver-side union-find + keep-longest") {
    val got = Queries.q_containment_cluster(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars", "text").as[(Long, Long, String)].collect()
    assert(got.length == docs.length, "every doc gets a verdict row")
    // reuse the q_containment witness semantics: shingle → df cap →
    // one intersection per unordered pair → either-direction 0.8 link
    def shingles(t: String): Set[String] = {
      val toks = docTokens(t)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val all = docs.map { case (id, _, t) => id -> shingles(t) }.toMap
    val df = all.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val kept = all.view.mapValues(_.filter(df(_) <= 1000)).toMap
    val ids = docs.map(_._1).sorted
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for {
      a <- ids; b <- ids if a < b
      sa = kept(a); sb = kept(b)
      in = (sa & sb).size
      if (sa.nonEmpty && in.toDouble / sa.size >= 0.8) ||
        (sb.nonEmpty && in.toDouble / sb.size >= 0.8)
    } union(a, b)
    val chars = docs.map(d => d._1 -> d._2).toMap
    val byCluster = ids.groupBy(find)
    val wantKeep = byCluster.map { case (c, ms) =>
      val mc = ms.map(chars).max
      c -> ms.filter(chars(_) == mc).min
    }
    for ((id, cl, keep, flag) <- got) {
      assert(cl == find(id), s"doc $id cluster: got $cl want ${find(id)}")
      assert(keep == wantKeep(cl), s"doc $id keep: got $keep")
      assert((flag == 1L) == (id == keep))
      // keep-longest law: the kept doc is never shorter than any member
      assert(chars(keep) >= chars(id), s"kept $keep shorter than $id")
    }
  }

  test("q_winnow_pairs matches a driver-side MOSS match + guarantee law") {
    val got = Queries.q_winnow_pairs(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect()
    // driver reference: winnow each doc, decode selected HASHES, df-cap
    def winnowHashes(t: String): Set[Long] = {
      val toks = docTokens(t)
      if (toks.length < 8) Set.empty
      else {
        val hs = toks.sliding(5).map(g => Dedup.hashSeeded(g.mkString(" "), 1L))
          .toArray
        val keys = hs.zipWithIndex.map { case (h, p) =>
          BigInt(h) * 2097152 + (2097151 - p)
        }
        (0 to keys.length - 4).map(i => (i until i + 4).map(keys).min)
          .distinct.map(k => ((k - k.mod(2097152)) / 2097152).toLong).toSet
      }
    }
    val sel = docs.map { case (id, t) => id -> winnowHashes(t) }.toMap
    val df = sel.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val kept = sel.view.mapValues(_.filter(df(_) <= 1000)).toMap
    val want = (for {
      (a, sa) <- kept.toSeq; (b, sb) <- kept.toSeq if a < b
      shared = (sa & sb).size if shared >= 2
    } yield (a, b) -> ((shared.toLong,
      BigDecimal(shared.toDouble / math.min(sa.size, sb.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))).toMap
    assert(got.length == want.size)
    for ((a, b, n, sc) <- got) {
      assert(want((a, b)) == ((n, sc)), s"pair ($a,$b): got ($n,$sc)")
      assert(sc > 0.0 && sc <= 1.0)
    }
    // winnowing local guarantee, checked against ground truth: any doc
    // pair sharing a ≥ 8-token contiguous run (5-gram window span w=4)
    // shares a selected fingerprint hash, so it cannot score below the
    // pair threshold unless the shared hash was df-capped or unique
    val runs = docs.map { case (id, t) =>
      id -> docTokens(t).sliding(8).map(_.mkString(" ")).toSet
    }.toMap
    for {
      (a, ra) <- runs.toSeq; (b, rb) <- runs.toSeq
      if a < b && (ra & rb).nonEmpty
    } assert((sel(a) & sel(b)).nonEmpty,
      s"docs $a/$b share an 8-token run but no raw fingerprint")
  }

  test("duplicatedSpans: golden spans on crafted docs; removal conservation and pass-through") {
    // doc 1 and doc 2 share a 10-token run; doc 3 repeats an 8-token
    // phrase internally (within-doc duplication counts); doc 4 is unique
    val common = (1 to 10).map(i => s"c$i").mkString(" ")
    val phrase = (1 to 8).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 $common u3 u4"),
      (2L, s"$common v1 v2 v3"),
      (3L, s"$phrase x $phrase"),
      (4L, (1 to 12).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text")
      .orderBy("id", "span_start")
      .collect() // bounded: crafted 4-doc fixture
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: run occupies token positions 3..12 -> windows start 3..5,
    // one maximal span [3,12]; doc 2: [1,10]; doc 3: the repeat sits 9
    // positions apart (> windowLen=8), so TWO spans [1,8] and [10,17]
    assert(spans.toSeq == Seq(
      (1L, 3L, 12L, 10L), (2L, 1L, 10L, 10L),
      (3L, 1L, 8L, 8L), (3L, 10L, 17L, 8L)))

    val removed = Dedup.removeDuplicatedSpans(docs, "doc_id", "text")
      .orderBy("id")
      .collect() // bounded: crafted 4-doc fixture
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(removed.toSeq == Seq(
      (1L, "u1 u2 u3 u4", 14L, 10L),
      (2L, "v1 v2 v3", 13L, 10L),
      (3L, "x", 17L, 16L),
      (4L, (1 to 12).map(i => s"w$i").mkString(" "), 12L, 0L)))
    // conservation: excised token mass == total span mass (spans are
    // disjoint by construction of the island merge)
    assert(spans.map(_._4).sum == removed.map(_._4).sum)
  }

  test("q_dup_spans / q_span_removal / q_dup_span_frac: cross-id conservation on the real corpus") {
    val spanMass = Queries.q_dup_spans(spark, sfDir)
      .agg(sum("span_tokens")).as[Long].head()
    val removedMass = Queries.q_span_removal(spark, sfDir)
      .agg(sum("n_removed")).as[Long].head()
    val frac = Queries.q_dup_span_frac(spark, sfDir)
      .agg(sum("dup_tokens"), sum("total_tokens")).as[(Long, Long)].head()
    assert(spanMass == removedMass,
      s"span mass $spanMass != excised mass $removedMass")
    assert(frac._1 == spanMass,
      s"per-source dup mass ${frac._1} != span mass $spanMass")
    val totalToks = Queries.q_token_count(spark, sfDir)
      .agg(sum("n_tokens")).as[Long].head()
    assert(frac._2 == totalToks,
      s"per-source total mass ${frac._2} != corpus token mass $totalToks")
  }

  test("q_dp_count: md5-derandomized Laplace draw matches a driver-side replay; counts stay private") {
    import graft.sources.Tables
    val got = Queries.q_dp_count(spark, sfDir).collect() // 5 segments
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = Tables.customer(spark, sfDir)
      .groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == truth.keySet)
    val md = java.security.MessageDigest.getInstance("MD5")
    for ((seg, n) <- truth) {
      val hex = md.digest(s"graftdp:$seg".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val bits = java.lang.Long.parseLong(hex.substring(0, 13), 16)
      val x = (bits.toDouble + 0.5) / 4503599627370496.0 - 0.5
      val sgn = if (x > 0) 1.0 else if (x < 0) -1.0 else 0.0
      val expect = BigDecimal(n.toDouble - 2.0 * sgn *
          math.log(1.0 - 2.0 * math.abs(x)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(seg) - expect) < 1e-9,
        s"$seg: got ${got(seg)}, driver replay $expect")
      // the release must actually perturb (a zero draw has probability 0)
      assert(got(seg) != n.toDouble, s"$seg: noise degenerated to zero")
    }
    // determinism: the derandomized mechanism is replayable
    val again = Queries.q_dp_count(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == got)
  }

  test("contaminatedSpans: quote excised, verbatim copy emptied, fresh doc untouched; flagged set == q_decontaminate's dropped set") {
    import graft.sources.Tables
    // crafted golden: the probe "benchmark" is one 12-token doc; doc 1
    // quotes 6 of its tokens mid-text (loses exactly the quote +
    // window-extent), doc 2 IS the benchmark verbatim (comes out
    // empty), doc 3 is fresh (verbatim pass-through)
    val bench = (1 to 12).map(i => s"k$i").mkString(" ")
    val quote = (4 to 9).map(i => s"k$i").mkString(" ")
    val probe = Seq((0L, bench)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, (1 to 10).map(i => s"x$i").mkString(" ") + " " + quote + " " +
        (11 to 20).map(i => s"x$i").mkString(" ")),
      (2L, bench),
      (3L, (1 to 20).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.removeContaminatedSpans(corpus, probe, "doc_id", "text")
      .orderBy("id")
      .collect() // bounded: crafted 3-doc fixture
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    // doc 1: the quote occupies positions 11..16; its 5-token windows
    // (starts 11, 12) are probe windows, span [11, 16] — exactly the
    // quoted run
    assert(out.toSeq == Seq(
      (1L, (1 to 10).map(i => s"x$i").mkString(" ") + " " +
        (11 to 20).map(i => s"x$i").mkString(" "), 6L),
      (2L, "", 12L),
      (3L, (1 to 20).map(i => s"y$i").mkString(" "), 0L)))

    // cross-id law on the real corpus: a doc loses tokens here iff the
    // whole-doc gate drops it — both ids key on the same probe 5-grams
    val flagged = Queries.q_decontaminate_spans(spark, sfDir)
      .filter(col("n_removed") > 0)
      .select("doc_id").as[Long].collect().toSet
    val all = Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 10).select("doc_id").as[Long].collect().toSet
    val kept = Queries.q_decontaminate(spark, sfDir)
      .select("doc_id").as[Long].collect().toSet
    assert(flagged == (all diff kept),
      s"surgical flags ${flagged.size} != whole-doc drops ${(all diff kept).size}")
  }

  test("q_dp_sum: clipped-cents sum and md5-derandomized draw match a driver-side replay") {
    import graft.sources.Tables
    val got = Queries.q_dp_sum(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = Tables.customer(spark, sfDir)
      .select("c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val centsBySeg = rows.groupBy(_._1).view.mapValues(_.map { case (_, b) =>
      math.min(math.max(math.floor(b * 100.0).toLong, 0L), 500000L)
    }.sum).toMap
    assert(got.keySet == centsBySeg.keySet)
    val md = java.security.MessageDigest.getInstance("MD5")
    for ((seg, cents) <- centsBySeg) {
      val hex = md.digest(s"graftdpsum:$seg".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val bits = java.lang.Long.parseLong(hex.substring(0, 13), 16)
      val x = (bits.toDouble + 0.5) / 4503599627370496.0 - 0.5
      val sgn = if (x > 0) 1.0 else if (x < 0) -1.0 else 0.0
      val expect = BigDecimal((cents.toDouble - 1000000.0 * sgn *
          math.log(1.0 - 2.0 * math.abs(x))) / 100.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(seg) - expect) < 1e-7,
        s"$seg: got ${got(seg)}, driver replay $expect")
      // the release must actually perturb, and the two DP ids' salts
      // must yield INDEPENDENT draws (different u per mechanism)
      assert(got(seg) != cents.toDouble / 100.0,
        s"$seg: noise degenerated to zero")
    }
  }

  test("q_tokenizer_fertility: per-lang rollup of the q_bpe_encode relation (shared learned vocab)") {
    import graft.sources.Tables
    val fert = Queries.q_tokenizer_fertility(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val perDoc = Queries.q_bpe_encode(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang")
      .agg(sum("n_words").as("w"), sum("n_subwords").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fert == perDoc,
      s"lang rollup diverges from the per-doc relation: $fert vs $perDoc")
    // merges only ever SHORTEN symbol strings: 1 <= fertility <= max word length
    for (r <- Queries.q_tokenizer_fertility(spark, sfDir).collect()) {
      val fertility = r.getDouble(4)
      assert(fertility >= 1.0 && fertility < 64.0, s"fertility $fertility")
    }
  }

  test("q_dedup_keep_best: one keeper per cluster, keeper is argmax(n_chars, min id), clusters == q_dedup_cluster") {
    val got = Queries.q_dedup_keep_best(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect().toMap
    // total: every doc resolved exactly once
    assert(got.map(_._1).distinct.length == docs.size)
    // cluster assignment is EXACTLY q_dedup_cluster's
    val want = Queries.q_dedup_cluster(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(got.forall(r => want(r._1) == r._2))
    // one kept doc per cluster; it is the argmax-(n_chars, -doc_id)
    val byCluster = got.groupBy(_._2)
    for ((c, members) <- byCluster) {
      val kept = members.filter(_._4 == 1L)
      assert(kept.length == 1, s"cluster $c kept ${kept.length}")
      val best = members.map(_._1).maxBy(id => (docs(id), -id))
      assert(kept.head._1 == best, s"cluster $c keeper")
      assert(members.forall(_._3 == best), s"cluster $c keeper_id column")
    }
  }

  test("q_shard_manifest: driver md5 replay of shards, masses and xor checksum") {
    val got = Queries.q_shard_manifest(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)].collect()
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val rows = docs.map { case (id, text, nc) =>
      val h = md5hex(id.toString)
      val shard = java.lang.Long.parseLong(h.substring(0, 8), 16) % 8L
      val idh = java.lang.Long.parseLong(h.substring(8, 16), 16)
      val toks = text.split(" ").count(_.nonEmpty).toLong
      (shard, id, toks, nc, idh)
    }
    val want = rows.groupBy(_._1).map { case (s, g) =>
      s -> (g.length.toLong, g.map(_._3).sum, g.map(_._4).sum,
        g.map(_._2).min, g.map(_._2).max,
        g.map(_._5).reduce(_ ^ _))
    }
    assert(got == want)
    // manifest covers the whole corpus exactly once
    assert(got.values.map(_._1).sum == docs.length.toLong)
  }

  test("q_top_paths: driver sessionization replay of the path census") {
    val got = Queries.q_top_paths(spark, sfDir)
      .as[(String, Long)].collect()
    val events = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
    val census = scala.collection.mutable.Map.empty[String, Long]
    for ((_, evs) <- events.groupBy(_._1)) {
      val sorted = evs.sortBy(e => (e._3, e._2))
      var path = List.empty[String]; var prev = Long.MinValue
      def flush(): Unit = if (path.nonEmpty) {
        val p = path.reverse.mkString(">")
        census(p) = census.getOrElse(p, 0L) + 1L
        path = Nil
      }
      for ((_, _, ms, et) <- sorted) {
        if (prev != Long.MinValue && ms - prev > 1800000L) flush()
        path = et :: path; prev = ms
      }
      flush()
    }
    val want = census.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got.toSeq == want)
  }

  test("q_precision_at_k: driver brute-force label-match replay") {
    val got = Queries.q_precision_at_k(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)].collect()
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos12(a: Array[Float], b: Array[Float]): BigDecimal =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val probes = embs.filter(_._1 < 20)
    assert(got.map(_._1).toSeq == probes.map(_._1).sorted.toSeq)
    for ((qid, nMatch, prec) <- got) {
      val (_, qEmb, qLabel) = probes.find(_._1 == qid).get
      val top3 = embs.filter(_._1 != qid)
        .map(e => (cos12(e._2, qEmb), e._1, e._3))
        .sortBy { case (c, id, _) => (-c, id) }.take(3)
      val want = top3.count(_._3 == qLabel).toLong
      assert(nMatch == want, s"query $qid: $nMatch vs $want")
      assert(prec == BigDecimal(nMatch.toDouble / 3.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(nMatch >= 0L && nMatch <= 3L)
    }
  }

  test("q_recall_at_k: n_match shared with precision@k, denominator is the label population") {
    val rec = Queries.q_recall_at_k(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    // the SAME top-3 relation feeds both eval ids: match counts agree
    val prec = Queries.q_precision_at_k(spark, sfDir)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(rec.forall(r => prec(r._1) == r._2))
    // denominator: per-label population minus self
    val labCount = graft.sources.Tables.embeddings(spark, sfDir)
      .groupBy("label").count().as[(Int, Long)].collect().toMap
    val probeLabel = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 20).select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    for ((qid, nMatch, nRel, recall) <- rec) {
      assert(nRel == labCount(probeLabel(qid)) - 1L, s"query $qid denom")
      assert(recall == BigDecimal(nMatch.toDouble / nRel.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("q_knn_classify: confusion totals 20 probes; majority vote matches a driver replay") {
    val got = Queries.q_knn_classify(spark, sfDir)
      .as[(Int, Int, Long)].collect()
    assert(got.map(_._3).sum == 20L)
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)].collect()
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos12(a: Array[Float], b: Array[Float]): BigDecimal =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val conf = scala.collection.mutable.Map.empty[(Int, Int), Long]
    for ((qid, qEmb, qLabel) <- embs.filter(_._1 < 20)) {
      val top3 = embs.filter(_._1 != qid)
        .map(e => (cos12(e._2, qEmb), e._1, e._3))
        .sortBy { case (c, id, _) => (-c, id) }.take(3)
      val pred = top3.groupBy(_._3).view.mapValues(_.length).toSeq
        .maxBy { case (lab, votes) => (votes, -lab) }._1
      conf((qLabel, pred)) = conf.getOrElse((qLabel, pred), 0L) + 1L
    }
    assert(got.map(r => (r._1, r._2) -> r._3).toMap == conf.toMap)
  }

  test("q_attribution_decay: credit conserves purchase value; driver dyadic-weight replay") {
    val got = Queries.q_attribution_decay(spark, sfDir)
      .as[(String, Long, Double)].collect()
    assert(got.nonEmpty)
    // conservation: per-user shares sum to 1, so total credit == total
    // first-purchase value over users WITH >= 1 pre-purchase touch
    // (up to the 2-dp rounding per event type)
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)].collect()
    val fp = ev.filter(_._4 == "purchase").groupBy(_._1).map { case (u, g) =>
      val first = g.minBy(e => (e._3, e._2)); u -> (first._3, first._5)
    }
    val census = scala.collection.mutable
      .Map.empty[String, (Long, Double)]
    for ((u, (pms, pval)) <- fp) {
      val touches = ev.filter(e =>
        e._1 == u && e._4 != "purchase" && e._3 < pms)
      if (touches.nonEmpty) {
        val ws = touches.map(t =>
          (t._4, math.pow(2.0, -((pms - t._3) / 604800000L).toDouble)))
        val sw = ws.map(_._2).sum
        for ((et, w) <- ws) {
          val (n, v) = census.getOrElse(et, (0L, 0.0))
          census(et) = (n + 1L, v + pval * w / sw)
        }
      }
    }
    val want = census.toSeq.sortBy(_._1).map { case (et, (n, v)) =>
      (et, n, BigDecimal(v).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // counts and touch sets are exact; the credited sums fold in a
    // different order than Spark's partial aggregation, so compare at
    // a cent of slack past the shared 2-dp rounding
    assert(got.map(r => (r._1, r._2)).toSeq == want.map(w => (w._1, w._2)))
    for ((g, w) <- got.zip(want))
      assert(math.abs(g._3 - w._3) <= 0.01, s"${g._1}: ${g._3} vs ${w._3}")
    val totalCredit = got.map(_._3).sum
    val totalPval = fp.collect { case (u, (pms, pval))
      if ev.exists(e => e._1 == u && e._4 != "purchase" && e._3 < pms) =>
      pval }.sum
    assert(math.abs(totalCredit - totalPval) <= 0.01 * got.length,
      s"credit $totalCredit vs value $totalPval")
  }

  /** Driver replay of the [[graft.operators.Spectral]] integer chain:
    * quantize → raw moments → exact centered covariance → truncating
    * renormalization → power iteration. Returns (v, evPermille, m). */
  private def pcaReplay(vecs: Array[Array[Float]], iters: Int = 8)
      : (Array[Long], Long, Array[Long]) = {
    val dim = vecs(0).length
    val n = vecs.length.toLong
    def tdiv(a: Long, b: Long): Long = if (a >= 0) a / b else -((-a) / b)
    val q = vecs.map(v => v.map(x => math.floor(x.toDouble * 256.0).toLong))
    val s = Array.ofDim[Long](dim)
    val qq = Array.ofDim[Long](dim, dim)
    for (r <- q) {
      var j = 0
      while (j < dim) {
        s(j) += r(j)
        var k = 0
        while (k < dim) { qq(j)(k) += r(j) * r(k); k += 1 }
        j += 1
      }
    }
    val m = s.map(x => tdiv(x, n))
    val c = Array.tabulate(dim, dim)((j, k) =>
      qq(j)(k) - m(j) * s(k) - s(j) * m(k) + n * m(j) * m(k))
    val dn = math.max(1L, tdiv(c.flatten.map(math.abs).max, 1000000L))
    val cp = c.map(_.map(x => tdiv(x, dn)))
    var v = Array.fill(dim)(1000L)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dim)(j =>
        (0 until dim).map(k => cp(j)(k) * v(k)).sum)
      val mx = math.max(1L, w.map(math.abs).max)
      v = w.map(wj => tdiv(wj * 1000, mx))
    }
    val w9 = Array.tabulate(dim)(j =>
      (0 until dim).map(k => cp(j)(k) * v(k)).sum)
    val num = (0 until dim).map(j => v(j) * w9(j)).sum
    val vtv = v.map(x => x * x).sum
    val tr = (0 until dim).map(j => cp(j)(j)).sum
    (v, tdiv(num * 1000, math.max(1L, vtv * tr)), m)
  }

  test("q_embed_pca: full integer-chain driver replay; ±1000 grid; PSD Rayleigh share") {
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
      .orderBy("vec_id").select("embedding").as[Array[Float]].collect()
    val (v, ev, _) = pcaReplay(vecs)
    val got = Queries.q_embed_pca(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == (0L until v.length.toLong))
    assert(got.map(_._2).toSeq == v.toSeq, "loadings diverge from replay")
    assert(got.forall(_._3 == ev), "ev_permille diverges from replay")
    // normalization: the argmax component sits exactly on the grid edge
    assert(got.map(r => math.abs(r._2)).max == 1000L)
    // C PSD ⇒ exact share ∈ [0, 1000]; C→C' truncation wobbles ≤ a few ‰
    assert(ev >= -5 && ev <= 1005, s"ev_permille $ev outside PSD band")
  }

  test("readArtifact: a dir rewritten with a different schema is re-inferred, never misread") {
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("artifact_schema_").toString
    val centroids = Array(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    val vecs = Seq(Seq(1f, 0.1f, 0f, 0f), Seq(0.9f, 0f, 0.1f, 0f),
      Seq(0f, 1f, 0.1f, 0f))
    def topIds(): Set[Any] = Similarity.ivfTopKIndexed(spark, dir, "vec_id",
        "embedding", Array(1f, 0f, 0f, 0f), k = 3, nprobe = 2)
      .collect().map(_.get(0)).toSet
    Similarity.ivfWriteIndex(vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding"),
      "embedding", centroids, dir)
    assert(topIds() == Set(0L, 1L, 2L))
    // the same artifact path, now with String ids: the schema cached by
    // the first read must not be applied to the new files
    Similarity.ivfWriteIndex(vecs.zipWithIndex
        .map { case (v, i) => (s"doc-$i", v) }.toDF("vec_id", "embedding"),
      "embedding", centroids, dir)
    assert(topIds() == Set("doc-0", "doc-1", "doc-2"))
  }

  test("q_embed_project: driver projection replay; histogram covers every vector") {
    val rows = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val (v, _, m) = pcaReplay(rows.map(_._2))
    def tdiv(a: Long, b: Long): Long = if (a >= 0) a / b else -((-a) / b)
    val want = rows.map { case (_, e) =>
      val q = e.map(x => math.floor(x.toDouble * 256.0).toLong)
      tdiv(q.indices.map(j => (q(j) - m(j)) * v(j)).sum, 50000L)
    }.groupBy(identity).map { case (b, g) => (b, g.length.toLong) }
      .toSeq.sortBy(_._1)
    val got = Queries.q_embed_project(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    assert(got == want, "projection histogram diverges from replay")
    assert(got.map(_._2).sum == rows.length.toLong)
  }

  test("q_embed_pca_by_label: per-label driver replay; single-group fold == global pc1") {
    val rows = graft.sources.Tables.embeddings(spark, sfDir)
      .select("label", "vec_id", "embedding")
      .as[(Int, Long, Array[Float])].collect()
    val got = Queries.q_embed_pca_by_label(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (g, rs) =>
        g -> (rs.sortBy(_._2).map(_._3).toSeq, rs.head._4) }
    val byLabel = rows.groupBy(_._1)
    assert(got.keySet == byLabel.keySet.map(_.toLong))
    for ((g, grp) <- byLabel) {
      val (v, ev, _) = pcaReplay(grp.sortBy(_._2).map(_._3))
      assert(got(g.toLong) == ((v.toSeq, ev)),
        s"label $g diverges from the per-label replay")
    }
    // a one-label slice's grouped row == the global chain on that slice
    val l0 = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("label") === 0)
    val single = graft.operators.Spectral
      .pc1ByGroup(l0, "label", "embedding")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    val global = graft.operators.Spectral.pc1(l0, "embedding")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(single.map(r => (r._2, r._3, r._4)).toSeq ==
      global.map(r => (r._1, r._2, r._3)).toSeq,
      "grouped chain on one label must equal the global chain")
  }

  test("q_lsh_recall_eval: counter algebra, monotone truth, ppm arithmetic") {
    val got = Queries.q_lsh_recall_eval(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(30L, 50L, 70L, 90L))
    val nCand = got.head._3
    assert(got.forall(_._3 == nCand), "n_cand is tau-independent")
    for (r <- got) {
      assert(r._4 <= math.min(r._2, r._3), s"tau ${r._1}: hits exceed bound")
      assert(r._5 == (if (r._2 == 0) 1000000L else r._4 * 1000000L / r._2))
      assert(r._6 == (if (nCand == 0) 0L else r._4 * 1000000L / nCand))
    }
    // raising tau can only shrink the truth set and its hit subset
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse)
    assert(got.map(_._4).toSeq == got.map(_._4).toSeq.sorted.reverse)
  }

  test("q_dp_topk: driver replay of the noisy top-5; released slice only; deterministic") {
    val got = Queries.q_dp_topk(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(got.length == 5 && got.map(_._1).sorted.toSeq == got.map(_._1).toSeq)
    // driver replay: exact counts + the md5 inverse-CDF draw, ranked on
    // the ROUNDED noisy count with the brand tie-break, top 5
    val truth = graft.sources.Tables.part(spark, sfDir)
      .groupBy("p_brand").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val md = java.security.MessageDigest.getInstance("MD5")
    val noisy = truth.map { case (b, n) =>
      val hex = md.digest(s"graftdptopk:$b".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString
      val bits = java.lang.Long.parseLong(hex.substring(0, 13), 16)
      val x = (bits.toDouble + 0.5) / 4503599627370496.0 - 0.5
      val sgn = if (x > 0) 1.0 else if (x < 0) -1.0 else 0.0
      b -> BigDecimal(n.toDouble - 2.0 * sgn *
          math.log(1.0 - 2.0 * math.abs(x)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = noisy.sortBy { case (b, v) => (-v, b) }.take(5).sortBy(_._1)
    assert(got.toSeq == want.toSeq, s"got ${got.toSeq}, replay ${want.toSeq}")
    // the release is the top slice ONLY (k < |brand domain|), perturbed
    assert(truth.length > 5)
    val truthMap = truth.toMap
    assert(got.forall { case (b, v) => v != truthMap(b).toDouble })
    // determinism: the derandomized mechanism is replayable
    assert(Queries.q_dp_topk(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq == got.toSeq)
  }

  test("q_dataset_card: rows partition the corpus; dup bill matches a driver md5 census") {
    val got = Queries.q_dataset_card(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, String)]
      .collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("source", "text", "n_chars")
      .as[(String, String, Long)].collect()
    assert(got.map(_._2).sum == docs.length.toLong)
    assert(got.map(_._3).sum == docs.map(_._3).sum)
    def md5hex(t: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    val fpN = docs.groupBy(d => md5hex(d._2)).map { case (f, g) => f -> g.length }
    val dupBySource = docs.filter(d => fpN(md5hex(d._2)) > 1)
      .groupBy(_._1).map { case (src, g) => src -> g.length.toLong }
    for (r <- got) {
      assert(r._6 == dupBySource.getOrElse(r._1, 0L), s"${r._1}: dup bill")
      assert(r._7 == r._6 * 1000000L / r._2, s"${r._1}: dup_ppm")
      assert(r._8 == r._3 / r._2, s"${r._1}: mean_chars")
    }
  }
}
