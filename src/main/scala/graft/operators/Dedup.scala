package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.sources.BucketedIndex

/** Deduplication operators for training-data pipelines (driver brief [N];
  * SURVEY.md §2.K). The reference's own dedup is the keyed first-visit
  * ValueState pattern (SURVEY.md §2.I); these generalize it to content
  * dedup at 100 TB scale.
  *
  * Scale notes:
  *  - every operator is a pure DataFrame pipeline: shuffles are keyed by
  *    content hash / shingle / band-bucket, never all-pairs;
  *  - candidate generation (LSH band join, shingle inverted index) bounds
  *    the pair space before any exact similarity is computed;
  *  - no `collect()` anywhere.
  */
object Dedup {

  /** CPU-parallelism guard for expensive per-row chains over byte-small
    * scans (r17, guide §2 scale-adaptive partitioning): Spark sizes scan
    * splits by BYTES (`maxPartitionBytes`), but the tokenize → shingle →
    * hash chains here are CPU-bound — a single-row-group parquet file
    * (the test SFs) plans the whole chain into ONE task and idles every
    * other core. When the input has fewer partitions than the session's
    * parallelism, hash-repartition on the row key (deterministic — never
    * round-robin, per SPARK-38388) so the per-row work spreads; at
    * cluster scale the input already has ≥ cores partitions and this is
    * a provable no-op. The exchange moves only the raw bytes once,
    * BEFORE the explode multiplies rows (guide §3.3). */
  private[graft] def fanOut(df: DataFrame, key: Column): DataFrame = {
    if (df.isStreaming) return df // micro-batch partitioning is the source's
    val target = df.sparkSession.sparkContext.defaultParallelism
    // the physical plan's partition count: `df.rdd` would also plan a
    // deserializer that never runs
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  /** [[fanOut]] restricted to the exactly-one-NON-EMPTY-partition input
    * case — for consumers whose downstream contract sort has NON-total
    * keys and leans on tie rows emitting in file order (q_unpivot;
    * ADVICE r17). The tie-order argument (every tie group leaves one map
    * partition in stored order; equal keys land in one range partition;
    * the sort is stable) only holds when all ROWS come from one
    * partition. Planned-partition count is the wrong gate: a
    * single-row-group parquet file byte-splits into ~bytes/split EMPTY
    * partitions plus one holding every row, so the probe asks each split
    * for its first row (one cheap map job, no full scan) and spreads
    * only the provably-safe single-source layout. With ≥2 non-empty
    * partitions the helper does nothing — there the baseline plan's tie
    * order is already shuffle-fetch-dependent (inherent to a non-total
    * contract sort over a multi-partition scan), and this helper must
    * not lean on it further. */
  private[graft] def fanOutFromSingle(df: DataFrame, key: Column): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (target <= 1) return df
    val nonEmpty = df.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1L else 0L),
        preservesPartitioning = true)
      .sum().toLong // first-row probe per split; bounded collect
    if (nonEmpty != 1L) df
    else df.repartition(target, key)
  }

  /** Exact dedup: keep the first row per key set, "first" = smallest
    * (orderCols) tuple. One hash shuffle on the keys. Same semantics as the
    * reference's per-key ValueState first-wins dedup, batch form. */
  def exactFirst(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact content dedup by fingerprint: groups rows by md5(text); emits
    * one row per distinct content with the keeper id and copy count. */
  def exactByContent(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(Text.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(s"keeper_$idCol"), count(lit(1)).as("n_copies"))

  /** The per-permutation MinHash family — classic double hashing over
    * the ENGINE-PORTABLE md5 pair ([[graft.functions.Text.md5Pair64]]):
    * h_k(s) = (md5_upper(s) + k · md5_lower(s)) mod 2^63. On the JVM
    * that is wrapped Long arithmetic masked to 63 bits (2^63 divides
    * 2^64, so the mask IS the exact mod); in the DuckDB oracle it is
    * exact HUGEINT arithmetic `% 9223372036854775808` over
    * `md5_number_upper/lower` — bit-identical on both engines, which is
    * what moved q_dedup_minhash / q_dedup_cluster_minhash /
    * q_group_similarity onto the driver's hard rows+schema+hash oracle
    * (round 12; one md5 per shingle replaces 32 seeded xxhashes, so the
    * signature pass also got cheaper). Hash values live in [0, 2^63);
    * the shingle-less sentinel stays `Long.MaxValue` = 2^63−1, the
    * family's maximum, preserving min-semantics. */
  private[graft] def hashSeeded(s: String, seed: Long): Long = {
    val (a, b) = graft.functions.Text.md5Pair64(s)
    (a + seed * b) & Long.MaxValue
  }

  /** Column-level engine-portable 64-bit string hash in [0, 2^63) —
    * [[hashSeeded]] at seed 1, i.e. `(md5_upper + md5_lower) mod 2^63`,
    * mirrored in DuckDB as
    * `(md5_number_upper(s)::HUGEINT + md5_number_lower(s)::HUGEINT) %
    * 9223372036854775808` (the same algebra the minhash oracle pins
    * cross-engine). Used where an oracle-checked query needs a hash
    * COLUMN (winnowing fingerprints, source-overlap shingle keys)
    * rather than the fused signature pass. */
  val portableHash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) => hashSeeded(s, 1L) }

  /** Distinct token n-gram shingles, fused into one JVM pass per row.
    * (The pure-SQL `transform(sequence…)` composition evaluates interpreted
    * per element — higher-order functions are not codegen'd — and gets
    * re-inlined into every consumer expression; a single UDF pass is ~30×
    * faster at the signature step and stays a narrow map at any scale.) */
  def shingleSet(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String]) =>
      if (toks == null || toks.length < n) Seq.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toVector.distinct
    }

  /** Positional (NON-distinct) n-gram windows — one entry per window
    * position, duplicates kept: the unit of the boilerplate-mass census
    * ([[graft.Queries.q_boilerplate]]), where a doc repeating a hot
    * phrase 10× owes 10 window positions, not 1 distinct shingle.
    * Same single-UDF-pass rationale as [[shingleSet]]. */
  def shingleList(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String]) =>
      if (toks == null || toks.length < n) Seq.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toVector
    }

  /** Fused MinHash + banding: one JVM pass tokens → distinct shingles →
    * `numHashes` min-hashes → `bands` band-bucket keys.
    * Returns struct(sig array<bigint>, buckets array<bigint>).
    * Empty shingle set → all-MaxValue signature and NO band buckets
    * (empty array): degenerate docs must never become near-dup
    * candidates of each other, and at scale a shared constant bucket
    * would be a quadratic skew bomb. Bucket key is the md5-upper hash
    * of "<band>:<slice values>" — the band index is part of the hashed
    * string, so distinct bands never collide, and the whole chain
    * (shingle → per-seed min → bucket) replays in the DuckDB oracle
    * through md5_number_upper/lower (see [[hashSeeded]]). */
  def minhashBanded(shingleN: Int, numHashes: Int, bands: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    udf { (toks: Seq[String]) =>
      val sig = Array.fill(numHashes)(Long.MaxValue)
      val hasShingles = toks != null && toks.length >= shingleN
      if (hasShingles) {
        val seen = new java.util.HashSet[String]()
        var i = 0
        val sb = new StringBuilder
        while (i <= toks.length - shingleN) {
          sb.clear()
          var j = 0
          while (j < shingleN) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j)); j += 1
          }
          val sh = sb.toString
          if (seen.add(sh)) {
            // one md5 per shingle; h_k = (a + k·b) mod 2^63 by
            // incremental wrapped adds (see hashSeeded's contract)
            val (a, bb) = graft.functions.Text.md5Pair64(sh)
            var k = 0
            var hAcc = a
            while (k < numHashes) {
              val h = hAcc & Long.MaxValue
              if (h < sig(k)) sig(k) = h
              hAcc += bb
              k += 1
            }
          }
          i += 1
        }
      }
      val buckets =
        if (!hasShingles) Array.empty[Long]
        else Array.tabulate(bands) { b =>
          // bucket key = md5_upper("<band>:<v0>,<v1>,…") mod 2^63 —
          // the band slice's identity hashed through the SAME portable
          // family, so the DuckDB oracle rebuilds the exact bucket ids
          val bsb = new StringBuilder
          bsb.append(b).append(':')
          var r = 0
          while (r < rows) {
            if (r > 0) bsb.append(',')
            bsb.append(sig(b * rows + r)); r += 1
          }
          graft.functions.Text.md5Upper64(bsb.toString) & Long.MaxValue
        }
      (sig.toSeq, buckets.toSeq)
    }
  }

  /** MinHash signature table: docs → one row per doc of
    * (id, sig array<bigint>, buckets array<bigint>) — the fused
    * shingle/minhash/band UDF evaluated in ONE narrow JVM pass.
    *
    * This is the relation to materialize (`localCheckpoint`/cache) when
    * more than one consumer needs it: the UDF is the expensive step, and
    * a lazily shared plan re-evaluates it once per differently-projected
    * subtree. Every downstream minhash operator derives from this table;
    * the wide `sig` array never has to ride a band-explode shuffle
    * ([[minhashCandidateIds]] keeps the explode sig-free). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 32,
                        bands: Int = 8): DataFrame = {
    val mh = minhashBanded(shingleN, numHashes, bands)
    // fanOut (r17): the fused shingle→minhash UDF is the CPU cost of the
    // signature pass; spread a byte-small under-partitioned scan first
    fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), mh(Text.tokens(col(textCol))).as("mh"))
      .select(col(idCol), col("mh._1").as("sig"), col("mh._2").as("buckets"))
  }

  /** LSH candidate id pairs: docs sharing ≥1 band bucket, `id_a < id_b`,
    * distinct. The band relation exploded here is the NARROW
    * (id, band, bucket) triple — the 32-long signature array stays out of
    * the ×`bands` explode and its shuffle entirely; shingle-less docs
    * have an empty bucket array (see [[minhashBanded]]) and simply
    * produce no band rows, so they can never become candidates. The only
    * shuffle is the band-bucket hash join, whose key cardinality grows
    * with corpus size, so it stays balanced at scale. */
  def minhashCandidateIds(sigs: DataFrame, idCol: String): DataFrame = {
    val bandRel = sigs.select(col(idCol),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val a = bandRel.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val b = bandRel.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Candidate near-dup pairs with the signature-estimated Jaccard.
    * Candidates come sig-free from [[minhashCandidateIds]]; the signature
    * arrays join back onto the (already distinct, LSH-bounded) pair list
    * only for the estimate — pass a materialized `sigs`
    * ([[minhashSignatures]] + `localCheckpoint`) so the signature UDF
    * runs once, not once per projection. */
  def minhashCandidatePairs(sigs: DataFrame, idCol: String): DataFrame = {
    val ids = minhashCandidateIds(sigs, idCol)
    val sa = sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b"))
    ids.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq))
          .cast("double") / size(col("sig_a"))).as("est_jaccard"))
  }

  /** Exact token-n-gram Jaccard of two token arrays, fused in one JVM
    * pass — the confirm step of the scale-path near-dup pipeline, run
    * ONLY on LSH candidate pairs (never all-pairs). */
  def pairJaccard(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Seq[String], b: Seq[String]) =>
      def sh(t: Seq[String]): Set[String] =
        if (t == null || t.length < n) Set.empty[String]
        else t.sliding(n).map(_.mkString(" ")).toSet
      val sa = sh(a); val sb = sh(b)
      if (sa.isEmpty && sb.isEmpty) 0.0
      else {
        val inter = sa.intersect(sb).size
        inter.toDouble / (sa.size + sb.size - inter)
      }
    }

  /** The composed 100 TB near-dup dedup recipe, end to end:
    * MinHash+LSH candidate generation → EXACT n-gram Jaccard confirm on
    * the candidates only → [[connectedComponents]] over confirmed pairs →
    * [[keepCanonical]]. Returns the surviving documents.
    *
    * Scale shape: the signature table is one narrow UDF pass
    * (materialized once via localCheckpoint — ~300 B/doc); candidate
    * generation shuffles only (id, band, bucket); the token arrays are
    * joined onto the LSH-bounded candidate list, so exact-Jaccard work is
    * proportional to candidates, not corpus². Approximation caveat (by
    * construction of LSH): a pair whose bands all miss is never
    * confirmed even if its exact Jaccard clears `threshold` — with 8
    * bands of 4 rows, P(candidate) = 1-(1-j⁴)⁸ (≈0.4 at j=0.5, ≈0.97 at
    * j=0.8) — so clusters can split vs exact clustering near the
    * threshold; raise `bands` (lower rows-per-band) for higher recall. */
  def clusterByMinhash(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleN: Int = 3,
                       numHashes: Int = 32, bands: Int = 8): DataFrame =
    // the clustering pins its edge list from the pairs eagerly, so the
    // signatures the pairs were built from are released once it returns
    Checkpoints.scoped(docs.sparkSession)(pins => keepCanonical(docs,
      pins.hold(minhashConfirmedPairs(docs, idCol, textCol, threshold,
        shingleN, numHashes, bands)), idCol))

  /** The confirmed near-dup PAIR relation behind [[clusterByMinhash]]
    * (LSH candidates → exact-Jaccard confirm, id_a < id_b) — exposed so
    * profile reports ([[graft.Queries.q_dup_cluster_histogram]]) can
    * read the link structure without re-deriving the collapse. */
  def minhashConfirmedPairs(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double, shingleN: Int = 3,
                            numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val sigs = Checkpoints.pin(
      minhashSignatures(docs, idCol, textCol, shingleN, numHashes, bands))
    val cand = minhashCandidateIds(sigs, idCol)
    val toks = docs.select(col(idCol), Text.tokens(col(textCol)).as("__toks"))
    cand
      .join(toks.select(col(idCol).as("id_a"), col("__toks").as("__toks_a")),
        Seq("id_a"))
      .join(toks.select(col(idCol).as("id_b"), col("__toks").as("__toks_b")),
        Seq("id_b"))
      .filter(pairJaccard(shingleN)(col("__toks_a"), col("__toks_b")) >= threshold)
      .select("id_a", "id_b")
  }

  /** SimHash dedup surface: per-doc 64-bit simhash plus the count of other
    * docs within `maxHamming` bits, found via block-key candidate join:
    * split the signature into 4×16-bit blocks; by pigeonhole any pair with
    * hamming ≤ 3 shares ≥1 exact block, so the join is exhaustive for
    * maxHamming ≤ 3 (and standard-practice approximate above). No all-pairs
    * scan; the shuffle key is (block, blockval). */
  def simhashWithNeighbors(docs: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame = {
    // the (id, simhash) relation feeds three branches (both self-join
    // sides via `blocked` and the final outer join): materialize the
    // 16-byte-per-doc signatures once instead of recomputing the
    // tokenize+simhash scan per branch (census: was x3)
    val sigs = Checkpoints.pin(docs.select(col(idCol),
      Text.simhash64(Text.tokens(col(textCol))).as("simhash")))
    val blocked = sigs.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("block", "blockval")))
    val a = blocked.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("block"), col("blockval"))
    val b = blocked.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("block"), col("blockval"))
    val neigh = a.join(b, Seq("block", "blockval"))
      .filter(col("id_a") =!= col("id_b") &&
        Text.hamming64(col("sh_a"), col("sh_b")) <= maxHamming)
      .select("id_a", "id_b").distinct()
      .groupBy(col("id_a").as(idCol)).agg(count(lit(1)).as("n_near"))
    sigs.join(neigh, Seq(idCol), "left_outer")
      .select(col(idCol), col("simhash"), coalesce(col("n_near"), lit(0L)).as("n_near"))
  }

  /** Exact n-gram Jaccard top pairs via shingle inverted index:
    * explode distinct shingles → self-join on the 64-bit shingle hash
    * (shuffling 8-byte keys instead of strings; 27k+ distinct shingles →
    * collision-free in practice) → |A∩B| per pair → Jaccard from set
    * sizes. Common shingles are the skew risk: `maxDocFreq` drops
    * shingles appearing in more than that many docs — stopword-like
    * shingles carry no dedup signal but quadratic join cost. The default
    * is FINITE (1000): a shingle in >1000 docs contributes >500k join
    * pairs on its own, and a default must be scale-safe — pass
    * `Long.MaxValue` explicitly when exact Jaccard over every shingle is
    * required (the capped semantics stay exact whenever no shingle
    * exceeds the cap, and the oracle mirrors the cap either way). */
  def ngramJaccardTopPairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, topK: Int = 20,
                           maxDocFreq: Long = 1000L): DataFrame =
    ngramJaccardPairs(docs, idCol, textCol, n, maxDocFreq)
      .orderBy(desc("jaccard"), col("id_a"), col("id_b"))
      .limit(topK)

  /** All candidate pairs with exact n-gram Jaccard (no top-k cut) —
    * the input to threshold-based near-dup clustering
    * ([[connectedComponents]] / [[keepCanonical]]). Same inverted-index
    * plan and hot-shingle cap as [[ngramJaccardTopPairs]]. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, maxDocFreq: Long = 1000L): DataFrame = {
    // the raw inverted index feeds the hot-shingle census AND the capped
    // rebuild; the capped index feeds set sizes and BOTH self-join
    // sides. Materialize each once (same discipline as the MinHash
    // signature relation): the corpus is scanned and shingled exactly
    // once, where the unmaterialized plan re-ran the explode+hash up to
    // eight times (census-caught).
    val sh = Checkpoints.scoped(docs.sparkSession) { pins =>
      val shRaw = shingleIndex(docs, idCol, textCol, n)
      if (maxDocFreq == Long.MaxValue) shRaw // already materialized
      else {
        // the census is the cap contract and must always run; its RESULT
        // (boilerplate shingles only) is tiny — checkpoint it so the
        // empty-census case (common: no shingle spans >maxDocFreq docs)
        // can skip the anti-join + full rematerialization of the index
        // outright, which is behavior-identical (anti-join against an
        // empty build side is the identity). Measured r17: saves one
        // full pass + checkpoint of the shingle relation per query.
        capHot(pins, shRaw, maxDocFreq)
      }
    }
    // set sizes must count the SAME shingle universe as the intersection:
    // uncapped → straight from the array (narrow, no shuffle); capped →
    // from the filtered inverted index, else Jaccard of docs containing
    // hot shingles is systematically underestimated
    val sizes =
      if (maxDocFreq == Long.MaxValue)
        docs.select(col(idCol).as("id"),
          size(shingleSet(n)(Text.tokens(col(textCol)))).as("set_size"))
      else sh.groupBy("id").agg(count(lit(1)).as("set_size"))
    val common = sh.as("a").join(sh.as("b"), Seq("sh"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    // no broadcast hint: `sizes` is corpus-cardinality (one row per doc),
    // unbounded at scale — let Catalyst/AQE broadcast only when it fits
    common
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("sa.set_size") + col("sb.set_size") - col("common")).cast("double"))
          .as("jaccard"))
  }

  /** The pinned (id, sh) inverted index of `docs`' distinct n-gram
    * shingles, one scan of the corpus; the caller owns the pin. */
  private def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    Checkpoints.pin(fanOut(docs.select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"),
        explode(shingleSet(n)(Text.tokens(col(textCol)))).as("sh_str"))
      .select(col("id"), xxhash64(col("sh_str")).as("sh")))

  /** `shRaw` without the shingles in more than `maxDocFreq` docs: the
    * census is pinned and released with `pins`; an empty census returns
    * `shRaw` itself, else the capped index is pinned for the caller and
    * `shRaw`, superseded, is released with `pins`. */
  private def capHot(pins: Checkpoints.Pins, shRaw: DataFrame,
                     maxDocFreq: Long): DataFrame = {
    val hot = pins.hold(Checkpoints.pin(shRaw.groupBy("sh")
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDocFreq).select("sh")))
    if (hot.isEmpty) shRaw
    else Checkpoints.pin(pins.hold(shRaw).join(broadcast(hot), Seq("sh"), "left_anti"))
  }

  /** Directed n-gram CONTAINMENT pairs — near-superset detection, the
    * asymmetric sibling of [[ngramJaccardPairs]]: containment(a ⊆ b) =
    * |shingles(a) ∩ shingles(b)| / |shingles(a)|, emitted for every
    * ordered pair at or above `minContainment`. Jaccard misses the
    * quote/extract relationship (a short doc fully contained in a long
    * one scores low Jaccard but containment 1.0); dedup pipelines use
    * containment to collapse extract-of relationships the symmetric
    * score can't see. Same single-scan capped-inverted-index plan as
    * the Jaccard op: each unordered candidate pair's intersection is
    * computed ONCE, then both directed rows derive from it (a cheap
    * post-join projection, not a second self-join), and only pairs
    * sharing ≥1 surviving shingle are ever materialized — never
    * all-pairs, so the 100 TB shape is the same as the proven Jaccard
    * path. The division is a single IEEE op over exact integers,
    * bit-identical across engines; thresholding happens on the
    * UNROUNDED score.
    *
    * HASH-COLLISION CAVEAT (ADVICE r13, accepted): shingles are keyed
    * by Spark-side `xxhash64` while the DuckDB oracle compares raw gram
    * strings, so a 64-bit collision would merge two distinct grams here
    * and diverge from the oracle. P(any collision) ≈ n²/2⁶⁵ — ~3·10⁻⁸
    * at a billion DISTINCT surviving shingles — the same documented
    * risk class as the pre-existing `q_dedup_ngram`/`q_boilerplate`
    * xxhash64 keying; kept because an 8-byte join key (vs the raw gram
    * string) is the scale design, and the portable-md5 alternative
    * ([[portableHash64]], used where the HASH VALUE itself is
    * compared: winnowing, overlap-matrix) costs md5 per gram for no
    * behavioral difference short of a collision. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, maxDocFreq: Long = 1000L,
                            minContainment: Double = 0.8): DataFrame = {
    // same census-checkpoint + empty-census shortcut as
    // [[ngramJaccardPairs]] (r17): identical relation either way
    val sh = Checkpoints.scoped(docs.sparkSession)(pins =>
      capHot(pins, shingleIndex(docs, idCol, textCol, n), maxDocFreq))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("set_size"))
    val common = sh.as("a").join(sh.as("b"), Seq("sh"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    val withSizes = common
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), col("common"),
        col("sa.set_size").as("size_a"), col("sb.set_size").as("size_b"))
    val dirA = withSizes.select(col("id_a").as("id_in"),
      col("id_b").as("id_of"),
      (col("common").cast("double") / col("size_a").cast("double"))
        .as("containment"))
    val dirB = withSizes.select(col("id_b").as("id_in"),
      col("id_a").as("id_of"),
      (col("common").cast("double") / col("size_b").cast("double"))
        .as("containment"))
    dirA.unionAll(dirB).filter(col("containment") >= minContainment)
  }

  /** Winnowing selection (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * local fingerprint): one row per full w=4 window over each doc's
    * positional 5-gram hash sequence, carrying the doc's gram count and
    * the window's selected encoded key `h·2²¹ + (2²¹−1 − pos)` — min-h
    * with rightmost-pos tie-break as ONE arithmetic min (Decimal(38,0),
    * mirrored as HUGEINT in the DuckDB oracles). Shared by the census
    * ([[graft.Queries.q_winnowing]]), the matcher ([[winnowPairs]]) and
    * the scale probe. One positional explode + ONE doc-keyed shuffle
    * serving both window functions; docs are bounded-length, so the
    * per-doc sort is safe at any corpus size.
    *
    * HARD PER-DOC CAP: the pos field of the encoded key is 21 bits, so
    * a doc may carry at most 2²¹−1 = 2,097,151 gram positions (~2M
    * tokens). Beyond that, `2²¹−1 − pos` goes negative and borrows from
    * the hash field (decodes to h−1), silently corrupting the
    * rightmost-pos tie-break — so the cap FAILS LOUDLY here
    * (`assert_true` on npos, raised executor-side on the offending doc)
    * instead of degrading the winnowing local guarantee (ADVICE r13).
    * Callers with multi-million-token documents must chunk upstream. */
  def winnowSelection(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fanOut (r17): the positional gram explode + md5 hash chain is
    // CPU-bound; spread a byte-small under-partitioned scan first (the
    // id-hash partitioning also pre-satisfies the per-doc windows below)
    val keyed = fanOut(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("id"),
        posexplode(shingleList(5)(Text.tokens(col(textCol)))))
      .select(col("id"), col("pos").cast("long").as("pos"),
        portableHash64(col("col")).as("h"))
      .select(col("id"), col("pos"),
        (col("h").cast("decimal(38,0)") * lit(2097152L) +
          (lit(2097151L) - col("pos"))).as("k"))
    val byDoc = Window.partitionBy("id")
    keyed
      .withColumn("npos", count(lit(1)).over(byDoc))
      .filter(assert_true(col("npos") <= lit(2097151L),
        concat(lit("winnowSelection: doc "), col("id"), lit(" has "),
          col("npos"),
          lit(" gram positions > 2^21-1; the 21-bit encoded-key pos " +
            "field would corrupt the tie-break. Chunk the doc upstream.")))
        .isNull)
      .withColumn("wmin",
        min(col("k")).over(byDoc.orderBy("pos").rowsBetween(0, 3)))
      .filter(col("pos") <= col("npos") - 4)
      .select(col("id"), col("npos"), col("wmin"))
  }

  /** The distinct selected fingerprint HASHES per doc — [[winnowSelection]]
    * with the hash decoded from the encoded key by exact integer algebra
    * ((k − k mod 2²¹)/2²¹, engine-portable). The matching unit: positions
    * are local, hashes are what cross-doc comparison shares. */
  def winnowFingerprints(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    winnowSelection(docs, idCol, textCol)
      .select(col("id"),
        ((col("wmin") - col("wmin") % lit(2097152L)) / lit(2097152L))
          .cast("decimal(38,0)").cast("long").as("fh"))
      .distinct()

  /** The MOSS matching step: doc pairs sharing ≥ `minShared` distinct
    * selected fingerprint hashes, with the shared count and the
    * containment-style score vs the smaller selected set. Ubiquitous
    * fingerprints (> `maxDocFreq` docs — boilerplate) drop before the
    * self-join (the capped-inverted-index discipline), so per-key
    * fan-out is bounded and the join is never all-pairs; only the
    * winnowed ~2/(w+1) SAMPLE of grams is joined at all. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  maxDocFreq: Long = 1000L,
                  minShared: Long = 2L): DataFrame =
    winnowPairsFromFps(
      // feeds df cap, sizes and the join
      Checkpoints.pin(winnowFingerprints(docs, idCol, textCol)),
      maxDocFreq, minShared)

  /** [[winnowPairs]] from a PRECOMPUTED distinct (id, fh) selection —
    * the shared core that lets [[graft.sources.IO.winnowIngestSink]]
    * winnow each micro-batch ONCE and feed both the intra-batch pair
    * step and the index gate (one positional explode per batch, not
    * three). `sel` must be materialized by the caller (it feeds the df
    * cap, the sizes aggregate and both join sides). */
  private[graft] def winnowPairsFromFps(sel: DataFrame,
                                        maxDocFreq: Long = 1000L,
                                        minShared: Long = 2L): DataFrame = {
    val fps = {
      val hot = sel.groupBy("fh").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFreq).select("fh")
      sel.join(broadcast(hot), Seq("fh"), "left_anti")
    }
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("n_sel"))
    fps.as("a").join(fps.as("b"),
        col("a.fh") === col("b.fh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("sa.n_sel"), col("sb.n_sel")).cast("double"), 6)
          .as("score"))
  }

  /** Layout version of the persisted winnowing fingerprint index (v1 =
    * the engine-portable md5 hash family, k=5 grams, w=4 windows from
    * birth). The stamp exists so a future hash/k/w change fails loudly
    * on old indexes instead of silently never matching — the same
    * contract as [[NearDupLayoutVersion]]. */
  val WinnowLayoutVersion = 1

  /** The winnow index's [[BucketedIndex]] layout: (id, fh) rows under
    * `fps/`, bucketed by id hash, stamped. */
  private val WinnowIndex = BucketedIndex.Layout(xxhash64(col("id")),
    Seq("fps"), Some(BucketedIndex.Stamp("winnow", WinnowLayoutVersion,
      "its fingerprints were selected under a different hash/k/w and " +
        "would silently never match", "writeWinnowIndex")))

  /** Persisted winnowing fingerprint index — the MOSS matcher's serving
    * artifact: the distinct selected (id, fh) relation
    * ([[winnowFingerprints]]) in the id-bucketed [[BucketedIndex]]
    * layout, so takedown deletes rewrite only touched buckets. ~2/(w+1)
    * of the corpus gram count in 16 bytes/row — the compact substring
    * signature of the whole corpus. A corpus winnowing to nothing seeds
    * "no index yet". */
  def writeWinnowIndex(docs: DataFrame, idCol: String, textCol: String,
                       indexDir: String, storeBuckets: Int = 64): Unit =
    writeWinnowFps(winnowFingerprints(docs, idCol, textCol), indexDir,
      storeBuckets)

  /** [[writeWinnowIndex]] from a PRECOMPUTED distinct (id, fh)
    * selection — the overwrite sibling of [[appendWinnowFps]], for
    * callers that already hold the batch's fingerprints (the composed
    * corpus build winnows its survivors once and seeds the index from
    * the same pass). */
  private[graft] def writeWinnowFps(fps: DataFrame, indexDir: String,
                                    storeBuckets: Int = 64): Unit =
    BucketedIndex.seed(WinnowIndex, indexDir, storeBuckets, fps)

  /** Append newly admitted docs' selected fingerprints — batch-
    * proportional (winnow the BATCH, append its rows); a missing index
    * is the streaming cold start and this append seeds it. */
  def appendWinnowIndex(novel: DataFrame, idCol: String, textCol: String,
                        indexDir: String, storeBuckets: Int = 64): Unit =
    appendWinnowFps(winnowFingerprints(novel, idCol, textCol), indexDir,
      storeBuckets)

  /** [[appendWinnowIndex]] from a PRECOMPUTED distinct (id, fh)
    * selection — the shared core behind the single-winnow-pass ingest
    * sink (the sink already holds the batch's fingerprints; re-deriving
    * them from the novel docs would be a third winnow pass). */
  private[graft] def appendWinnowFps(novelFps: DataFrame, indexDir: String,
                                     storeBuckets: Int = 64): Unit =
    BucketedIndex.append(WinnowIndex, indexDir, storeBuckets, novelFps)

  /** Remove ids from the winnow index — the TAKEDOWN verb: the ids'
    * fingerprints leave, so future batches can no longer be flagged as
    * overlapping removed content ([[BucketedIndex.delete]]: delete ==
    * rebuild-without-those-ids, replay a no-op). Returns the touched
    * bucket ids. */
  def deleteFromWinnowIndex(ids: DataFrame, idCol: String,
                            indexDir: String): Seq[Long] =
    BucketedIndex.delete(WinnowIndex, indexDir,
      ids.select(col(idCol).as("id")))

  /** Match an ingest batch against the persisted winnow index: batch
    * docs sharing ≥ `minShared` selected fingerprint hashes with ANY
    * indexed doc, with the per-(batch, indexed) shared count and the
    * containment-style score vs the BATCH doc's selected size (how much
    * of the new doc is covered by indexed content — the admission
    * question). Ubiquitous hashes (> `maxDocFreq` indexed docs) drop
    * before the join, computed from a narrow fps-only aggregate
    * (vocabulary-bounded, two longs/row — never the corpus). Winnowing's
    * local guarantee transfers: a batch doc sharing any ≥8-token run
    * with an indexed doc shares a selected hash, so it cannot slip the
    * gate un-flagged unless that hash was df-capped. A re-ingested doc
    * whose old copy is still indexed matches it — correct for a gate
    * (it IS a duplicate of indexed content); take it down first to
    * re-admit. Cold start: missing index = no matches (the
    * [[nearDupAgainstIndex]] contract). Returns
    * (id, match_id, n_shared, score). */
  def matchAgainstWinnowIndex(batch: DataFrame, idCol: String,
                              textCol: String, indexDir: String,
                              maxDocFreq: Long = 1000L,
                              minShared: Long = 2L): DataFrame =
    matchFpsAgainstWinnowIndex(
      // feeds sizes + the match join
      Checkpoints.pin(winnowFingerprints(batch, idCol, textCol)),
      idCol, indexDir, maxDocFreq, minShared)

  /** [[matchAgainstWinnowIndex]] from a PRECOMPUTED distinct (id, fh)
    * batch selection (caller-materialized) — the shared core behind the
    * single-winnow-pass ingest sink. `n_shared` counts DISTINCT shared
    * hashes, so duplicate index rows (an at-least-once replayed
    * [[appendWinnowIndex]] after a torn sink batch) inflate nothing —
    * with distinct rows on both sides it is plan-identical to the plain
    * count. */
  private[graft] def matchFpsAgainstWinnowIndex(bsel: DataFrame,
                                                idCol: String,
                                                indexDir: String,
                                                maxDocFreq: Long = 1000L,
                                                minShared: Long = 2L): DataFrame = {
    val spark = bsel.sparkSession
    val sizes = bsel.groupBy("id").agg(count(lit(1)).as("n_sel"))
    val idx = BucketedIndex.read(spark, s"$indexDir/fps") match {
      case Some(rel) =>
        BucketedIndex.requireLayout(spark, indexDir, WinnowIndex)
        rel.select("id", "fh")
      case None =>
        return bsel.filter(lit(false))
          .select(col("id").as(idCol), col("id").as("match_id"),
            lit(0L).as("n_shared"), lit(0.0).as("score"))
    }
    val hot = idx.groupBy("fh").agg(countDistinct(col("id")).as("df"))
      .filter(col("df") > maxDocFreq).select("fh")
    idx.join(broadcast(hot), Seq("fh"), "left_anti").as("i")
      .join(bsel.as("b"), col("i.fh") === col("b.fh"))
      .groupBy(col("b.id").as("__bid"), col("i.id").as("match_id"))
      .agg(countDistinct(col("b.fh")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes, col("__bid") === sizes("id"))
      .select(col("__bid").as(idCol), col("match_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_sel").cast("double"), 6)
          .as("score"))
  }

  /** Benchmark decontamination — the pretraining hygiene pass: drop every
    * corpus document sharing ANY word n-gram with a probe/benchmark set
    * (eval-set leakage detection). The probe side is benchmark-sized —
    * orders of magnitude smaller than the corpus — so its distinct
    * shingle hashes broadcast into a left-semi probe of the corpus
    * inverted index: the corpus side is one narrow scan + explode with
    * NO shuffle of corpus data at any scale, then a semi-distinct on the
    * tiny contaminated-id set. n defaults to 5: long enough that natural
    * phrase reuse doesn't mass-flag, short enough to catch real overlap
    * (public decontamination pipelines use 8–13-gram windows on BPE
    * tokens; 5 word-grams is the same order of specificity). */
  def decontaminate(docs: DataFrame, probe: DataFrame, idCol: String,
                    textCol: String, n: Int = 5): DataFrame =
    docs.join(contaminatedIds(docs, probe, idCol, textCol, n),
      Seq(idCol), "left_anti")

  /** The contaminated-id relation behind [[decontaminate]] — exposed so
    * callers needing BOTH verdicts (the streaming ingest gate routes
    * survivors to the corpus and flagged docs to a quarantine audit)
    * compute the probe join once. Same plan: probe shingles broadcast,
    * one corpus-side narrow explode, semi-distinct on the tiny
    * contaminated-id set. */
  def contaminatedIds(docs: DataFrame, probe: DataFrame, idCol: String,
                      textCol: String, n: Int = 5): DataFrame = {
    def sh(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(shingleSet(n)(Text.tokens(col(textCol)))).as("sh_str"))
      .select(col("id"), xxhash64(col("sh_str")).as("sh"))
    val probeSh = sh(probe).select("sh").distinct()
    sh(docs)
      .join(broadcast(probeSh), Seq("sh"), "left_semi")
      .select(col("id").as(idCol)).distinct()
  }

  /** Bloom geometry shared by the Spark predicate and the DuckDB oracle:
    * k hash functions, `BloomBitsPerKey` bits per probe shingle — with
    * k = 7 and 32 bits/key the false-positive probability per corpus
    * shingle is (1 − e^(−7/32))^7 ≈ 8.6e-6, well inside the
    * conservative over-drop budget the old fpp=1e-3 filter carried.
    * Both are small integers so the filter SIZE m = 32·n is pure
    * integer arithmetic an oracle recomputes exactly — no float sizing
    * formula to diverge on. */
  val BloomK = 7
  val BloomBitsPerKey = 32L

  /** Zero-shuffle decontamination — the same hygiene pass as
    * [[decontaminate]] with the corpus-side inverted index replaced by a
    * broadcast Bloom filter: probe shingles (benchmark-sized, bounded)
    * build the bit set driver-side, and the corpus is filtered by ONE
    * narrow per-doc membership test — no explode, no join, no shuffle of
    * anything at any scale; the whole corpus pass is a predicate on the
    * scan. Bloom false positives can only OVER-drop (a clean doc flagged
    * contaminated only when all [[BloomK]] of one of its shingles'
    * positions collide) — the conservative direction for eval-leak
    * hygiene; the result is a subset of [[decontaminate]]'s output
    * (pinned in ScalePathSpec / ExemptBoundsSpec). Hard-oracle since
    * round 15 (converted from the exempt set): the bit positions are the
    * Kirsch–Mitzenmacher double-hash family `(md5_upper + i·md5_lower)
    * mod 2^63 mod m` — exact integer arithmetic a DuckDB oracle replays
    * bit-for-bit, INCLUDING the false positives (the r12 minhash move:
    * a deterministic sketch is just another relation). */
  def decontaminateBloom(docs: DataFrame, probe: DataFrame, idCol: String,
                         textCol: String, n: Int = 5): DataFrame =
    docs.filter(bloomKeepPredicate(probe, textCol, n))

  /** The KEEP predicate behind [[decontaminateBloom]], exposed as a
    * bare `Column` so composed pipelines
    * ([[CorpusBuild.buildCorpus]]) can wrap it in
    * [[Analytics.observedFilter]] — per-stage row accounting collected
    * on the SAME pass as the filter, no extra scan. Building the
    * predicate runs two probe-side actions: a distinct-shingle COUNT
    * (sizes the filter) and a distributed bit fold — every shingle's
    * [[BloomK]] positions are hashed EXECUTOR-side into per-partition
    * packed bit arrays that treeReduce OR-merges, so the only thing
    * that ever reaches the driver is the final Array[Long] of
    * m = [[BloomBitsPerKey]]·n bits = 4·n BYTES (a 100M-shingle
    * benchmark suite is 400 MB of bits on the driver and on the wire —
    * the raw shingle STRINGS never leave the executors; ADVICE r15).
    * Evaluating the predicate is the same narrow zero-shuffle
    * membership test. */
  def bloomKeepPredicate(probe: DataFrame, textCol: String,
                         n: Int = 5): org.apache.spark.sql.Column = {
    val (m, words) =
      Checkpoints.scoped(probe.sparkSession) { pin =>
        val probeSh = pin(probe // two actions (count + bit fold)
          .select(explode(shingleSet(n)(Text.tokens(col(textCol)))).as("sh_str"))
          .distinct())
        val nSh = probeSh.count() // benchmark-suite distinct shingles
        val mBits = BloomBitsPerKey * math.max(nSh, 1L)
        val nWords = ((mBits + 63) / 64).toInt
        val bits =
          if (nSh == 0L) new Array[Long](nWords)
          else probeSh.rdd.mapPartitions { it =>
            val w = new Array[Long](nWords)
            it.foreach { r =>
              val (a, b) = Text.md5Pair64(r.getString(0))
              var i = 0
              while (i < BloomK) {
                val pos = ((a + i * b) & Long.MaxValue) % mBits
                w((pos >>> 6).toInt) |= 1L << (pos & 63)
                i += 1
              }
            }
            Iterator.single(w)
          }.treeReduce({ (x, y) =>
            var i = 0; while (i < nWords) { x(i) |= y(i); i += 1 }; x
          }, depth = 2)
        (mBits, bits)
      }
    val bc = probe.sparkSession.sparkContext.broadcast(words)
    val shingle = shingleSet(n)
    val hasLeak = udf { (shs: Seq[String]) =>
      shs != null && shs.exists { s =>
        val (a, b) = Text.md5Pair64(s)
        var i = 0
        var all = true
        while (all && i < BloomK) {
          val pos = ((a + i * b) & Long.MaxValue) % m
          all = (bc.value((pos >>> 6).toInt) & (1L << (pos & 63))) != 0
          i += 1
        }
        all
      }
    }
    !hasLeak(shingle(Text.tokens(col(textCol))))
  }

  /** The fingerprint index's [[BucketedIndex]] layout: distinct fp
    * rows bucketed by `pmod(xxhash64(fp), n)`. */
  private val FingerprintIndex = BucketedIndex.Layout(xxhash64(col("fp")))

  /** Persisted exact-dedup fingerprint index: the distinct md5 fingerprints
    * of a corpus in the [[BucketedIndex]] layout. The steady-state
    * companion of [[dedupAgainstIndex]]: at 100 TB the corpus is deduped
    * ONCE, the index (16 bytes/distinct doc — orders of magnitude smaller
    * than the corpus) persists, and every subsequent ingest batch dedups
    * against the index instead of re-scanning history. The bucketed
    * layout exists for [[deleteFromFingerprintIndex]]. Reads are
    * unaffected (the partition column is dropped by the fp
    * projections). */
  def writeFingerprintIndex(docs: DataFrame, textCol: String,
                            indexDir: String, buckets: Int = 64): Unit =
    // r18 note: a fanOut before this md5 chain was A/B-measured WORSE
    // (q_dedup_incremental ON 1.63 / OFF 0.98): the seed's isEmpty
    // limit-1 probe cannot short-circuit through a repartition — it
    // would pay the full exchange, and the write pays it again. Kept
    // serial.
    BucketedIndex.seed(FingerprintIndex, indexDir, buckets,
      docs.select(Text.fingerprint(col(textCol)).as("fp")).distinct())

  /** Remove the fingerprints of `deletedDocs` from a persisted
    * fingerprint index — the TAKEDOWN verb of the lifecycle
    * (write/append/delete): opt-out content must leave every index that
    * references it, batch-proportionally. Contract: the index pairs with
    * a DEDUPED corpus (one surviving doc per fingerprint — exactly what
    * [[dedupAgainstIndex]] maintains), so a deleted doc's fingerprint
    * has no other owner and delete == rebuild-without-those-docs
    * (ScalePathSpec law; [[BucketedIndex.delete]]). Returns the touched
    * bucket ids. */
  def deleteFromFingerprintIndex(deletedDocs: DataFrame, textCol: String,
                                 indexDir: String): Seq[Long] =
    BucketedIndex.delete(FingerprintIndex, indexDir,
      deletedDocs.select(Text.fingerprint(col(textCol)).as("fp")))

  /** Append a new batch's fingerprints to the index — only fingerprints
    * not already present are written (anti-join keeps the index
    * distinct), and existing index files are never rewritten: the append
    * cost is proportional to the NEW batch, never the corpus history.
    * Re-running an append is a no-op, so a failed-then-retried append is
    * safe. Single-writer by contract: concurrent appenders could each
    * compute a delta against the same snapshot and both insert the same
    * fingerprint. A missing index is the cold start, seeded here. */
  def appendFingerprintIndex(docs: DataFrame, textCol: String,
                             indexDir: String, buckets: Int = 64): Unit = {
    val fps = docs.select(Text.fingerprint(col(textCol)).as("fp")).distinct()
    BucketedIndex.append(FingerprintIndex, indexDir, buckets,
      BucketedIndex.read(docs.sparkSession, indexDir)
        .fold(fps)(idx => fps.join(idx.select("fp"), Seq("fp"), "left_anti")))
  }

  /** Layout version of the persisted near-dup band index. v2 = the
    * engine-portable md5 hash family (round 12); v1 (unstamped) indexes
    * carry xxhash64-derived band buckets that new-hash band triples
    * would silently never join against — so every verb that touches an
    * EXISTING index checks the stamp and fails loudly on mismatch
    * (rebuild via [[writeNearDupIndex]] is the only safe migration). */
  val NearDupLayoutVersion = 2

  /** The near-dup index's [[BucketedIndex]] layout: `docs/` (id, toks)
    * and `bands/` (id, band, bucket), both bucketed by ID hash so a
    * takedown rewrites only the buckets holding the removed ids in each
    * (the LSH `bucket` column is a JOIN key, not the storage layout).
    * Every indexed id has a docs row, so `docs/` decides cold start and
    * the touched buckets for both relations. */
  private val NearDupIndex = BucketedIndex.Layout(xxhash64(col("id")),
    Seq("docs", "bands"), Some(BucketedIndex.Stamp("near-dup",
      NearDupLayoutVersion, "its band buckets were built with a different " +
        "hash (need the md5-portable family) — appends/deletes/lookups " +
        "would silently miss", "writeNearDupIndex")))

  /** The near-dup index's two relations for `docs`: (id, toks) and the
    * MinHash band triples (id, band, bucket). */
  private def nearDupRows(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, numHashes: Int,
                          bands: Int): Seq[DataFrame] =
    Seq(docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks")),
      minhashSignatures(docs, idCol, textCol, shingleN, numHashes, bands)
        .select(col(idCol).as("id"),
          posexplode(col("buckets")).as(Seq("band", "bucket"))))

  /** Persist a MinHash band index for INCREMENTAL near-dup dedup — the
    * fuzzy twin of [[writeFingerprintIndex]]. Two relations under
    * `indexDir`: `bands/` holds the narrow (band, bucket, id) triples
    * (LSH candidate lookup) and `docs/` holds (id, toks) (the exact-
    * Jaccard confirm side). At 100 TB the bands relation is ~8 rows/doc
    * of three scalars and the candidate join is a plain hash join on
    * (band, bucket) — never a scan of the corpus text. An empty corpus
    * seeds "no index yet". */
  def writeNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
                        indexDir: String, shingleN: Int = 3,
                        numHashes: Int = 32, bands: Int = 8,
                        storeBuckets: Int = 64): Unit =
    BucketedIndex.seed(NearDupIndex, indexDir, storeBuckets,
      nearDupRows(docs, idCol, textCol, shingleN, numHashes, bands): _*)

  /** Remove ids from a persisted near-dup index — the TAKEDOWN verb:
    * the ids' band triples and token arrays both leave the index, so
    * future batches can no longer be suppressed as near-dups of removed
    * content ([[BucketedIndex.delete]]: delete == rebuild-without-those-
    * ids, ScalePathSpec law). Returns the touched bucket ids. */
  def deleteFromNearDupIndex(ids: DataFrame, idCol: String,
                             indexDir: String): Seq[Long] =
    BucketedIndex.delete(NearDupIndex, indexDir,
      ids.select(col(idCol).as("id")))

  /** Incremental NEAR-dup dedup of an ingest batch against the persisted
    * band index: (1) intra-batch near-dup collapse via
    * [[clusterByMinhash]]+[[keepCanonical]] (work ∝ batch); (2) batch
    * band triples hash-join the index's `bands/` on (band, bucket) →
    * candidate (batch, indexed) pairs; (3) exact n-gram Jaccard over the
    * candidates only (token arrays join onto the bounded pair list);
    * batch docs within `threshold` of ANY indexed doc drop. Same LSH
    * recall caveat as [[clusterByMinhash]]: a true near-dup whose bands
    * all miss survives (P(candidate) = 1-(1-j^r)^b).
    *
    * Steady-state cost is proportional to the batch and its candidates —
    * the corpus text is touched only for candidate ids. Returns the
    * surviving batch rows.
    *
    * COLD START: a missing index (never seeded) is an empty index — the
    * batch passes intra-dedup only and the first [[appendNearDupIndex]]
    * creates the dirs. EXACTLY ONE of `bands/`/`docs/` existing is a
    * corrupt or half-written index and throws. A mistyped or unmounted
    * path is indistinguishable from cold start by construction; callers
    * that need fail-fast on misconfiguration should pre-seed with
    * [[writeNearDupIndex]]. */
  def nearDupAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
                          indexDir: String, threshold: Double,
                          shingleN: Int = 3, numHashes: Int = 32,
                          bands: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    // clusterByMinhash returns the intra-batch SURVIVORS directly.
    // localCheckpoint: `intra` feeds THREE consumers below (signatures,
    // token projection, final left-anti) — without it the whole
    // intra-batch LSH clustering subtree re-evaluates per consumer; the
    // clustering's own pins are released once it is pinned.
    val intra = Checkpoints.scoped(spark)(pins => Checkpoints.pin(pins.hold(
      clusterByMinhash(batch, idCol, textCol, threshold, shingleN, numHashes,
        bands))))
    val sigs = minhashSignatures(intra, idCol, textCol, shingleN, numHashes, bands)
    val batchBands = sigs.select(col(idCol).as("__bid"),
      posexplode(col("buckets")).as(Seq("band", "bucket")))
    val (idxBands, idxDocs) = (BucketedIndex.read(spark, s"$indexDir/bands"),
      BucketedIndex.read(spark, s"$indexDir/docs"))
    if (idxBands.isDefined != idxDocs.isDefined)
      throw new IllegalStateException(
        s"near-dup index at $indexDir is corrupt: bands=${idxBands.isDefined} " +
          s"docs=${idxDocs.isDefined} (cold start is BOTH missing; a seeded " +
          "index has both)")
    if (idxBands.isDefined)
      BucketedIndex.requireLayout(spark, indexDir, NearDupIndex)
    val batchToks = intra.select(col(idCol).as("__bid"),
      Text.tokens(col(textCol)).as("__btoks"))
    // empty-index fallbacks borrow the batch side's schema (same shape)
    val cand = batchBands.join(idxBands.getOrElse(batchBands
        .select(col("__bid").as("id"), col("band"), col("bucket")).limit(0)),
        Seq("band", "bucket"))
      .select(col("__bid"), col("id").as("__iid")).distinct()
    val idxToks = idxDocs.getOrElse(batchToks
        .select(col("__bid").as("id"), col("__btoks").as("toks")).limit(0))
      .select(col("id").as("__iid"), col("toks").as("__itoks"))
    val dropped = cand
      .join(batchToks, Seq("__bid"))
      .join(idxToks, Seq("__iid"))
      .filter(pairJaccard(shingleN)(col("__btoks"), col("__itoks")) >= threshold)
      .select(col("__bid").as(idCol)).distinct()
    intra.join(dropped, Seq(idCol), "left_anti")
  }

  /** Append surviving batch docs to the near-dup index — bands and token
    * arrays both, batch-proportional; a missing index is the streaming
    * cold start and this append seeds it ([[BucketedIndex.append]]). */
  def appendNearDupIndex(survivors: DataFrame, idCol: String, textCol: String,
                         indexDir: String, shingleN: Int = 3,
                         numHashes: Int = 32, bands: Int = 8,
                         storeBuckets: Int = 64): Unit =
    BucketedIndex.append(NearDupIndex, indexDir, storeBuckets,
      nearDupRows(survivors, idCol, textCol, shingleN, numHashes, bands): _*)

  /** Incremental exact dedup of an ingest batch against the persisted
    * fingerprint index: (1) intra-batch dedup — keep the minimum-id row
    * per fingerprint (one keyed shuffle over the BATCH only); (2) drop
    * rows whose fingerprint is already in the index (anti-join; the
    * index side is fingerprints only, so AQE broadcasts it while it
    * fits and degrades to a keyed shuffle — never a corpus scan). A
    * missing index is the cold start (intra-batch dedup only).
    * Returns the surviving batch rows; call [[appendFingerprintIndex]]
    * with the survivors afterwards to advance the index. */
  def dedupAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
                        indexDir: String): DataFrame = {
    // r18 note: a fanOut before this md5 pass was A/B-measured WORSE
    // (ON 1.80 / OFF 1.34 with the write-side fanOut already reverted):
    // the __fp window shuffle right below already spreads the work, so
    // the extra exchange only adds cost. Kept on the scan partitioning.
    val withFp = batch.withColumn("__fp", Text.fingerprint(col(textCol)))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    val intra = withFp
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    BucketedIndex.read(batch.sparkSession, indexDir).map(_.select("fp"))
      .fold(intra)(idx => intra.join(idx, withFp("__fp") === idx("fp"), "left_anti"))
      .drop("__fp", "__rn")
  }

  /** The first-seen gram index's [[BucketedIndex]] layout — (sh,
    * first_window) rows bucketed by `pmod(sh, n)`; the counted gram
    * ledger shares it. [[graft.sources.IO.noveltyAuditSink]] appends
    * in the same layout. */
  private[graft] val GramIndex = BucketedIndex.Layout(col("sh"))

  /** The first-seen fingerprint index's [[BucketedIndex]] layout —
    * (fp, first_window) rows bucketed by `pmod(xxhash64(fp), n)`;
    * [[graft.sources.IO.dupRateAuditSink]] appends in the same layout. */
  private[graft] val FpFirstSeenIndex = BucketedIndex.Layout(xxhash64(col("fp")))

  /** Batch seeder for the first-seen GRAM INDEX
    * ([[graft.sources.IO.noveltyAuditSink]]'s serving artifact — same
    * layout, so a sink started on a seeded index appends straight onto
    * it): the cold-start path a pipeline runs ONCE over its existing
    * corpus before pointing the live novelty monitor — or
    * [[noveltyAgainstGramIndex]] — at it. All grams stamp the caller's
    * `asOf` (they were first seen no later than the seed corpus). A
    * gram-less corpus seeds "no index yet". */
  def writeGramIndex(docs: DataFrame, textCol: String, indexDir: String,
                     asOf: java.sql.Timestamp,
                     buckets: Int = 64): Unit =
    BucketedIndex.seed(GramIndex, indexDir, buckets, docs
      .select(explode(shingleSet(3)(Text.tokens(col(textCol))))
        .as("sh_str"))
      .select(xxhash64(col("sh_str")).as("sh")).distinct()
      .withColumn("first_window", lit(asOf)))

  /** Batch seeder for the first-seen FINGERPRINT INDEX
    * ([[graft.sources.IO.dupRateAuditSink]]'s serving artifact — same
    * layout, so a sink started on a seeded index appends straight onto
    * it): the cold-start path a pipeline runs ONCE over its existing
    * corpus before pointing the live duplication-rate monitor at it —
    * after which every already-ingested content arriving again reads as
    * a duplicate instead of a fresh canonical. All fingerprints stamp
    * the caller's `asOf` (the [[writeGramIndex]] contract). */
  def writeFpFirstSeenIndex(docs: DataFrame, textCol: String,
                            indexDir: String, asOf: java.sql.Timestamp,
                            buckets: Int = 64): Unit =
    BucketedIndex.seed(FpFirstSeenIndex, indexDir, buckets,
      docs.select(md5(col(textCol)).as("fp")).distinct()
        .withColumn("first_window", lit(asOf)))

  /** TAKEDOWN verb for the first-seen FINGERPRINT INDEX — completes the
    * [[graft.sources.IO.dupRateAuditSink]] artifact's verb set
    * (seed / per-batch append / delete). Removes the content
    * fingerprints of `deletedDocs` from the census: the index is a
    * one-way fp → first_window map with no doc attribution, so a
    * content-level takedown means its fingerprint leaves the census
    * entirely — a re-arrival of the same content afterwards reads as a
    * FRESH canonical (stamped with its new window), exactly the rebuild
    * semantics (replaying the ingest without the deleted contents
    * yields this index, since each fp row is independent of every
    * other; [[BucketedIndex.delete]]). Returns the touched bucket ids. */
  def deleteFromFpFirstSeenIndex(deletedDocs: DataFrame, textCol: String,
                                 indexDir: String): Seq[Long] =
    BucketedIndex.delete(FpFirstSeenIndex, indexDir,
      deletedDocs.select(md5(col(textCol)).as("fp")))

  /** Per-doc MARGINAL NOVELTY of a batch against a persisted gram
    * index — the data-ACQUISITION diligence primitive: before paying
    * for (or crawling) a candidate corpus, measure how much of each
    * doc's gram mass the existing corpus doesn't already have.
    * Returns (id, n_grams, n_novel, novelty_ppm) — the
    * `q_ngram_novelty` row shape with "earlier doc" replaced by "the
    * index". Deliberately INDEPENDENT per doc: two batch docs sharing
    * a new gram both read it as novel (each doc's marginal value vs
    * the CORPUS is the question; intra-batch attribution is the batch
    * id's job, and the ingest sink's collapse handles admission).
    * Missing index = everything novel (the cold-start contract of
    * [[nearDupAgainstIndex]]). Scale shape: one explode, one
    * gram-keyed left join against the 8-byte-key columnar index, one
    * per-doc fold — the `q_dedup_ngram` shuffle class, never all-pairs. */
  def noveltyAgainstGramIndex(batch: DataFrame, idCol: String,
                              textCol: String,
                              gramIndexDir: String): DataFrame =
    noveltyAgainst(batch, idCol, textCol,
      BucketedIndex.read(batch.sparkSession, gramIndexDir))

  /** The per-doc novelty fold behind both gram-index probes: `known`
    * carries an `sh` column; None (cold start) makes every gram novel. */
  private def noveltyAgainst(batch: DataFrame, idCol: String,
                             textCol: String,
                             known: Option[DataFrame]): DataFrame = {
    val sh = batch
      .select(col(idCol),
        explode(shingleSet(3)(Text.tokens(col(textCol)))).as("sh_str"))
      .select(col(idCol), xxhash64(col("sh_str")).as("sh"))
    known.fold(sh.withColumn("__known", lit(null).cast("int"))) { k =>
        sh.join(k.select(col("sh")).distinct().withColumn("__known", lit(1)),
          Seq("sh"), "left")
      }
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__known").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        Analytics.halfUpPpm(col("n_novel"), col("n_grams")))
  }

  // ── reference-COUNTED gram index (round 15, VERDICT r14 missing #3) ──
  //
  // The plain first-seen gram index deliberately has no per-doc delete
  // (a one-way-hash census with no doc attribution — the documented
  // takedown position at [[graft.sources.IO.noveltyAuditSink]]). The
  // counted variant closes that gap WITHOUT storing attribution: the
  // index is an append-only SIGNED LEDGER of (sh, window_start, n_docs)
  // deltas — ingestion appends positive doc-counts, takedown appends
  // negative ones computed from the retired docs' own text (which the
  // takedown request carries), and the live view is the positive-sum
  // relation. Every verb's write cost is ∝ the batch's gram count,
  // never the index size; a gram whose surviving count hits zero leaves
  // the view, and one first seen only via retired docs re-attributes to
  // its earliest SURVIVING window — exactly rebuild semantics
  // (delete == rebuild law in ScalePathSpec). [[compactGramIndexCounted]]
  // folds the ledger back to one row per live (sh, window).

  /** Per-doc-distinct gram doc-counts of a corpus slice: (sh, n_docs).
    * `shingleSet` is per-doc DISTINCT, so the count counts docs. */
  private def gramDocCounts(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"),
        explode(shingleSet(3)(Text.tokens(col(textCol)))).as("sh_str"))
      .select(col("__id"), xxhash64(col("sh_str")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("n_docs"))

  /** Seed the counted gram index from an existing corpus admitted at
    * `asOf` — the [[writeGramIndex]] twin with doc-counts kept. */
  def writeGramIndexCounted(docs: DataFrame, idCol: String, textCol: String,
                            indexDir: String, asOf: java.sql.Timestamp,
                            buckets: Int = 64): Unit =
    BucketedIndex.seed(GramIndex, indexDir, buckets,
      gramDocCounts(docs, idCol, textCol).withColumn("window_start", lit(asOf)))

  /** Ledger-append one admitted batch (window `asOf`) to the counted
    * index. Cost ∝ the batch's gram count — the index is never read. */
  def appendGramIndexCounted(docs: DataFrame, idCol: String, textCol: String,
                             indexDir: String,
                             asOf: java.sql.Timestamp): Unit =
    BucketedIndex.append(GramIndex, indexDir, 64,
      gramDocCounts(docs, idCol, textCol).withColumn("window_start", lit(asOf)))

  /** Doc-level TAKEDOWN from the counted gram index: append NEGATED
    * doc-counts for the retired docs, at the window they were admitted
    * under (takedown provenance carries it; group multi-window
    * retirements into one call per window). No index read or rewrite —
    * the decrement is computed from the retired docs' text alone.
    * PRECONDITION (the fingerprint/near-dup delete-verb contract):
    * delete only docs actually admitted at `window`, once — the ledger
    * is signed arithmetic, so a double delete under-counts (replay
    * protection is the caller's marker discipline, as for every batch
    * verb here). */
  def deleteFromGramIndexCounted(docs: DataFrame, idCol: String,
                                 textCol: String, indexDir: String,
                                 window: java.sql.Timestamp): Unit =
    BucketedIndex.append(GramIndex, indexDir, 64,
      gramDocCounts(docs, idCol, textCol)
        .select(col("sh"), (-col("n_docs")).as("n_docs"))
        .withColumn("window_start", lit(window)))

  /** Live view of the counted ledger: one row per (sh, window_start)
    * with a POSITIVE surviving doc-count. */
  def liveGramIndexCounted(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String): DataFrame =
    graft.sources.IO.readArtifact(spark, indexDir)
      .groupBy("sh", "window_start")
      .agg(sum(col("n_docs")).as("n_docs"))
      .filter(col("n_docs") > 0L)

  /** The (sh, first_window) relation the UNCOUNTED index serves,
    * derived from the counted ledger's live view — earliest SURVIVING
    * window per gram, so the novelty sinks/probes can gate against a
    * takedown-capable index with unchanged semantics. */
  def firstSeenFromCounted(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String): DataFrame =
    liveGramIndexCounted(spark, indexDir)
      .groupBy("sh").agg(min(col("window_start")).as("first_window"))

  /** Per-doc marginal novelty of a candidate batch vs the counted
    * index — [[noveltyAgainstGramIndex]] with the known-gram set read
    * from the ledger's live view (a gram fully taken down is novel
    * again, exactly as a rebuild would read it). */
  def noveltyAgainstCountedGramIndex(batch: DataFrame, idCol: String,
                                     textCol: String,
                                     indexDir: String): DataFrame = {
    val spark = batch.sparkSession
    noveltyAgainst(batch, idCol, textCol,
      Option.when(BucketedIndex.exists(spark, indexDir))(
        liveGramIndexCounted(spark, indexDir)))
  }

  /** Fold the ledger to its live view on disk — one row per surviving
    * (sh, window), the delta/tombstone rows appends and takedowns
    * accumulate reclaimed. View-identical by construction
    * (ScalePathSpec law): every bucket is touched, the merged rows are
    * pinned before they overwrite their own input, and a bucket the
    * fold emptied is dropped ([[BucketedIndex.rewrite]]). */
  def compactGramIndexCounted(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String): Unit = {
    val b = graft.sources.IO.readBucketCount(spark, indexDir).getOrElse(64)
    val touched = graft.sources.IO.readArtifact(spark, indexDir)
      .select(col("__bucket").cast("long").as("__bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted // bounded: <= buckets ids
    // pin before overwriting the source path
    Checkpoints.scoped(spark)(pin => BucketedIndex.rewrite(GramIndex,
      pin(liveGramIndexCounted(spark, indexDir)
        .withColumn("__bucket", pmod(col("sh"), lit(b.toLong)))),
      indexDir, touched))
  }

  /** Connected components over an undirected pair list: every vertex gets
    * the MINIMUM id reachable through edges as its component label — the
    * canonical representative of its near-dup cluster.
    *
    * Each round does (1) min-label propagation — a vertex takes the
    * smallest label among itself and its neighbors (one join + one keyed
    * agg) — then (2) pointer jumping — `L(v) ← L(L(v))` (one self-join
    * on the label relation), the Shiloach–Vishkin shortcut that halves
    * chain depth every round. Combined rounds are O(log diameter), so
    * `maxIter` = 20 covers diameters up to ~2²⁰ — clique-like near-dup
    * graphs still converge in 2–3 rounds, and long-chain graphs no
    * longer degrade to O(diameter). Labels only ever decrease and every
    * label value is a live vertex id (min over reachable ids), so the
    * shortcut join always resolves. Each round's labels are
    * localCheckpoint-ed so the plan does not grow with iterations (the
    * classic iterative-Spark lineage bomb). */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIter: Int = 20,
                          localMaxEdges: Long = Graph.LocalFixpointMaxEdges)
      : DataFrame = {
    val e = pairs.select(col(idA).cast("long").as("src"),
      col(idB).cast("long").as("dst"))
    val (edges, nEdges) = Checkpoints.pinCounted(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    // measured-size strategy pick (Graph.LocalFixpointMaxEdges): below
    // the gate the component labeling runs as union-find in ONE executor
    // task — the min-label fixpoint is UNIQUE (every vertex → min
    // reachable id), so ANY correct algorithm produces the identical
    // relation and path parity is semantic, not numeric (DedupSpec law
    // forces the distributed loop via localMaxEdges = 0 to pin it).
    // The symmetrized relation holds 2 rows per undirected edge.
    if (nEdges / 2 <= localMaxEdges)
      return connectedComponentsOneTask(edges)
    // seed with round 1 already applied: from identity labels the first
    // propagation is exactly label = min(id, min neighbor id), which one
    // keyed agg over the edge list computes without the join — saves a
    // full join+agg+checkpoint round every run
    var labels = Checkpoints.pin(edges.groupBy("src")
      .agg(min("dst").as("nbr_min"))
      .select(col("src").as("id"),
        least(col("src"), col("nbr_min")).as("label")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(edges("src").as("nid")).agg(min("label").as("nbr_label"))
      // convergence is decided on the PROPAGATION step alone: an unchanged
      // propagation is exactly the all-neighbors-equal fixpoint, which is
      // the correct-labeling condition. Checking here (not after the
      // shortcut) lets the final round — every round, for a converged
      // clique-like graph — skip the pointer-jump self-join + checkpoint:
      // the jump is only an accelerator, never a correctness step.
      // The changed-count rides the CHECKPOINT materialization as an
      // `observe` metric instead of a second scan-the-labels action —
      // one Spark job per round, not two, which is what keeps the
      // driver-cadence cost of the loop down (iterative plans are
      // scheduled as many small jobs; every extra action per round
      // multiplies the loop's exposure to scheduling latency).
      val obs = org.apache.spark.sql.Observation(s"graft_cc_round_$iter")
      val propagated = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .observe(obs, sum(when(col("label") =!= col("old_label"), 1L)
          .otherwise(0L)).as("changed"))
        .transform(Checkpoints.pin)
      // sum over an empty relation is null → treat as converged
      converged = Option(obs.get("changed"))
        .forall(_.asInstanceOf[Long] == 0L)
      val prev = labels
      if (converged) {
        labels = propagated.select("id", "label")
      } else {
        // pointer jumping: adopt the label OF one's label — monotone
        // (L(x) ≤ x ⇒ L(L(v)) ≤ L(v)), the Shiloach–Vishkin shortcut
        // that halves chain depth every round, keeping the loop
        // O(log diameter) on long-chain graphs.
        val par = propagated.select(col("id").as("pid"), col("label").as("plabel"))
        val updated = Checkpoints.pin(
          propagated.join(par, propagated("label") === par("pid"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("plabel"), col("label"))).as("label")))
        Checkpoints.drop(propagated)
        labels = updated
      }
      Checkpoints.drop(prev)
      iter += 1
    }
    Checkpoints.drop(edges)
    // a maxIter exit without convergence means labels are TRUNCATED
    // propagation — silently plausible but wrong (a >maxIter-diameter
    // chain keeps distinct labels inside one component). NEVER return
    // them: fall back to the large-star/small-star formulation, whose
    // round count is O(log² n) regardless of diameter — the
    // pathological-graph path (crawl mirror chains) that min-label
    // cannot close within any practical maxIter.
    if (!converged) {
      Checkpoints.drop(labels)
      return connectedComponentsLogRounds(pairs, idA, idB)
    }
    labels
  }

  /** The single-task path of [[connectedComponents]]: path-halving
    * union-find over the symmetrized edge list in one executor task,
    * then each component relabeled to its minimum member id — exactly
    * the distributed loop's output contract. Not a driver collect: the
    * work runs in one EXECUTOR task and the result stays a distributed
    * relation. */
  private def connectedComponentsOneTask(edges: DataFrame): DataFrame =
    Graph.oneTask(edges.select("src", "dst"), "id", "label") {
      (it: Iterator[(Long, Long)]) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) {
            val p = parent(x)
            parent(x) = parent.getOrElse(p, p) // path halving
            x = parent(x)
          }
          x
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by min root: the final relabel pass needs roots, and
          // min-rooting keeps it a single find per vertex
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val keys = parent.keys.toArray
        keys.iterator.map(v => (v, find(v)))
    }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the formulation whose round count is O(log² n)
    * INDEPENDENT of graph diameter, used as the fallback when
    * [[connectedComponents]]' min-label loop hits `maxIter` (same
    * output contract: every vertex of the pair list labeled with its
    * component's minimum id).
    *
    * Both operations rewrite the edge set toward a union of stars
    * centered at component minima, and both are one keyed agg + one
    * join per round over the EDGE relation (never all-pairs):
    *  - large-star: every node u links its strictly-larger neighbors
    *    to m(u) = min(Γ(u) ∪ u) — long chains telescope;
    *  - small-star: every node links its smaller-or-equal neighbors
    *    (parent pointers) to that minimum — stars flatten.
    * At the fixpoint (edge set unchanged under both) every edge is
    * (leaf → component-min). Each round's edge set is
    * localCheckpoint-ed (lineage truncation) with its COUNT riding the
    * checkpoint as an `observe` metric; the exact set-equality test
    * (`except` — the one shuffle-bearing action) runs only when the
    * counts match, so a shrinking round costs one job and only a
    * candidate-fixpoint round pays for the exact comparison. */
  def connectedComponentsLogRounds(pairs: DataFrame, idA: String = "id_a",
                                   idB: String = "id_b",
                                   maxIter: Int = 50): DataFrame = {
    val e0 = pairs.select(col(idA).cast("long").as("src"),
      col(idB).cast("long").as("dst"))
    val vertices = Checkpoints.pin(e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct())
    // canonical orientation (src > dst), self-loops dropped; both star
    // ops preserve the orientation so rounds compare set-to-set
    var edges = Checkpoints.pin(e0.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct())

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src").as("u")).agg(min("dst").as("nbr_min"))
        .select(col("u"), least(col("u"), col("nbr_min")).as("m"))
      // emit (v, m(u)) for every neighbor v > u; v > u ≥ m keeps the
      // src > dst orientation and forbids self-loops by construction
      sym.filter(col("dst") > col("src"))
        .join(mins, sym("src") === mins("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // edges already point large→small: parent pointers
      val mins = e.groupBy(col("src").as("u")).agg(min("dst").as("m"))
      val relink = e.join(mins, e("src") === mins("u"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      relink.union(mins.select(col("u").as("src"), col("m").as("dst")))
        .distinct()
    }

    var iter = 0
    var converged = false
    var edgeCount = edges.count()
    while (!converged && iter < maxIter) {
      val obs = org.apache.spark.sql.Observation(s"graft_ccls_round_$iter")
      val next = Checkpoints.pin(smallStar(largeStar(edges))
        .observe(obs, count(lit(1)).as("n")))
      val nextCount = Option(obs.get("n"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      // fixpoint test: both relations are DISTINCT sets in the same
      // orientation, so equal count + empty one-sided difference ⇔ equal;
      // the except only runs on candidate-fixpoint rounds
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      val prev = edges
      edges = next
      edgeCount = nextCount
      Checkpoints.drop(prev)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsLogRounds did not converge within $maxIter " +
          "alternating star rounds — O(log² n) bound exceeded, graph or " +
          "input likely pathological")
    // stars: each non-center vertex has exactly one edge to its center;
    // centers (and isolated-in-pairs vertices) label themselves
    val leafLabels = edges.groupBy(col("src").as("lid")).agg(min("dst").as("label"))
    // pin the labeling BEFORE releasing its inputs: the main path also
    // returns a checkpointed relation, and a real block drop under a
    // lazy result would strand it (localCheckpoint lineage is truncated)
    val out = Checkpoints.pin(
      vertices.join(leafLabels, vertices("id") === leafLabels("lid"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label")))
    Checkpoints.drop(edges)
    Checkpoints.drop(vertices)
    out
  }

  /** INCREMENTAL connected components: fold a BATCH of new edges into
    * an existing (id, label) labeling without re-touching history — the
    * streaming/ingest twin of [[connectedComponents]], built on the
    * persisted-index discipline (fingerprint / near-dup-band / IVF):
    * steady-state work is proportional to the batch, never the corpus.
    *
    *   1. CONTRACT — each batch endpoint maps through the current
    *      labeling (two id-keyed joins; an unlabeled endpoint is a new
    *      node and stands for itself), yielding a batch-sized edge list
    *      over component REPRESENTATIVES;
    *   2. CLUSTER — [[connectedComponents]] over the contracted list
    *      (touched-components-sized, so its one-task gate almost always
    *      fires) emits the remap old-representative → new label;
    *   3. RELABEL — the labeling left-joins the remap on its label
    *      column (touched components rewrite, untouched pass through)
    *      and newly seen nodes append with their contracted label.
    *
    * Labels stay component MINIMA by construction: existing labels are
    * min-of-members, the contracted cluster takes the min over merged
    * representatives and new ids — min over mins is the global min. So
    * incremental == batch recompute EXACTLY (ScalePathSpec law:
    * folding batches one at a time equals [[connectedComponents]] over
    * the union). The relabel pass scans the labeling once per batch —
    * a node-sized narrow join (at 100 TB, partition the labeling by
    * hash(label) and rewrite only buckets the remap touches — the
    * [[graft.operators.Similarity.ivfAppendIndex]] layout). */
  def componentsMerge(labels: DataFrame, batch: DataFrame,
                      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val lab = labels.select(col("id").cast("long").as("id"),
      col("label").cast("long").as("label"))
    // the contraction and remap pins ride in the result (the caller
    // owns them); the clustering's own pins are released once the remap
    // is pinned
    Checkpoints.scoped(batch.sparkSession)(pins => mergeDelta(lab, batch,
      idA, idB, df => Checkpoints.pin(pins.hold(df)))._2(lab))
  }

  /** A merge's change to the labeling `lab`, in the form
    * [[commitComponents]] takes: the batch CONTRACTED through `lab`
    * (an unlabeled endpoint is a new node and stands for itself) and
    * CLUSTERED into the remap (old representative | new node) → label.
    * The touched labels are the old and new label of every changed
    * component and the new nodes' labels; the rewrite relabels a slice
    * of `lab` through the remap and adds the new nodes. `pin` pins the
    * contraction and the remap, both batch-sized. */
  private def mergeDelta(lab: DataFrame, batch: DataFrame, idA: String,
                         idB: String, pin: DataFrame => DataFrame)
      : (DataFrame, DataFrame => DataFrame) = {
    val e = batch.select(col(idA).cast("long").as("ea"),
      col(idB).cast("long").as("eb"))
    val contracted = pin(e
      .join(lab.select(col("id").as("ea"), col("label").as("la")),
        Seq("ea"), "left")
      .join(lab.select(col("id").as("eb"), col("label").as("lb")),
        Seq("eb"), "left")
      .select(coalesce(col("la"), col("ea")).as("id_a"),
        coalesce(col("lb"), col("eb")).as("id_b")))
    val remap = pin(connectedComponents(contracted))
    val changed = remap.where(col("id") =!= col("label"))
    val touched = changed.select(col("id").as("label"))
      .union(changed.select("label"))
      .union(remap.join(lab.select(col("id")), Seq("id"), "left_anti")
        .select("label"))
    // contracted endpoints are either existing LABELS (which are
    // themselves live node ids — the labeling invariant) or new node
    // ids: one anti-join against the id column isolates the new nodes
    val newNodes = contracted
      .select(col("id_a").as("id")).union(contracted.select(col("id_b").as("id")))
      .distinct()
      .join(lab.select(col("id")), Seq("id"), "left_anti")
      .join(remap, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    val relabel = remap.select(col("id").as("label"), col("label").as("__nl"))
    (touched, slice => slice.join(relabel, Seq("label"), "left")
      .select(col("id"), coalesce(col("__nl"), col("label")).as("label"))
      .unionByName(newNodes))
  }

  /** The bucketed components store's [[BucketedIndex]] layout: (id,
    * label) rows bucketed by `pmod(label, n)`. */
  private val ComponentsStore = BucketedIndex.Layout(col("label"))

  /** BUCKETED persisted components store — the layout that makes
    * [[componentsMerge]]'s relabel pass batch-proportional at 100 TB:
    * the (id, label) labeling lives in the label-bucketed
    * [[BucketedIndex]] layout, and a merge REWRITES ONLY the buckets
    * whose labels changed ([[commitComponents]]) instead of
    * snapshotting the whole labeling. Read side: the batch contraction
    * joins the full store by id (a hash join — reads prune nothing,
    * which is fine; the WIN is the write side, where history volume no
    * longer gets rewritten per batch). An empty labeling seeds "no
    * store yet", which [[readComponentsStore]] reads as empty. */
  def writeComponentsStore(labels: DataFrame, dir: String,
                           buckets: Int = 64): Unit = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    BucketedIndex.seed(ComponentsStore, dir, buckets,
      labels.select(col("id").cast("long").as("id"),
        col("label").cast("long").as("label")))
  }

  /** Load the full labeling from a store of either layout (drops the
    * bucket column — it is derivable). The schema is DECLARED, not
    * inferred. The store reads from where
    * [[graft.sources.IO.replacedPath]] says; with neither the live dir
    * nor the `_bak` a torn swap leaves, it is the cold start and reads
    * empty. */
  def readComponentsStore(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("label", LongType)))
    graft.sources.IO.replacedPath(spark, dir) match {
      case Some(live) =>
        spark.read.schema(schema).parquet(live).select(col("id"), col("label"))
      case None => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }
  }

  /** The store's labeling, one row per id. Dynamic partition overwrite
    * is only per-partition atomic, so a crash between a bucketed
    * commit's new-label and old-label bucket writes can leave one id in
    * two buckets with different labels. Replayed batches converge the
    * LABELS but would never remove the duplicate ROW; folding to
    * min(label) here makes every merge and delete read a clean labeling
    * and physically repairs the duplicate whenever its bucket rewrites. */
  private def storeLabels(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    readComponentsStore(spark, dir).groupBy("id").agg(min("label").as("label"))

  /** The one commit of the store's merge and delete. `rewrite` maps a
    * slice of the store's labeling `lab` that holds every `touched`
    * label's rows to the rows replacing it. A flat store (`buckets`
    * None) is replaced whole by the rewrite of `lab`
    * ([[graft.sources.IO.replace]]). A bucketed one rewrites only the
    * buckets of the touched labels — rows move buckets when their
    * component's new minimum hashes elsewhere, so these are the old and
    * new labels of every changed component — from the rewrite of their
    * rows, pinned with `pin`. Returns the touched bucket ids (none for
    * a flat store); a delta touching none writes nothing. */
  private def commitComponents(pin: DataFrame => DataFrame, dir: String,
                               lab: DataFrame, touched: DataFrame,
                               rewrite: DataFrame => DataFrame,
                               buckets: Option[Long]): Seq[Long] =
    buckets match {
      case None =>
        graft.sources.IO.replace(rewrite(lab), dir, "componentsStore")
        Seq.empty
      case Some(n) =>
        val bkt = pmod(col("label"), lit(n))
        val ids = touched.select(bkt).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted // bounded: <= n ids
        if (ids.nonEmpty)
          BucketedIndex.rewrite(ComponentsStore,
            pin(rewrite(lab.where(bkt.isin(ids: _*))).withColumn("__bucket", bkt)),
            dir, ids)
        ids
    }

  /** Fold `batch` into the store at `dir` ([[mergeDelta]], then
    * [[commitComponents]]); every block it pins is released on every
    * exit, the replayed no-op batch's included. */
  private def mergeStore(batch: DataFrame, dir: String, idA: String,
                         idB: String, buckets: Option[Long]): Seq[Long] =
    Checkpoints.scoped(batch.sparkSession) { pin =>
      val lab = storeLabels(batch.sparkSession, dir)
      val (touched, rewrite) = mergeDelta(lab, batch, idA, idB, pin)
      commitComponents(pin, dir, lab, touched, rewrite, buckets)
    }

  /** Fold a batch of edges into the bucketed store IN PLACE: same
    * semantics as [[componentsMerge]] (ScalePathSpec pins relation
    * equality), but only the touched label-buckets rewrite. Returns the
    * touched bucket ids (the cost witness the spec asserts on — and
    * that untouched bucket directories stay byte-identical). */
  def mergeIntoComponentsStore(batch: DataFrame, dir: String,
                               idA: String = "id_a", idB: String = "id_b",
                               buckets: Int = 64): Seq[Long] =
    mergeStore(batch, dir, idA, idB, Some(graft.sources.IO.readBucketCount(
      batch.sparkSession, dir).getOrElse(buckets).toLong))

  /** Measured-size gate for the components-store write strategy
    * (BASELINE.md "components store gate"): below this labeling size
    * the BUCKETED store's fixed costs dominate — BASELINE.md's Round-10
    * "bucketed-components rewrite volume" row measured the
    * touched-buckets path 3.4× SLOWER in wall time at a
    * 4M-node labeling (3.1 s flat vs 10.7 s bucketed: fixed
    * dynamic-overwrite machinery + 256-partition listing overhead)
    * even though it writes 3.7× fewer bytes. Flat write throughput in
    * that run was ~1.3M rows/s, so the ~7.6 s fixed overhead buys
    * roughly a 10M-row flat rewrite — the crossover estimate this
    * default records. Same discipline as
    * [[Graph.LocalFixpointMaxEdges]]: strategy picks by measured size,
    * not by caller guesswork. */
  val ComponentsStoreMaxFlatRows: Long = 10L * 1000 * 1000

  /** What [[mergeComponentsStore]] did: which route ran and (bucketed
    * route only) which label-buckets rewrote. */
  case class ComponentsMergeReport(route: String, touchedBuckets: Seq[Long])

  private def storeIsBucketed(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Boolean = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(base) &&
      fs.listStatus(base).exists(_.getPath.getName.startsWith("__bucket="))
  }

  /** SIZE-GATED components-store merge — the entry point
    * [[graft.sources.IO.componentsStoreSink]] folds batches through:
    * labelings at or below `maxFlatRows` route through a FLAT snapshot
    * rewrite ([[swapMergeComponents]] — cheaper than the
    * bucketed machinery below the gate, measured in BASELINE.md's
    * Round-10 "bucketed-components rewrite volume" row), larger ones through the bucketed
    * touched-partitions-only [[mergeIntoComponentsStore]], converting a
    * flat store to the bucketed layout once when it first crosses the
    * gate. Both routes produce the IDENTICAL labeling (the min-label
    * fixpoint is unique — ScalePathSpec law); the gate only picks the
    * write strategy. Gate reads the CURRENT store's row count — one
    * column-pruned scan, the price of not making the caller guess.
    * Both full rewrites (the flat route, and the one-time conversion)
    * replace the store ([[graft.sources.IO.replace]]). */
  def mergeComponentsStore(batch: DataFrame, dir: String,
                           idA: String = "id_a", idB: String = "id_b",
                           buckets: Int = 64,
                           maxFlatRows: Long = ComponentsStoreMaxFlatRows)
      : ComponentsMergeReport = {
    val spark = batch.sparkSession
    val storeRows = readComponentsStore(spark, dir).count()
    if (storeRows > maxFlatRows) {
      if (!storeIsBucketed(spark, dir))
        // one-time layout conversion at the gate crossing: seed the
        // bucketed layout beside the flat store and swap it in, then
        // merge touched-buckets-only
        graft.sources.IO.replaceWith(spark, dir, "componentsStore")(
          BucketedIndex.seed(ComponentsStore, _, buckets,
            readComponentsStore(spark, dir)))
      ComponentsMergeReport("bucketed",
        mergeIntoComponentsStore(batch, dir, idA, idB, buckets))
    } else {
      // the replacement is the whole dir, so a previously bucketed
      // store below the gate converges back to the flat layout
      swapMergeComponents(batch, dir, idA, idB)
      ComponentsMergeReport("flat", Seq.empty)
    }
  }

  /** The flat components store's merge, shared by the flat route of
    * [[mergeComponentsStore]] and [[graft.sources.IO.componentsSink]]:
    * [[componentsMerge]]'s fold, committed by replacing the labeling. */
  private[graft] def swapMergeComponents(batch: DataFrame, dir: String,
                                         idA: String, idB: String): Unit =
    mergeStore(batch, dir, idA, idB, None)

  /** Remove nodes from a persisted components store — the TAKEDOWN verb
    * of the components lifecycle. Deleting a node can SPLIT its
    * component (it may have been the only bridge), so the store alone
    * cannot answer the new labeling: the caller supplies the current
    * EDGE relation and the affected components are re-solved from their
    * surviving edges. Work shape:
    *
    *   1. affected labels = components containing a deleted id (≤ |ids|
    *      labels — takedown batches are small by nature);
    *   2. surviving members of those components (store semi-join —
    *      affected-components-sized);
    *   3. surviving edges INSIDE those components (both endpoints
    *      surviving members — one edge-relation scan with two hash
    *      semi-joins; the read side is edge-proportional, the same
    *      honest posture as the merge's full-store contraction read:
    *      the WIN is the write side);
    *   4. [[connectedComponents]] over that affected-only edge set
    *      (touched-components-sized, so the one-task gate usually
    *      fires); members with no surviving edge keep themselves;
    *   5. [[commitComponents]] swaps the affected components' rows for
    *      the members' new labels: touched buckets only on a bucketed
    *      store, a replace of a flat one.
    *
    * delete == rebuild-without-those-nodes exactly (ScalePathSpec law:
    * the min-label fixpoint over the surviving graph is unique); a
    * replayed delete finds no affected labels and writes nothing.
    * Returns touched bucket ids (empty for the flat route / no-op).
    * Every block it pins is released on every exit. Single writer by
    * contract. */
  def deleteFromComponentsStore(ids: DataFrame, edges: DataFrame, dir: String,
                                idA: String = "id_a", idB: String = "id_b",
                                buckets: Int = 64): Seq[Long] = {
    val spark = ids.sparkSession
    val b = graft.sources.IO.readBucketCount(spark, dir).getOrElse(buckets)
    Checkpoints.scoped(spark) { pin =>
      val del = pin(ids.select(ids.columns.head).toDF("id")
        .select(col("id").cast("long").as("id")).distinct())
      val lab = storeLabels(spark, dir)
      val affected = pin(lab.join(del, Seq("id"), "left_semi")
        .select("label").distinct())
      if (affected.isEmpty) Seq.empty // replay / unknown ids
      else {
        val members = pin(lab.join(affected, Seq("label"), "left_semi")
          .join(del, Seq("id"), "left_anti").select("id"))
        val e = edges.select(col(idA).cast("long").as("ea"),
          col(idB).cast("long").as("eb"))
        val affEdges = e
          .join(members.select(col("id").as("ea")), Seq("ea"), "left_semi")
          .join(members.select(col("id").as("eb")), Seq("eb"), "left_semi")
          .select(col("ea").as("id_a"), col("eb").as("id_b"))
        val relab = pin(connectedComponents(affEdges))
        val newRows = members.join(relab, Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        // rows of affected components (deleted ids included) give way to
        // newRows; cohabitants of the touched buckets pass through
        commitComponents(pin, dir, lab,
          affected.union(newRows.select("label")),
          _.join(affected, Seq("label"), "left_anti").select("id", "label")
            .unionByName(newRows),
          if (storeIsBucketed(spark, dir)) Some(b.toLong) else None)
      }
    }
  }

  /** Keep one canonical document per near-dup cluster: the member with
    * the minimum id survives; documents in no pair keep themselves. The
    * training-data dedup endgame — pairs from any detector
    * ([[ngramJaccardPairs]], MinHash bucket-join, embedding near-dup)
    * feed the same clustering. */
  def keepCanonical(docs: DataFrame, pairs: DataFrame, idCol: String,
                    idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val cc = connectedComponents(pairs, idA, idB)
      .withColumnRenamed("id", idCol)
    docs.join(cc, Seq(idCol), "left")
      .filter(col("label").isNull || col("label") === col(idCol))
      .drop("label")
  }

  /** Fuzzy (edit-distance) near-match pairs with BLOCKING — the entity-
    * resolution shape: names/titles that differ by typos are the dup
    * class Jaccard shingles miss on short strings. A raw all-pairs
    * `levenshtein` is O(n²); the operator equi-joins on `blockCols`
    * first (a natural partition key — brand, source, zip prefix — the
    * standard blocking step), prunes by the length-difference lower
    * bound (|len(a)−len(b)| > maxDist ⇒ distance > maxDist, a cheap
    * codegen predicate ahead of the DP), and only then runs Spark's
    * builtin `levenshtein` WITH its threshold argument (band-limited
    * DP — O(len·maxDist) and early-exit, returning −1 past the bound).
    * Output: (id_a, id_b, dist), id_a < id_b, dist ≤ maxDist. Cost is
    * one keyed shuffle + per-block quadratic work, so choose blocks
    * that stay people-sized at scale (add a length bucket to
    * `blockCols` for heavy blocks).
    *
    * The probe side is round-robin respread to full parallelism first
    * WHEN the build side is broadcast-sized: a broadcast join inherits
    * the PROBE side's partitioning, and a compact input read as one
    * split would otherwise run the whole quadratic stage on a single
    * core (measured 11 s → sub-second at sf0.1). With few distinct
    * block keys this beats keyed repartition, whose fan-out is capped
    * at the block-key count. When the build side is too big to
    * broadcast the join reshuffles on the block key anyway, so the
    * respread would be a wasted extra full shuffle — it is gated on the
    * plan-estimated build size vs `autoBroadcastJoinThreshold`. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 blockCols: Seq[String], maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // DICTIONARY-ENCODED scoring (the q_jaro_match optimization, round
    // 13): each DISTINCT (block, name_a, name_b) combination pays its
    // bounded levenshtein ONCE, then part keys expand back — scoring
    // work drops from |pairs| (quadratic in rows per block) to |name
    // vocabulary|² per block, degrading gracefully to the direct plan's
    // cost on near-unique names; the key expansion is OUTPUT-sized.
    // Measured at sf0.1: 3.4 s direct → ~1 s dictionary (8M pair
    // scores → the distinct-name pair count).
    val base = Checkpoints.pin(df.select( // one scan feeds dictionary + both expansions
      Seq(col(idCol).as("__id"), col(strCol).as("__str")) ++
        blockCols.map(col): _*))
    val names = base
      .select(blockCols.map(col) :+ col("__str").as("__n"): _*).distinct()
    val nb = names.select(blockCols.map(col) :+ col("__n").as("__str_b"): _*)
    // gate on the PROJECTED build side's estimated size — Spark's own
    // broadcast decision sees the column-pruned relation, so measuring
    // the full input (wide text columns and all) would wrongly skip the
    // respread exactly when a narrow projection of a wide table still
    // broadcasts
    val broadcastable = {
      val thresh = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      thresh > 0 &&
        nb.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thresh)
    }
    val naBase = names
      .select(blockCols.map(col) :+ col("__n").as("__str_a"): _*)
    val na = if (broadcastable) naBase.repartition(parallelism) else naBase
    val scored = na.join(nb, blockCols)
      .filter(abs(length(col("__str_a")) - length(col("__str_b"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("__str_a"), col("__str_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
    val pa = base.select(blockCols.map(col) :+ col("__id").as("id_a") :+
      col("__str").as("__str_a"): _*)
    val pb = base.select(blockCols.map(col) :+ col("__id").as("id_b") :+
      col("__str").as("__str_b"): _*)
    pa.join(scored, blockCols :+ "__str_a")
      .join(pb, blockCols :+ "__str_b")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "dist")
  }

  // ── exact duplicated-SPAN detection (round 15) ────────────────────────
  //
  // The sub-document twin of whole-doc dedup (Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better"): find the
  // maximal token RANGES whose text occurs more than once in the corpus,
  // then excise exactly those ranges. [[graft.Queries.q_boilerplate]]
  // measures hot-window MASS per doc; this family extracts the spans
  // themselves (WHERE in the doc) and performs the removal — the
  // operation the paper's suffix-array pipeline runs natively, here as
  // the distributed window-hash equivalent: a window of `windowLen`
  // tokens is duplicated iff its text occurs at ≥2 positions corpus-wide,
  // and overlapping/adjacent duplicated windows merge into one maximal
  // span (positions p, p' belong to one span iff p' − p ≤ windowLen).

  /** The positional window relation: (id, pos, sh) — 1-based window
    * start positions with their 8-byte window-text hashes. */
  private def positionalWindows(docs: DataFrame, idCol: String,
                                textCol: String, windowLen: Int): DataFrame =
    // r17 note: a fanOut here A/B-measured as a wash (xxhash64 windows
    // are cheap; the span family's cost is its per-doc window functions)
    docs.select(col(idCol).as("id"),
        posexplode(shingleList(windowLen)(Text.tokens(col(textCol))))
          .as(Seq("pos0", "sh_str")))
      .select(col("id"), (col("pos0") + 1).cast("long").as("pos"),
        xxhash64(col("sh_str")).as("sh"))

  /** Gaps-and-islands merge of flagged window positions into maximal
    * spans: consecutive flagged positions p, p' belong to one span iff
    * p' − p ≤ windowLen (overlap or adjacency of the windows they
    * start). Per-DOC window functions — no global sort. */
  private def maximalSpans(flagged: DataFrame, windowLen: Int): DataFrame = {
    val byDoc = Window.partitionBy("id").orderBy("pos")
    flagged
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= windowLen, 0L)
          .otherwise(1L))
      .withColumn("g", sum("brk").over(byDoc))
      .groupBy("id", "g")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(windowLen.toLong - 1L)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1L)
      .select("id", "span_start", "span_end", "span_tokens")
  }

  /** Maximal duplicated token spans per document: (id, span_start,
    * span_end, span_tokens), token positions 1-based inclusive. A span
    * is a maximal run of `windowLen`-token windows each of whose text
    * occurs ≥2 times in the corpus (any doc, any position — including
    * within-doc repeats, which ARE duplicated text).
    *
    * Plan (linear at any scale — no pair join anywhere): one positional
    * window explode ([[shingleList]], materialized once for census +
    * join-back), one map-side-combined occurrence count over 8-byte
    * `xxhash64` keys, one semi-join marking duplicated positions, then
    * per-doc gaps-and-islands (windows partitioned BY DOC — no global
    * sort). A corpus-hot window marks positions via the semi-join
    * without ever materializing pairs, so no `maxDocFreq` cap is needed
    * (contrast [[ngramJaccardPairs]], where hot shingles explode the
    * pair space). xxhash64-vs-raw-string oracle keying is the documented
    * negligible-collision family ([[ngramContainmentPairs]]). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      windowLen: Int = 8): DataFrame = {
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    // feeds the occurrence census + join-back
    val win = Checkpoints.pin(positionalWindows(docs, idCol, textCol, windowLen))
    val dup = win.groupBy("sh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("sh")
    maximalSpans(win.join(dup, Seq("sh"), "left_semi"), windowLen)
  }

  /** Maximal CONTAMINATED token spans per corpus document: the
    * positions whose `windowLen`-token window text occurs ANYWHERE in
    * the probe (benchmark/eval) set, island-merged exactly like
    * [[duplicatedSpans]]. The surgical sibling of [[decontaminateBloom]]
    * / `q_decontaminate`'s whole-doc drop: a doc QUOTING one benchmark
    * sentence loses the sentence, not its fresh content. Probe windows
    * are distinct membership keys (benchmark-sized — the
    * q_decontaminate boundedness argument) and broadcast into one
    * semi-join; the corpus side is the same linear positional explode. */
  def contaminatedSpans(docs: DataFrame, probe: DataFrame,
                        idCol: String, textCol: String,
                        windowLen: Int = 5): DataFrame = {
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    val probeSh = probe
      .select(explode(shingleSet(windowLen)(Text.tokens(col(textCol))))
        .as("sh_str"))
      .select(xxhash64(col("sh_str")).as("sh")).distinct()
    val win = positionalWindows(docs, idCol, textCol, windowLen)
    maximalSpans(win.join(broadcast(probeSh), Seq("sh"), "left_semi"),
      windowLen)
  }

  /** The removal step: every document with its duplicated-span tokens
    * excised — (id, clean_text, n_tokens, n_removed). Documents without
    * duplicated spans pass through verbatim; a document fully covered
    * by spans comes out empty (the caller's length filter drops it).
    * Span extraction is [[duplicatedSpans]]; the excision joins the
    * doc-bounded span lists back (one docs-sized shuffle join) and
    * filters tokens by position with a higher-order `filter` — per-doc
    * output-sized work, interpreted but never corpus-quadratic. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            windowLen: Int = 8): DataFrame =
    exciseSpans(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, windowLen))

  /** The surgical decontamination step: every corpus document with its
    * probe-CONTAMINATED spans ([[contaminatedSpans]]) excised —
    * (id, clean_text, n_tokens, n_removed). Verbatim benchmark copies
    * come out empty (the caller's length filter drops them — the
    * whole-doc-drop outcome recovered); a doc that merely quotes loses
    * only the quote. */
  def removeContaminatedSpans(docs: DataFrame, probe: DataFrame,
                              idCol: String, textCol: String,
                              windowLen: Int = 5): DataFrame =
    exciseSpans(docs, idCol, textCol,
      contaminatedSpans(docs, probe, idCol, textCol, windowLen))

  /** Shared excision: drop every token whose 1-based position falls in
    * a span. One docs-sized shuffle join of the doc-bounded span lists,
    * then a higher-order positional `filter` — per-doc output-sized
    * work, interpreted but never corpus-quadratic. */
  private def exciseSpans(docs: DataFrame, idCol: String, textCol: String,
                          spanRel: DataFrame): DataFrame = {
    val spans = spanRel
      .groupBy("id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val toks = Text.tokens(col(textCol))
    // exists() over a null span list is null; coalesce(…, false) keeps
    // every token of span-free docs instead of null-dropping them all
    docs.select(col(idCol).as("id"), toks.as("__toks"))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        filter(col("__toks"), (_, i) =>
          !coalesce(exists(col("__spans"), sp =>
            (i + 1) >= sp.getField("span_start") &&
              (i + 1) <= sp.getField("span_end")), lit(false))).as("__kept"),
        size(col("__toks")).cast("long").as("n_tokens"))
      .select(col("id"), array_join(col("__kept"), " ").as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - size(col("__kept")).cast("long")).as("n_removed"))
  }
}
