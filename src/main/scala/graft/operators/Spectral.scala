package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer-exact spectral analytics over embedding columns: the dominant
  * principal direction of the (quantized, mean-centered) embedding cloud
  * via power iteration, and per-vector projections onto it.
  *
  * Why integers: a float covariance fold's value depends on partition
  * reduction order, so it can never hash-match an ANSI replay. Every
  * step here is closed over BIGINT/Long arithmetic and therefore
  * order-independent and engine-portable:
  *
  *  1. quantize x → ⌊x·256⌋ (·256 is a power-of-two float scale — exact
  *     in IEEE, so both engines floor the SAME double);
  *  2. one data scan accumulates the integer raw moments n, S_j = Σq_j,
  *     QQ_jk = Σq_j·q_k — a per-partition [[MomentAgg]] fold whose
  *     per-row cost is a tight d² JVM loop and whose driver round-trip
  *     is ONE (2+d+d²)-long array per partition (no explode, no struct
  *     churn, no per-row encoder);
  *  3. the centered covariance is the EXACT integer identity
  *     C_jk = QQ_jk − m_j·S_k − S_j·m_k + n·m_j·m_k with m = S tdiv n —
  *     a Gram matrix of (q − m), hence PSD for ANY integer m;
  *  4. C is rescaled to ≤ ~10⁶ by one truncating division (keeps every
  *     later product inside Long at any corpus size n — C' entries are
  *     magnitude-bounded regardless of n);
  *  5. power iteration runs driver-side on the dimension-bounded moment
  *     array: v₀ = 1000, v_{t+1} = tdiv(C'v_t·1000, max|C'v_t|) —
  *     re-normalized to the ±1000 integer grid each step, 8 steps.
  *
  * tdiv is truncate-toward-zero division (b > 0): Long `/` in the JVM,
  * sign·(|a| div b) / sign·(|a| // b) when spelled in Spark SQL / DuckDB
  * (whose bare operators disagree on negative operands — floor vs
  * truncate).
  *
  * Scale shape: the only passes over the data are the moment scan (and
  * one more scan for projections). The eigensolve input is one
  * 2+dim+dim² long array (4,162 at dim 64) — DIMENSION-scale, never
  * data-scale — so it is solved on the driver (the IVF-centroid
  * bounded-collect pattern): a Spark-side iteration would spend ~25
  * tiny shuffle jobs re-deriving 64-row relations (measured 121 s at
  * sf0.1 vs ~1 s for the scan itself; the explode-based cell generator
  * this Aggregator replaced cost a further ~2 s of struct churn).
  * Overflow budget (dim 64, |q| ≤ 256): C' ≤ 2·10⁶ ⇒ |C'v| ≤
  * 64·2·10⁶·1000 ≈ 1.3·10¹¹, ·1000 ≈ 1.3·10¹⁴; the Rayleigh numerator
  * ·1000 stays < 2⁶³ — all inside Long. */
object Spectral {

  /** ⌊x·256⌋ integer quantization of a float/double vector column. */
  def quantCol(vecCol: String): Column =
    expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 256.0) AS BIGINT))")

  /** One-pass integer raw-moment fold over quantized vectors.
    * Buffer layout: [dim, n, S_0…S_{d−1}, QQ_00…QQ_{d−1,d−1}] — row-major
    * full matrix (symmetry is NOT exploited so the driver decode stays
    * trivial). Null/empty vectors contribute nothing; mixed dimensions
    * fail loudly rather than mis-accumulate. Runs as a per-partition
    * imperative kernel (the documented mapPartitions escape hatch — the
    * d² multiply-add loop is pure numeric folding; the typed-udaf form
    * measured 5× slower on its per-row encoder path). */
  private object MomentAgg {
    def reduce(b0: Array[Long], qa: Array[Long]): Array[Long] = {
      if (qa == null || qa.isEmpty) return b0
      val d = qa.length
      val b =
        if (b0.length == 0) {
          val nb = new Array[Long](2 + d + d * d); nb(0) = d; nb
        } else b0
      require(b(0) == d, s"mixed embedding dims: ${b(0)} vs $d")
      b(1) += 1
      var j = 0
      while (j < d) {
        b(2 + j) += qa(j)
        val base = 2 + d + j * d
        val qj = qa(j)
        var k = 0
        while (k < d) { b(base + k) += qj * qa(k); k += 1 }
        j += 1
      }
      b
    }

    def merge(a: Array[Long], c: Array[Long]): Array[Long] = {
      if (a.length == 0) return c
      if (c.length == 0) return a
      require(a(0) == c(0), s"mixed embedding dims: ${a(0)} vs ${c(0)}")
      var i = 1
      while (i < a.length) { a(i) += c(i); i += 1 }
      a
    }
  }

  private def tdiv(a: Long, b: Long): Long = if (a >= 0) a / b else -((-a) / b)

  /** Driver-side eigensolve: truncated means, exact centered covariance,
    * renormalization, `iters` power-iteration rounds. Returns
    * (m, v, evPermille), or None for an empty input. */
  private def solve(emb: DataFrame, vecCol: String, iters: Int)
      : Option[(Array[Long], Array[Long], Long)] = {
    val sess = emb.sparkSession
    import sess.implicits._
    val buf = emb.select(quantCol(vecCol)).as[Array[Long]].rdd
      .mapPartitions { it =>
        var b = Array.emptyLongArray
        while (it.hasNext) b = MomentAgg.reduce(b, it.next())
        Iterator.single(b)
      }
      // bounded: nPartitions 2+dim+dim² long moment arrays (4,162 longs @ dim 64 each) — dimension-, never data-scale (the IVF-centroid pattern)
      .collect()
      .foldLeft(Array.emptyLongArray)(MomentAgg.merge)
    solveBuf(buf, iters)
  }

  /** Eigensolve over one folded moment buffer (shared by the global and
    * per-group forms). */
  private def solveBuf(buf: Array[Long], iters: Int)
      : Option[(Array[Long], Array[Long], Long)] = {
    if (buf.isEmpty) return None
    val dim = buf(0).toInt
    val n = buf(1)
    val s = Array.tabulate(dim)(j => buf(2 + j))
    val qq = Array.tabulate(dim, dim)((j, k) => buf(2 + dim + j * dim + k))
    val m = Array.tabulate(dim)(j => tdiv(s(j), n))
    val c = Array.tabulate(dim, dim)((j, k) =>
      qq(j)(k) - m(j) * s(k) - s(j) * m(k) + n * m(j) * m(k))
    val dn = math.max(1L, tdiv(c.map(_.map(math.abs).max).max, 1000000L))
    val cp = c.map(_.map(tdiv(_, dn)))
    def mul(v: Array[Long]): Array[Long] = Array.tabulate(dim) { j =>
      var acc = 0L; var k = 0
      while (k < dim) { acc += cp(j)(k) * v(k); k += 1 }
      acc
    }
    var v = Array.fill(dim)(1000L)
    for (_ <- 1 to iters) {
      val w = mul(v)
      val mx = math.max(1L, w.map(math.abs).max)
      v = w.map(x => tdiv(x * 1000, mx))
    }
    val w9 = mul(v)
    val num = (0 until dim).map(j => v(j) * w9(j)).sum
    val vtv = v.map(x => x * x).sum
    val tr = (0 until dim).map(j => cp(j)(j)).sum
    Some((m, v, tdiv(num * 1000, math.max(1L, vtv * tr))))
  }

  /** Dominant principal direction of the embedding cloud: one row per
    * dimension (dim, loading on the ±1000 grid) plus the constant
    * ev_permille — the Rayleigh share tdiv(vᵀC'v·1000, vᵀv·tr(C')), the
    * integer read of "how much variance PC1 explains". C PSD ⇒ the exact
    * share ∈ [0, 1000]; the C→C' truncation can wobble it by a few ‰. */
  def pc1(emb: DataFrame, vecCol: String, iters: Int = 8): DataFrame = {
    val sess = emb.sparkSession
    import sess.implicits._
    solve(emb, vecCol, iters) match {
      case None =>
        Seq.empty[(Long, Long, Long)].toDF("dim", "loading", "ev_permille")
      case Some((_, v, ev)) =>
        v.toSeq.zipWithIndex.map { case (lv, j) => (j.toLong, lv, ev) }
          .toDF("dim", "loading", "ev_permille").orderBy("dim")
    }
  }

  /** Per-GROUP dominant directions: the [[pc1]] chain run independently
    * within each value of `byCol` — class-conditional spectral health.
    * A label whose ev_permille spikes has a collapsed/duplicated
    * region; a label whose axis diverges from the global direction is
    * the group dragging the mixture. Still ONE data pass: the
    * per-partition fold keeps a moment buffer per group (the group
    * domain is catalog-bounded by contract — labels/classes, never
    * data-scale), and the per-group eigensolves run on the driver.
    * Returns (byCol, dim, loading, ev_permille) ordered by (group, dim). */
  def pc1ByGroup(emb: DataFrame, byCol: String, vecCol: String,
                 iters: Int = 8): DataFrame = {
    val sess = emb.sparkSession
    import sess.implicits._
    val bufs = emb
      .select(col(byCol).cast("long"), quantCol(vecCol))
      .as[(Long, Array[Long])].rdd
      .mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[Long, Array[Long]]
        while (it.hasNext) {
          val (g, qa) = it.next()
          acc(g) = MomentAgg.reduce(
            acc.getOrElse(g, Array.emptyLongArray), qa)
        }
        acc.iterator
      }
      // bounded: one 2+dim+dim² long moment array per (partition, group) — group-catalog-, never data-scale
      .collect()
      .groupBy(_._1).map { case (g, parts) =>
        g -> parts.map(_._2).foldLeft(Array.emptyLongArray)(MomentAgg.merge)
      }
    val rows = bufs.toSeq.sortBy(_._1).flatMap { case (g, buf) =>
      solveBuf(buf, iters).toSeq.flatMap { case (_, v, ev) =>
        v.toSeq.zipWithIndex.map { case (lv, j) => (g, j.toLong, lv, ev) }
      }
    }
    rows.toDF(byCol, "dim", "loading", "ev_permille")
      .orderBy(byCol, "dim")
  }

  /** Histogram of per-vector projections onto PC1: bucket = tdiv(proj, w)
    * with proj_i = Σ_j (q_ij − m_j)·v_j — the corpus's shape along its
    * own dominant axis (drift/diversity readout). The mean and direction
    * enter the plan as dim-length literal arrays (codegen constants), so
    * the projection pass is a second single scan with no per-element
    * shuffle and no join. */
  def pc1Projection(emb: DataFrame, vecCol: String,
                    bucketWidth: Long = 50000L, iters: Int = 8): DataFrame = {
    val sess = emb.sparkSession
    import sess.implicits._
    solve(emb, vecCol, iters) match {
      case None => Seq.empty[(Long, Long)].toDF("bucket", "n_vecs")
      case Some((m, v, _)) => projectWith(emb, vecCol, m, v, bucketWidth)
    }
  }

  /** The per-vector projection column proj = Σ_j (q_j − m_j)·v_j with
    * m/v as literal arrays (codegen constants — no join, no artifact
    * read in the plan). Shared by the batch histogram, the persisted-
    * artifact probe and the streaming drift census. */
  def projectionCol(vecCol: String, m: Array[Long],
                    v: Array[Long]): Column = {
    val marr = m.mkString("array(", "L, ", "L)")
    val varr = v.mkString("array(", "L, ", "L)")
    expr(
      s"""aggregate(sequence(0, size($vecCol) - 1), CAST(0 AS BIGINT),
         |  (acc, i) -> acc + ($vecCol[i] - $marr[i]) * $varr[i])""".stripMargin)
  }

  /** tdiv bucket of a projection column (Spark-SQL fragment form). */
  def bucketCol(projCol: String, bucketWidth: Long): Column =
    expr(
      s"""(CASE WHEN $projCol >= 0 THEN $projCol div $bucketWidth
         |  ELSE -((-$projCol) div $bucketWidth) END)""".stripMargin)

  private def projectWith(emb: DataFrame, vecCol: String, m: Array[Long],
                          v: Array[Long], bucketWidth: Long): DataFrame =
    emb.select(quantCol(vecCol).as("qa"))
      .select(projectionCol("qa", m, v).as("proj"))
      .select(bucketCol("proj", bucketWidth).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
      .orderBy("bucket")

  // -------------------------------------------------------------------
  // persisted direction artifact (the writeVocab discipline)
  // -------------------------------------------------------------------

  /** Persist the fitted PC1 direction + its reference projection
    * histogram as an artifact: rows (kind, idx, a, b) —
    *  - kind='dir'  → idx=dim,    a=m_dim,       b=loading_dim
    *  - kind='meta' → idx=−1,     a=ev_permille, b=bucketWidth
    *  - kind='hist' → idx=bucket, a=n_vecs,      b=N_total
    * The fit is deterministic (the integer chain), so re-writing over
    * the same corpus reproduces the artifact bit-for-bit; consumers
    * (the drift monitor, [[projectAgainst]]) treat a written direction
    * as IMMUTABLE — refit to a new reference is a new write. Empty
    * input → NO artifact (an empty re-seed reverts an existing one):
    * the empty-seed cold-start contract. */
  def writeDirection(emb: DataFrame, vecCol: String, dir: String,
                     bucketWidth: Long = 50000L, iters: Int = 8): Unit = {
    val sess = emb.sparkSession
    import sess.implicits._
    solve(emb, vecCol, iters) match {
      case None => graft.sources.IO.deleteDir(sess, dir)
      case Some((m, v, ev)) =>
        val hist = projectWith(emb, vecCol, m, v, bucketWidth)
          // bounded: occupied projection buckets (≪ range/width; 62 on the 4M probe) — histogram-, never data-scale
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val n = hist.map(_._2).sum
        val rows = m.indices.map(j => ("dir", j.toLong, m(j), v(j))) ++
          Seq(("meta", -1L, ev, bucketWidth)) ++
          hist.toSeq.map { case (b, c) => ("hist", b, c, n) }
        rows.toDF("kind", "idx", "a", "b")
          .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  /** Load a persisted direction artifact:
    * (m, v, evPermille, bucketWidth, referenceHistogram, refN). */
  def readDirection(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (Array[Long], Array[Long], Long, Long, Map[Long, Long], Long) = {
    val rows = graft.sources.IO.readArtifact(spark, dir)
      .select("kind", "idx", "a", "b")
      // bounded: dim 'dir' rows + 1 'meta' + occupied-bucket 'hist' rows — dimension/histogram-, never data-scale
      .collect()
    val dirRows = rows.filter(_.getString(0) == "dir").sortBy(_.getLong(1))
    val meta = rows.find(_.getString(0) == "meta")
      .getOrElse(sys.error(s"direction artifact $dir has no meta row"))
    val histRows = rows.filter(_.getString(0) == "hist")
    (dirRows.map(_.getLong(2)), dirRows.map(_.getLong(3)),
      meta.getLong(2), meta.getLong(3),
      histRows.map(r => r.getLong(1) -> r.getLong(2)).toMap,
      histRows.headOption.map(_.getLong(3)).getOrElse(0L))
  }

  /** Project a (possibly different/newer) vector relation against a
    * PERSISTED direction — the batch drift probe: same output shape as
    * [[pc1Projection]] but against the artifact's frozen axis, so two
    * corpus snapshots become comparable histograms. */
  def projectAgainst(emb: DataFrame, vecCol: String, dir: String): DataFrame = {
    val (m, v, _, w, _, _) = readDirection(emb.sparkSession, dir)
    projectWith(emb, vecCol, m, v, w)
  }

  /** Total-variation distance in ppm between a bucket histogram and a
    * reference distribution — integer-exact (each side's bucket mass is
    * normalized to ppm by truncating division before the fold), so the
    * reading is deterministic and replayable. 0 ⇔ identical
    * distributions up to ppm truncation. */
  def tvDriftPpm(hist: Map[Long, Long], n: Long,
                 ref: Map[Long, Long], refN: Long): Long = {
    val keys = hist.keySet ++ ref.keySet
    keys.toSeq.map { b =>
      val pw = if (n == 0) 0L else hist.getOrElse(b, 0L) * 1000000L / n
      val pr = if (refN == 0) 0L else ref.getOrElse(b, 0L) * 1000000L / refN
      math.abs(pw - pr)
    }.sum / 2
  }
}
