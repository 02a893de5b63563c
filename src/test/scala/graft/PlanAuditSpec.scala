package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Static plan audit across EVERY registered query: the scale-killer
  * checklist (cartesian products, unbounded nested-loop joins, lost
  * pushdown / pruning) as pinned plan properties instead of review
  * comments. Uses `sparkPlan` (pre-AQE physical plan) — AQE only ever
  * specializes these plans further at runtime, never introduces a
  * cartesian or widens a scan.
  */
class PlanAuditSpec extends SparkSpec {

  private lazy val executions =
    Queries.all.map { case (n, q) =>
      n -> q(spark, sfDir).queryExecution
    }

  private lazy val plans: Seq[(String, SparkPlan)] =
    executions.map { case (n, qe) => n -> qe.sparkPlan }

  /** MEASURED low-cardinality-window audit: for every logical Window
    * node, count the distinct partition-spec tuples over the window's
    * actual input subtree (via the plan bridge — names can't be
    * trusted, aliases hide the source column). A partition key with ≤
    * `floor` distinct values means ≤ `floor` parallel tasks, each
    * sorting its whole slice — the q_weighted_median scale bug this
    * audit pins. Cardinalities are memoized by (child fingerprint,
    * spec) so shared shapes (the many user_id windows) measure once. */
  private val cardMemo = scala.collection.mutable.Map.empty[String, Long]
  private def lowCardWindows(qe: org.apache.spark.sql.execution.QueryExecution,
                             floor: Long): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    qe.optimizedPlan.collect {
      case w: LWindow =>
        val specSql = w.partitionSpec.map(_.sql).mkString(", ")
        val key = w.child.semanticHash().toString + "|" + specSql
        val card = cardMemo.getOrElseUpdate(key, {
          if (w.partitionSpec.isEmpty) 1L
          else ColumnBridge.dataFrame(spark, w.child)
            .select(w.partitionSpec.map(ColumnBridge.column): _*)
            .distinct().count()
        })
        (specSql, card)
    }.filter(_._2 <= floor)
      .map { case (spec, card) => s"partitionBy($spec) card=$card" }
  }

  test("no registered query plans a cartesian product") {
    val offenders = plans.collect {
      case (n, p) if p.collect { case c: CartesianProductExec => c }.nonEmpty => n
    }
    assert(offenders.isEmpty, s"cartesian product in: $offenders")
  }

  test("nested-loop joins only with a bounded broadcast side") {
    // BNLJ is legitimate exactly where the broadcast side is provably
    // tiny: a scalar aggregate (q_tfidf's doc count), a dim-bounded
    // range table (interval/theta joins over the small side), a
    // grouped-by-category relation (q_group_similarity's lang pairs),
    // a 1-row broadcast scalar (q_composite_cold_customers' average),
    // or a bounded probe set (q_knn_join's 20 query vectors)
    val allowed =
      Set("q_tfidf", "q_join_interval", "q_heavy_hitters",
        "q_heavy_hitters_approx", "q_group_similarity", "q_pmi_bigrams",
        "q_composite_cold_customers", "q_knn_join",
        // q_knn_join_pq: the same bounded probe-set broadcast as
        // q_knn_join (8 probe vectors + their ADC tables)
        "q_knn_join_pq",
        // q_hard_negatives / q_triplet_margin: the q_knn_join probe
        // broadcast with label/self-exclusion inequalities riding the
        // BNLJ condition
        "q_hard_negatives", "q_triplet_margin",
        // q_precision_at_k / q_recall_at_k / q_knn_classify: the same
        // bounded probe-set broadcast (20 vectors) with the
        // self-exclusion inequality on the BNLJ
        "q_precision_at_k", "q_recall_at_k", "q_knn_classify",
        // 1-row broadcast grand totals (the windowless replacement for
        // `sum(...) OVER ()`)
        "q_chisq", "q_concentration", "q_lm_score", "q_class_weights",
        // q_rfm: 1-row reference-date + 1-row customer-count broadcasts
        "q_rfm",
        // q_basket_affinity: 1-row order-count broadcast
        "q_basket_affinity",
        // q_sequence_pack: 1-row grand-total-tokens broadcast
        "q_sequence_pack",
        // q_mix_drift / q_bucket_entropy: 1-row corpus-total broadcasts
        "q_mix_drift", "q_bucket_entropy",
        // q_dsir_hashed / q_dsir_select / q_quality_by_source: 1-row
        // LM-total and token-budget broadcasts
        "q_dsir_hashed", "q_dsir_select", "q_quality_by_source",
        // q_rolling_active: date-dimension broadcast (≤ days-elapsed
        // rows) into the bounded trailing-window fan-out join
        "q_rolling_active",
        // q_benford: 1-row total broadcast
        "q_benford",
        // q_bm25: 1-row (n_docs, avgdl) corpus-stats broadcast
        "q_bm25",
        // q_token_budget: 1-row corpus-token-total broadcast
        "q_token_budget",
        // q_survival: duration-domain-sized KM time-grid broadcasts
        // (at-risk fan-out + triangular cumulative product)
        "q_survival",
        // q_pareto: 1-row (n_users, total) broadcast
        "q_pareto",
        // q_growth_accounting: 1-row max-day broadcast
        "q_growth_accounting",
        // q_target_encoding: 1-row global-mean broadcast
        "q_target_encoding",
        // q_percentile_rank: 1-row row-count broadcast
        "q_percentile_rank",
        // q_ks_test: 1-row (n1, n2) totals broadcast
        "q_ks_test",
        // q_rolling_corr: day-dimension broadcast into the bounded
        // ≤7x trailing-window fan-out (the q_rolling_active shape)
        "q_rolling_corr",
        // q_theil: 1-row (n, Σx) moment broadcast
        "q_theil",
        // q_mutual_info: 1-row grand-total broadcast (folded from the
        // domain-sized joint, not the data)
        "q_mutual_info",
        // q_user_features: 1-row max-day broadcast
        "q_user_features",
        // q_abc: 1-row revenue-total broadcast
        "q_abc",
        // q_vocab_coverage: 1-row (total, n_vocab) broadcast
        "q_vocab_coverage",
        // q_graph_triangles / q_graph_clustering / q_graph_modularity:
        // 1-row census crossJoins (scalar count aggregates)
        "q_graph_triangles", "q_graph_clustering", "q_graph_modularity",
        // q_mixture_epochs: 1-row (total_tokens, total_sw) broadcast
        "q_mixture_epochs",
        // q_curriculum_bins: 1-row row-count broadcast (the
        // q_percentile_rank / q_concentration ntile shape)
        "q_curriculum_bins",
        // q_kl_sources / q_dsir_weights: 1-row corpus-total broadcast
        "q_kl_sources", "q_dsir_weights",
        // q_overlap_matrix: source-dim (#sources ≤ 20 rows) broadcast
        // `<` pair frame — bounded by the source catalog, never data
        "q_overlap_matrix",
        // q_t_closeness: tier-domain (≤ ~6 rows) grid broadcast + 1-row
        // (N, m) totals broadcast — both domain-bounded, never data
        "q_t_closeness",
        // q_lsh_recall_eval: 4-row tau grid + 1-row candidate-count
        // broadcasts
        "q_lsh_recall_eval")
    val withBnlj = plans.collect {
      case (n, p)
        if p.collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty => n
    }.toSet
    assert(withBnlj.subsetOf(allowed), s"unexpected BNLJ in: ${withBnlj -- allowed}")
  }

  test("no window partitions on a low-cardinality key (measured on the fixture)") {
    // q_keyword_topk ranks the GROUPED (lang, word) vocabulary — a
    // domain-bounded relation (Heaps' law: vocabulary grows ~√corpus,
    // not linearly), so the per-lang sort is bounded work that does not
    // scale with data rows; every data-proportional low-cardinality
    // window was replaced (bounded heaps / groupedRunningSums /
    // struct-max argmax / marginal joins) in round 8.
    // q_t_closeness cumulates the GLOBAL tier marginal — a relation of
    // |tier domain| rows (≤ ~6: acctbal spans [-1k, 10k) at width 2000),
    // not data; its per-class window partitions on the ~125-class
    // quasi-id domain and passes the floor on its own.
    // q_decontaminate_spans partitions its island merge BY DOC ID over
    // the probe-MATCHING positions only — a relation bounded by the
    // benchmark overlap (the q_decontaminate boundedness argument),
    // never the corpus, so the partition-key cardinality on the fixture
    // (6 contaminated docs) measures the tiny flagged relation, not a
    // data-proportional window; the sibling q_dup_spans partitions the
    // same merge over corpus-sized duplicated positions and passes the
    // floor on its own
    val allowed: Set[String] =
      Set("q_keyword_topk", "q_t_closeness", "q_decontaminate_spans")
    val offenders = executions.flatMap { case (n, qe) =>
      if (allowed(n)) Nil
      else lowCardWindows(qe, floor = 10).map(d => s"$n: $d")
    }
    assert(offenders.isEmpty, s"low-cardinality windows:\n${offenders.mkString("\n")}")
  }

  test("the low-cardinality-window audit catches a seeded regression") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the exact shape the audit exists to block: a cumulative window
    // partitioned on a 3-value key over the full fact table
    val bad = graft.sources.Tables.lineitem(spark, sfDir)
      .withColumn("cum", sum(col("l_quantity")).over(
        Window.partitionBy("l_returnflag")
          .orderBy("l_orderkey", "l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val flagged = lowCardWindows(bad.queryExecution, floor = 10)
    assert(flagged.nonEmpty, "seeded 3-value-key window was not flagged")
  }

  test("oracle SQL never ranks on an unrounded double expression") {
    // the q_knn_join lesson, pinned: an ORDER BY over a computed double
    // (division, ln/log/sqrt/exp, cosine, avg) makes cross-engine rank
    // parity hinge on bit-identical accumulation — a ulp divergence on a
    // near-tie flips ranks and the row hash. Every ranking expression
    // must round (12 dp for similarities) or be integer-valued. The
    // detector strips round(...) spans from each ORDER BY clause and
    // flags surviving double-producing tokens; genuinely-safe cases go
    // in the allowlist WITH a justification.
    val risky = Seq("/", "ln(", "log(", "sqrt(", "exp(",
      "list_cosine_similarity", "avg(")
    def stripFn(s: String, fn: String): String = {
      val j = s.indexOf(fn)
      if (j < 0) s
      else {
        var k = j + fn.length; var d = 1
        while (k < s.length && d > 0) {
          if (s(k) == '(') d += 1 else if (s(k) == ')') d -= 1
          k += 1
        }
        stripFn(s.substring(0, j) + s.substring(k), fn)
      }
    }
    def orderByClauses(sql: String): Seq[String] = {
      val q = sql.toLowerCase
      "order by".r.findAllMatchIn(q).map { m =>
        var i = m.end; var depth = 0
        val sb = new StringBuilder
        var stop = false
        while (i < q.length && !stop) {
          val c = q(i)
          if (c == '(') depth += 1
          else if (c == ')') { if (depth == 0) stop = true else depth -= 1 }
          if (!stop) { sb.append(c); i += 1 }
        }
        sb.toString.split(" limit ").head
      }.toSeq
    }
    val allowed = Set[String]() // none today — all rankings round or are integral
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) if !allowed(name) =>
        orderByClauses(sql)
          .map(cl => cl -> stripFn(cl, "round("))
          .filter { case (_, stripped) => risky.exists(stripped.contains) }
          .map { case (cl, _) => s"$name: ORDER BY ${cl.trim.take(80)}" }
      case _ => Nil
    }
    assert(offenders.isEmpty,
      s"unrounded double ranking in oracle SQL:\n${offenders.mkString("\n")}")
  }

  test("trade-graph edge builder resolves to broadcast joins at fixture SF") {
    // `nationTradeEdges` deliberately carries NO broadcast hints (its
    // cust/supp sides are fact-proportional — an unconditional hint OOMs
    // a cluster-scale build), relying on Catalyst's stats to broadcast at
    // test SFs. The eager localCheckpoint in every caller hides the
    // resolved strategy from Explain dumps, so a stats/AQE regression
    // would silently turn the shared edge builder into three chained
    // SMJs across 7 registry ids. Pin it here on the UN-checkpointed
    // plan: at fixture SF all three joins must resolve to broadcast.
    val plan = Queries.nationTradeEdges(spark, sfDir).queryExecution.sparkPlan
    val merged = plan.collect { case j: SortMergeJoinExec => j }
    val shuffled = plan.collect { case j: ShuffledHashJoinExec => j }
    assert(merged.isEmpty && shuffled.isEmpty,
      s"edge builder lost its stats-driven broadcasts: " +
        s"${merged.size} SMJ + ${shuffled.size} SHJ in\n$plan")
    val broadcasts = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(broadcasts.size == 3,
      s"expected the ord/cust/supp joins as 3 broadcast hash joins, " +
        s"got ${broadcasts.size}")
  }

  test("the edge-builder broadcast audit catches a seeded stats regression") {
    // same build with stats-based broadcast disabled MUST trip the
    // detector — proves the assertion measures strategy resolution, not
    // a shape that passes vacuously
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = Queries.nationTradeEdges(spark, sfDir)
        .queryExecution.sparkPlan
      val nonBroadcast = plan.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(nonBroadcast.nonEmpty,
        "seeded autoBroadcastJoinThreshold=-1 did not surface a " +
          "non-broadcast join — the audit would miss a real regression")
    } finally spark.conf.set(key, saved)
  }

  test("predicate pushdown reaches the parquet scan (q_filter)") {
    val scans = plans.toMap.apply("q_filter").collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(s => s.nonEmpty && s != "[]"),
      s"no pushed filters on the scan: $pushed")
  }

  test("column pruning reaches the parquet scan (q_project)") {
    val scans = plans.toMap.apply("q_project").collect {
      case f: FileSourceScanExec => f
    }
    // lineitem is 16 columns wide; the projection needs only 4
    val widths = scans.map(_.schema.fields.length)
    assert(widths.nonEmpty && widths.max <= 4,
      s"scan reads more columns than the projection needs: $widths")
  }

  test("skyline's phase-1/phase-2 barrier is a shuffle, not a coalesce") {
    // Analytics.skyline merges local frontiers with repartition(1) — a
    // SHUFFLE. A no-shuffle coalesce(1) would be a silent scale killer:
    // the narrow dependency collapses the phase-1 mapPartitions into
    // the single merged task, serializing the whole scan (mapPartitions
    // pipelines INTO the coalesced task). The physical signature is the
    // Exchange between the two passes.
    import org.apache.spark.sql.execution.CoalesceExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = plans.toMap.apply("q_skyline")
    assert(p.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
      "skyline lost its phase barrier — local frontiers no longer " +
        "merge through a shuffle")
    assert(p.collect { case c: CoalesceExec => c }.isEmpty,
      "skyline plans a no-shuffle coalesce — phase 1 collapses into " +
        "one task")
    // seeded regression: the bad shape this audit exists to block is
    // detectable by exactly this signature
    val bad = graft.sources.Tables.part(spark, sfDir)
      .select("p_partkey").coalesce(1)
    val badPlan = bad.queryExecution.sparkPlan
    assert(badPlan.collect { case c: CoalesceExec => c }.nonEmpty,
      "seeded coalesce(1) not visible as CoalesceExec — audit blind")
  }

  test("no registered query body blocks the driver on collect()") {
    // source-level sweep: the registry discipline is that scalar
    // thresholds fold IN-PLAN (crossJoin(broadcast(aggDf)) — q_theil,
    // q_abc, q_graph_ktruss, ...), never via a driver-side
    // .collect().head mid-plan. Queries.scala bodies are pure plan
    // builders: ZERO collect sites allowed.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Queries.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val hits = src.linesIterator.zipWithIndex.collect {
      case (line, i) if line.contains(".collect(") => s"line ${i + 1}: ${line.trim}"
    }.toSeq
    assert(hits.isEmpty,
      "driver-blocking collect() in a registered query body:\n" +
        hits.mkString("\n"))
  }

  test("every operators/ collect site carries a written bound and the census is pinned") {
    // operators MAY collect driver-bounded state (per-partition count
    // rows, <= K landmark lists, <= k IVF list ids, k centroid rows) —
    // but every site must SAY its bound where it collects (a `bounded:`
    // justification within the two lines ending at the call), and the
    // per-file site census is pinned so a new collect cannot slip in as
    // "just one more": adding one forces writing its bound AND bumping
    // the census here, consciously. The four 1-row min-weight
    // `agg(min).collect()` probes Graph carried through r10 are gone —
    // that contract now rides undirect's checkpoint as an in-plan
    // raise_error guard (zero extra jobs), which is why Graph's census
    // counts only the <= K source lists.
    val expected = Map(
      "Analytics.scala" -> 6, // 3x per-partition offset rows (<= nPart), 3x bounded histogram/frontier cells
      "Dedup.scala" -> 2,     // the components store commit (merge and delete) + counted-gram-compact touched bucket ids (all <= buckets); the bloom probe-shingle collect is GONE (r16 ADVICE fix: executor-side bit fold)
      "BucketedIndex.scala" -> 1, // the index store's takedown touched ids (<= buckets) — every hash-bucketed family's delete site, moved out of Dedup/Sampling; a rewrite observes its written ids on the write
      "Graph.scala" -> 1,     // the centrality sweep's <= K landmark/explicit source list
      "Spectral.scala" -> 4,  // global + per-group moment folds (2+d+d² longs each), artifact write (histogram rows) + read (dim+hist rows) — all dimension/catalog-bounded (r17)
      "Takedown.scala" -> 1,  // distinct admission windows of the retired docs (r17)
      "Similarity.scala" -> 7 // <= k IVF append touched-list ids, k list-size rows x2 (drift trigger, split policy), k centroid rows,
      // m*kSub codebook rows, refine*k ADC candidate ids, the
      // semantic-gate probe census (<= k list ids); the takedown's
      // touched and every rewrite's written list ids are the store's
    )
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val files = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "operators/ sweep found no sources")
    // the bucketed-index store lives in sources/ but carries the
    // operators' index delete/rewrite sites, so it is swept too
    val store = java.nio.file.Paths.get(
      "src/main/scala/graft/sources/BucketedIndex.scala")
    val unjustified = scala.collection.mutable.ArrayBuffer.empty[String]
    val census = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (f <- files :+ store) {
      val lines = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator.toVector
      for (i <- lines.indices
           if lines(i).contains(".collect(")
           // scaladoc/comment mentions are not call sites
           if !lines(i).trim.startsWith("*") && !lines(i).trim.startsWith("//")) {
        census(f.getFileName.toString) += 1
        val window = lines.slice(math.max(0, i - 1), i + 1).mkString("\n")
        if (!window.contains("bounded:"))
          unjustified += s"${f.getFileName}:${i + 1}: ${lines(i).trim}"
      }
    }
    assert(unjustified.isEmpty,
      "collect() in operators/ without a written `bounded:` justification:\n" +
        unjustified.mkString("\n"))
    assert(census.toMap == expected,
      s"operators/ collect census drifted: got ${census.toMap}, pinned $expected — " +
        "a new site needs its bound written at the call AND the census " +
        "updated here")
  }
}
