package graft

/** Per-round benchmark harness: each declared query is executed
  * sequentially on a shared session and its full physical plan consumed;
  * JSON one-liner on stdout (BASELINE.md "bench metric definition").
  * Queries run in declared (registration) order; a small untimed warmup
  * absorbs first-use JVM/codegen/parquet-reader initialization. Each
  * query is timed `SPARK_GRAFT_BENCH_RUNS` times (default 2) and the
  * MINIMUM reported: measured host CPU steal in this microVM makes a
  * single sample swing up to 6x on the pair-join queries (BASELINE.md
  * "bench noise floor"), and the per-query min is the standard way to
  * measure the plan rather than the host. */
object Bench {

  /** A window with this many adjudications is a steal window by
    * signature (clean rounds measure 0-2; the round-11 close window
    * that inflated the trailing record had 16). */
  val StealWindowAdjudications = 3

  /** Record-integrity fold (VERDICT r11 #2): the values a run may write
    * into the TRAILING record (`bench_out.json`) that seeds the next
    * run's adjudication baselines. A clean window writes its own
    * measurements — baselines must be able to RISE when a plan's cost
    * genuinely changed and was accepted (e.g. q_dedup_incremental's
    * takedown-capable layout, round 11). A steal window
    * (`adjudications >= StealWindowAdjudications`) folds per-id
    * min(trailing, fresh): its elevated readings can never raise any
    * baseline, so the next round's >1.5x trigger stays anchored to the
    * plan, not to the noise — the failure mode that blinded round 12's
    * trigger on q_rfm/q_percentile_rank. Ids absent from the trailing
    * record (new this round) always enter at their fresh value. */
  def foldTrailingRecord(trailing: Map[String, Double],
                         fresh: Map[String, Double],
                         adjudications: Int): Map[String, Double] =
    if (adjudications < StealWindowAdjudications) fresh
    else fresh.map { case (k, v) =>
      k -> trailing.get(k).fold(v)(math.min(v, _))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // r17 note: an AQE coalescePartitions.minPartitionSize floor (16 KB)
    // was A/B-measured same-session over 10 representative ids — wash
    // to WORSE (q_basket_affinity +0.33 s, q_bpe_encode +0.44 s, heavy
    // pair ids ±0.03 s): the serialized stages that motivated it turn
    // out to be broadcast-exchange builds and 1-partition checkpoints,
    // which the floor cannot split. Stock AQE behavior kept.
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: touch the scan/agg/join/window machinery once. A
    // warmup failure must not abort the bench (the timed loop has its own
    // fail penalty) but must never be SILENT either — a broken warmup
    // query means the first timed query absorbs JVM init, quietly skewing
    // exactly the numbers the warmup exists to stabilize.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Queries.q_agg_groupby(spark, sfDir).count()
      Queries.q_window_tumble(spark, sfDir).count()
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] WARMUP FAILED (timings for the first " +
          s"queries may absorb JVM init): $e")
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // a crashing query must NOT masquerade as a fast success OR quietly
    // deflate the total: a failed sample scores this penalty (valid JSON,
    // unlike Infinity), so a regression that crashes a query can only ever
    // blow the headline number up, never shrink it
    val FailPenaltySec = 1.0e9
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // dev-side isolation lever (unset in the driver run): comma-separated
    // query ids to bench alone — used to separate a query's own plan cost
    // from shared-session context (broadcast/GC pressure from the ~120
    // queries that ran before it in declared order)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(ids) =>
        // a typo'd id must fail loudly — silently benching nothing would
        // emit a plausible-looking total=0 JSON
        val unknown = ids -- Queries.all.map(_._1).toSet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY names unknown query ids: ${unknown.mkString(",")}")
        Queries.all.filter { case (n, _) => ids(n) }
      case None => Queries.all
    }
    val results = selected.map { case (name, fn) =>
      val samples = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        // consume the query's OWN physical plan (all columns, sorts
        // intact): df.count() would let Catalyst prune the projections
        // and eliminate the sort, timing a bare row count instead
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case e: Throwable =>
            if (!failed.contains(name)) failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        if (ok) (System.nanoTime() - t0) / 1e9 else FailPenaltySec
      }
      // between-id hygiene: the pins an id's plan embeds stay registered
      // until their owner releases them, and Bench consumes the plan
      // without a scope of its own. Unpersisting every registered RDD
      // between ids frees them the way perfbench's per-id loop does
      // (BatchWorkload), so both harnesses time an id against the same
      // block-manager state. Each sample rebuilds its lineage from
      // scratch, so dropping finished blocks is safe.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // min = the plan's cost with host noise stripped (the headline);
      // median = the typical observed cost, reported alongside so the
      // per-query noise spread is visible in every BENCH file
      val sorted = samples.sorted
      name -> (sorted.head, sorted(sorted.length / 2))
    }

    // ---- steal-window adjudication (BASELINE.md "bench noise floor") --
    // The "elevated in min AND median" read of a BENCH file is defeated
    // by host-steal windows LONGER than one id's samples: every sample
    // of that id absorbs the steal and the file shows a plausible-looking
    // regression. Adjudicate inside the harness: any id whose window min
    // exceeds its trailing per-round record by >1.5x (and by >0.4s
    // absolute — tiny ids live at the scheduler floor) is re-sampled at
    // the END of the run, far from the original window. Both readings
    // are emitted; the headline per-id value is the min across ALL
    // samples (the metric is already "min = the plan with noise
    // stripped" — more samples, same definition), so a steal window can
    // only be corrected downward, never hide a real regression: a true
    // plan regression stays slow in the re-run too.
    val trailing: Map[String, Double] = {
      // discovery order: explicit env override; then bench_out.json (the
      // bare line this harness wrote LAST round — it is only overwritten
      // at the end of the current run, so mid-run it still holds the
      // trailing record); then the newest driver BENCH_r*.json (whose
      // "parsed" field may be null when the driver's own parse failed)
      val explicit = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
      val candidate = explicit.orElse {
        Some("bench_out.json").filter(new java.io.File(_).isFile)
      }.orElse {
        val dir = new java.io.File(".")
        // NUMERIC round ordering: lexicographic sort would put
        // BENCH_r9.json after BENCH_r10.json and adjudicate against a
        // stale record from round 10 onward
        val rx = "BENCH_r(\\d+)\\.json".r
        Option(dir.listFiles()).toSeq.flatten
          .map(_.getName).collect { case n @ rx(r) => (r.toInt, n) }
          .sortBy(_._1).lastOption.map(_._2)
      }
      candidate.flatMap { path =>
        try {
          import org.json4s._
          val j = org.json4s.jackson.JsonMethods.parse(new java.io.File(path))
          // driver BENCH files nest the parsed line under "parsed";
          // bench_out.json / explicit baselines are the bare line
          val root = (j \ "parsed") match {
            case JObject(_) => j \ "parsed"
            case _ => j
          }
          (root \ "queries") match {
            case JObject(fields) =>
              Some(fields.collect {
                case (k, JDouble(v)) => k -> v
                case (k, JInt(v)) => k -> v.toDouble
                case (k, JDecimal(v)) => k -> v.toDouble
              }.toMap)
            case _ => None
          }
        } catch { case _: Throwable => None }
      }.getOrElse(Map.empty)
    }
    val adjudicated = results.flatMap { case (name, (mn, md)) =>
      trailing.get(name).filter(base =>
        base > 0.0 && mn > 1.5 * base && mn - base > 0.4).map { base =>
        // quiesce: drop every leftover block and let the JVM settle so
        // the re-run measures the plan, not the window
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
        val fn = Queries.all.toMap.apply(name)
        val re = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
            catch { case _: Throwable => false }
          if (ok) (System.nanoTime() - t0) / 1e9 else FailPenaltySec
        }.sorted
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        name -> (base, mn, md, re.head, re(re.length / 2))
      }
    }.toMap
    val finalMin: Map[String, Double] = results.map { case (name, (mn, _)) =>
      name -> adjudicated.get(name).map(a => math.min(mn, a._4)).getOrElse(mn)
    }.toMap

    val qs = results.map { case (k, _) => s"\"" + k + "\":" + finalMin(k) }
      .mkString("{", ",", "}")
    val qsMed = results.map { case (k, (_, md)) => s"\"" + k + "\":" + md }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val adjJson = adjudicated.toSeq.sortBy(_._1).map {
      case (k, (base, wmn, wmd, rmn, rmd)) =>
        s"\"" + k + "\":" + s"""{"baseline":$base,"window_min":$wmn,"window_median":$wmd,"rerun_min":$rmn,"rerun_median":$rmd}"""
    }.mkString("{", ",", "}")
    val total = results.map { case (k, _) => finalMin(k) }.sum
    val totalMed = results.map(_._2._2).sum
    // run provenance (VERDICT r10 recordkeeping): stamp WHICH run this
    // artifact is, so a committed bench_out.json and a BASELINE.md
    // narrative row can cite the same run unambiguously
    val runMeta = {
      val ts = java.time.Instant.now().toString
      val sha = try {
        val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        if (p.waitFor() == 0 && out.matches("[0-9a-f]+")) out else "unknown"
      } catch { case _: Throwable => "unknown" }
      s""""run_meta":{"ts":"$ts","git_sha":"$sha","adjudications":${adjudicated.size},"n_queries":${results.size}}"""
    }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","runs_per_query":$runs,"agg":"min","total_median":$totalMed,$runMeta,"queries":$qs,"queries_median":$qsMed,"adjudicated":$adjJson,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // sbt prefixes every stdout line with [info], which defeated the
    // driver's JSON parse in round 1 (BENCH_r01 "parsed": null) — also
    // write the bare line to a file the driver can read directly
    // a filtered (SPARK_GRAFT_BENCH_ONLY) dev run must NOT stomp the
    // full-id trailing record the next run's adjudication compares
    // against — route partial runs to a sibling file instead
    val defaultOut =
      if (only.isDefined) "bench_out_partial.json" else "bench_out.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    // TRAILING-RECORD INTEGRITY (VERDICT r11 #2): stdout / the driver's
    // BENCH file always carry this run's true measurements, but the
    // trailing record a steal window writes is min-folded against the
    // record it would replace — an inflated window must never raise the
    // baselines the next run adjudicates against
    val recordJson =
      if (only.isDefined || adjudicated.size < StealWindowAdjudications) json
      else {
        val folded = foldTrailingRecord(trailing, finalMin, adjudicated.size)
        val fq = results.map { case (k, _) => s"\"" + k + "\":" + folded(k) }
          .mkString("{", ",", "}")
        val ftotal = results.map { case (k, _) => folded(k) }.sum
        s"""{"metric":"total","value":$ftotal,"unit":"sec","runs_per_query":$runs,"agg":"min","total_median":$totalMed,$runMeta,"record_policy":"min_fold_steal_window","queries":$fq,"queries_median":$qsMed,"adjudicated":$adjJson,"failed":$failedJson,"sf":"$sfDir"}"""
      }
    val w = new java.io.PrintWriter(new java.io.File(outPath))
    try w.println(recordJson) finally w.close()
    spark.stop()
  }
}
