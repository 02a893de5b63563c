package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.sources.BucketedIndex

/** Configuration of the composed LIVE ingest chain (VERDICT r16 #1) —
  * the streaming twin of [[CorpusBuild.buildCorpus]]: which stages run
  * and which persisted artifacts they gate against / advance. Stage
  * order is fixed (exact-dedup → near-dup → winnow → decontaminate →
  * DSIR quality → diversity); optional stages switch on by naming
  * their artifact. Every operator is the SAME one the stage's
  * standalone gate sink and batch query id use — composition, not
  * re-implementation (the buildCorpus contract).
  *
  * Divergence from buildCorpus, documented: (1) the batch build's
  * internal duplicated-SPAN stage needs corpus-wide span statistics a
  * micro-batch cannot see and is not part of the chain; (2) buildCorpus
  * runs decontamination AFTER diversity (its budget competition is
  * among quality survivors), the chain runs it BEFORE quality/diversity
  * (a gate should not bill budget for docs it is about to reject) — the
  * two agree whenever no decontaminated doc competes for a diversity
  * bucket (the parity law's fixture shape; ScalePathSpec pins it). */
final case class ChainConfig(
    idCol: String, textCol: String,
    /** exact-dedup fingerprint index — gated against AND advanced */
    fpIndexDir: String,
    /** MinHash band index — gated against AND advanced */
    bandIndexDir: String,
    nearDupThreshold: Double = 0.7,
    /** winnow substring index — stage on when set */
    winnowIndexDir: Option[String] = None,
    winnowMinShared: Long = 2L,
    /** probe/benchmark parquet dir — decontamination on when set;
      * re-read per batch, so a grown benchmark tightens the gate
      * without restart */
    probeDir: Option[String] = None,
    /** false = whole-doc drop via the SAME Bloom predicate buildCorpus
      * uses ([[Dedup.bloomKeepPredicate]] — parity by construction);
      * true = surgical span excision ([[Dedup.removeContaminatedSpans]]
      * — admits cleaned text, drops only emptied docs) */
    decontaminateSpans: Boolean = false,
    shingleN: Int = 5,
    /** DSIR log-ratio LM dir ([[Sampling.dsirLm]] output) — quality
      * stage on when set; re-read per batch */
    lmDir: Option[String] = None,
    qualityThresholdPicoPerToken: Long = 0L,
    /** embedding column carried ON the doc stream — diversity stage on
      * when set together with `diversityIndexDir`; docs with a null
      * embedding pass through (the diversityCapSample contract) */
    embCol: Option[String] = None,
    /** bucket-membership index — gated against AND advanced */
    diversityIndexDir: Option[String] = None,
    diversityCap: Int = 3)

/** The composed corpus-build lifecycle (VERDICT r13 #3) — the first
  * thing a real pretraining-pipeline user runs: raw documents through
  * every hygiene stage into a sorted, sharded training corpus, seeding
  * the persisted serving artifacts the streaming ingest sinks
  * ([[graft.sources.IO.nearDupDedupSink]] and friends) then gate
  * against. Each stage is the SAME operator the stage's standalone
  * query id uses — the pipeline is composition, not re-implementation —
  * and ScalePathSpec pins pipeline == sequential-stages equality.
  *
  * Stage order is the cost-correct one for 100 TB: exact dedup first
  * (cheapest per row — one hash shuffle — and the biggest typical row
  * cut), then near-dup (LSH candidates over survivors only), then
  * decontamination (zero-shuffle Bloom predicate over what remains),
  * then the domain mix (narrow deterministic filter), then one
  * range-partitioned write. Nothing re-scans the raw corpus after
  * stage 1; stages 3–4 are ONE observed pass (both predicates fused
  * into the final-corpus materialization the shard write then reads).
  */
object CorpusBuild {

  /** Per-stage row ledger of one composed build — what a pipeline
    * review reads: every dropped row accounted to the stage that
    * dropped it. `afterDecontaminate`/`afterMix` come from
    * [[Analytics.observedFilter]] counters collected ON the shard-write
    * pass itself (`afterWinnow` is that pass's rows_in — free); the
    * dedup-stage counts are read from the stages' materialized (reused)
    * outputs, not extra plan executions. With the winnow stage off,
    * `afterWinnow == afterNearDup` (a no-op stage drops nothing); with
    * the span stage off, `afterSpanRemoval == afterWinnow` and
    * `spanTokensRemoved == 0`. `afterSpanRemoval` counts docs surviving
    * the empty-after-excision drop; `spanTokensRemoved` bills EVERY
    * excised token, including those of the subsequently-dropped empty
    * docs. `afterQuality`/`afterDiversity` are -1 when their stages are
    * off; with both on, `afterQuality` counts DSIR survivors and
    * `afterDiversity` the rows surviving the semantic bucket cap (the
    * observed pass's rows_in). */
  final case class CorpusLedger(raw: Long, afterExactDedup: Long,
                                afterNearDup: Long, afterWinnow: Long,
                                afterDecontaminate: Long,
                                afterMix: Long,
                                afterSpanRemoval: Long = -1L,
                                spanTokensRemoved: Long = 0L,
                                afterQuality: Long = -1L,
                                afterDiversity: Long = -1L)

  /** Run the full build. Writes three artifacts: the exact-dedup
    * fingerprint index (`fpIndexDir` — [[Dedup.writeFingerprintIndex]]
    * over the exact survivors), the near-dup band index (`bandIndexDir`
    * — [[Dedup.writeNearDupIndex]] over the near-dup survivors: both
    * indexes reflect ADMITTED content, the ingest-gate contract), and
    * the quality-sorted shard layout (`shardDir` —
    * [[Sampling.writeSortedShards]] on `sortCol`). Returns the
    * per-stage ledger.
    *
    * The probe relation is the benchmark/eval set for decontamination
    * (Bloom gate — [[Dedup.bloomKeepPredicate]]; false positives
    * over-drop, the conservative direction). `mixRates` is the
    * per-stratum keep policy of [[Sampling.mixSample]] (deterministic
    * md5-cell membership — stable across runs and engines).
    * `winnowIndexDir` enables the optional substring-family stage and
    * names its fourth artifact: the winnow fingerprint index seeded
    * from the stage's survivors, serving
    * [[graft.sources.IO.winnowIngestSink]] from the first micro-batch.
    * `spanRemovalWindowLen` enables the optional exact duplicated-SPAN
    * stage ([[Dedup.removeDuplicatedSpans]] at that window length) —
    * the sub-document treatment that EXCISES shared runs instead of
    * dropping whole docs; emptied docs are dropped. `qualityLm` enables
    * the optional DSIR quality-selection stage ([[Sampling.dsirScore]]
    * against the given ≤4096-row log-ratio LM — train it with
    * [[Sampling.dsirLm]], typically on an external reference corpus):
    * docs whose exact-integer weight clears
    * `qualityThresholdPico`·n_tokens survive; token-less docs are
    * rejected (no content to judge — the
    * [[graft.sources.IO.dsirGateSink]] decision, verbatim). Runs after
    * the dedup family and BEFORE decontamination, so the probe gate
    * still judges exactly the text that ships. `diversityEmb` enables
    * the optional DIVERSITY-CAP stage ([[Sampling.diversityCapSample]]
    * — the q_diversity_sample selection, verbatim): pass the (idCol,
    * embedding) relation and each semantic LSH bucket keeps at most
    * `diversityCap` surviving docs in deterministic md5 order;
    * unembedded docs pass through. Runs after quality and BEFORE
    * decontamination for the same reason quality does — the budget
    * competition should be among quality survivors, and the probe gate
    * judges what ships. `diversityIndexDir` additionally seeds the live
    * gate's bucket-membership index from the embedded docs present in
    * the FINAL shard output ([[Sampling.writeBucketMembershipIndex]] —
    * index == SHIPPED content: docs the later decontamination/mix
    * stages drop do not bill their bucket, ADVICE r16), so
    * [[graft.sources.IO.diversityGateSink]] starts with every bucket
    * billed for exactly what the build shipped. */
  def buildCorpus(docs: DataFrame, probe: DataFrame,
                  idCol: String, textCol: String, stratumCol: String,
                  sortCol: String,
                  fpIndexDir: String, bandIndexDir: String,
                  shardDir: String,
                  nearDupThreshold: Double = 0.7,
                  mixRates: Map[String, Double] = Map.empty,
                  defaultMixRate: Double = 1.0,
                  shingleN: Int = 5,
                  numShards: Int = 16,
                  winnowIndexDir: Option[String] = None,
                  winnowMinShared: Long = 2L,
                  spanRemovalWindowLen: Option[Int] = None,
                  qualityLm: Option[DataFrame] = None,
                  qualityThresholdPico: Long = 0L,
                  diversityEmb: Option[DataFrame] = None,
                  diversityCap: Int = 3,
                  diversityIndexDir: Option[String] = None): CorpusLedger = {
    // stage 1: exact content dedup — min-id keeper per md5 fingerprint
    // (the q_dedup_doc policy), then seed the fingerprint index from
    // the SURVIVORS (index == admitted content). The RAW corpus is
    // deliberately NOT materialized (at 100 TB that would copy the
    // input): it is scanned exactly twice — keeper aggregation and the
    // keeper semi-join — and the raw row count folds off the
    // keeper relation's per-content copy counts (distinct-content-
    // sized), not a third corpus scan.
    val keepers = docs
      .groupBy(Text.fingerprint(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("__copies"))
      .localCheckpoint(eager = true) // feeds the raw count + the semi-join
    // coalesce: sum over ZERO rows is null — an empty input corpus is
    // a legal build (raw = 0, every artifact seeds "no index yet")
    val rawCount = keepers
      .agg(coalesce(sum(col("__copies")), lit(0L)).as("n"))
      .head().getLong(0)
    val exact = docs.join(keepers.select(idCol), Seq(idCol), "left_semi")
      .localCheckpoint(eager = true) // feeds the index write + 3 near-dup scans
    Dedup.writeFingerprintIndex(exact, textCol, fpIndexDir)
    // stage 2: near-dup collapse (MinHash+LSH candidates → exact
    // Jaccard confirm → min-id canonical — the q_dedup_cluster_minhash
    // recipe), then seed the band index from the survivors
    val near = Dedup.clusterByMinhash(exact, idCol, textCol, nearDupThreshold)
      .localCheckpoint(eager = true) // feeds the index write + the final pass
    Dedup.writeNearDupIndex(near, idCol, textCol, bandIndexDir)
    // optional stage 2½: winnow (substring-family) collapse — the MOSS
    // local-guarantee pass catching the extract-of relationships
    // Jaccard misses (a 20-token verbatim lift inside an otherwise
    // fresh doc never clears a whole-doc similarity threshold). ONE
    // winnow pass (one positional explode) serves the pair step AND the
    // index seed — the winnowIngestSink discipline; the index reflects
    // SURVIVORS only (admitted content, the ingest-gate contract), so
    // the build hands the streaming gate exactly the state it needs.
    val winnowed = winnowIndexDir match {
      case Some(dir) =>
        val fps = Dedup.winnowFingerprints(near, idCol, textCol)
          .localCheckpoint(eager = true) // feeds pairs (df cap, sizes,
                                         // both join sides) + index seed
        val surv = Dedup.keepCanonical(near,
            Dedup.winnowPairsFromFps(fps, minShared = winnowMinShared),
            idCol)
          .localCheckpoint(eager = true) // feeds the seed + the final pass
        Dedup.writeWinnowFps(
          fps.join(surv.select(col(idCol).as("id")), Seq("id"), "left_semi"),
          dir)
        surv
      case None => near
    }
    // optional stage 2¾: exact duplicated-SPAN removal (Lee et al.
    // 2022's sub-document treatment — the alternative to winnow's
    // doc-level collapse: keep both docs, excise the shared run from
    // every occurrence; [[Dedup.removeDuplicatedSpans]] over the
    // doc-dedup survivors, so spans are measured against ADMITTED
    // content). Docs emptied by the excision (their whole text was
    // duplicated) are dropped. Runs BEFORE decontamination
    // deliberately: the probe gate must judge the text that SHIPS.
    // `spanTokensRemoved` counts every excised token, including those
    // of subsequently-dropped empty docs (the full excision bill).
    val (spanned, spanToks) = spanRemovalWindowLen match {
      case Some(l) =>
        val rewritten = winnowed.drop(textCol)
          .join(Dedup.removeDuplicatedSpans(winnowed, idCol, textCol, l)
            .withColumnRenamed("id", idCol), Seq(idCol))
          .localCheckpoint(eager = true) // feeds the ledger agg + the kept
                                         // filter (and the shard write's
                                         // range sampler downstream)
        val toks = rewritten
          .agg(coalesce(sum(col("n_removed")), lit(0L)).as("t"))
          .head().getLong(0)
        (rewritten.filter(col("clean_text") =!= "")
          .withColumnRenamed("clean_text", textCol)
          .drop("n_tokens", "n_removed"), toks)
      case None => (winnowed, 0L)
    }
    // optional stage 2⅞: DSIR quality selection — the composed form of
    // the live quality gate (the SAME Sampling.dsirScore fold and the
    // SAME exact-integer threshold comparison as IO.dsirGateSink, so a
    // doc admitted here is the doc the gate would admit). The score
    // pass is one narrow explode + broadcast LM join over the dedup
    // survivors; the keep is a semi-join on the kept ids.
    val qualified = qualityLm match {
      case Some(lm) =>
        val kept = Sampling.dsirScore(spanned, idCol, textCol, lm)
          .filter(col("weight_pico") >=
            lit(qualityThresholdPico) * col("n_tokens"))
          .select(idCol)
        spanned.join(kept, Seq(idCol), "left_semi")
          .localCheckpoint(eager = true) // feeds the observed pass below
      case None => spanned
    }
    // optional stage 2⁹⁄₁₀: the DIVERSITY cap — the composed form of
    // q_diversity_sample (the SAME Sampling.diversityCapRanked
    // selection): each semantic LSH bucket keeps at most `diversityCap`
    // of the surviving docs in deterministic md5 order; docs without an
    // embedding row pass through. The kept-id relation is
    // bucket-bounded (≤ cap·256 rows — broadcast at any corpus size).
    // (no checkpoint: the stage feeds only the single observed pass
    // below, which `pinned` already executes exactly once — EXCEPT when
    // the gate-index seed is requested, which adds its own pass over
    // the stage's embedded survivors)
    val diverse = diversityEmb match {
      case Some(emb) =>
        Sampling.diversityCapSample(qualified, idCol, emb,
          "embedding", diversityCap)
      case None => qualified
    }
    // stages 3–5, ONE observed pass: Bloom decontamination and the
    // domain mix are bare predicates, so both ride the shard write's
    // scan with observedFilter counters — per-stage accounting at zero
    // extra executions
    val (clean, deconObs) = Analytics.observedFilter(diverse,
      Dedup.bloomKeepPredicate(probe, textCol, shingleN),
      "corpus_decontaminate")
    val (mixed, mixObs) = Analytics.observedFilter(clean,
      Sampling.mixKeepPredicate(stratumCol, idCol, mixRates, defaultMixRate),
      "corpus_mix")
    // pin the final corpus BEFORE the sorted-shard write: the range
    // partitioner runs a sampling pass over its input, which would
    // execute the observed predicates a second time (doubling the
    // counters) and re-run the Bloom/mix work; the checkpoint runs the
    // observed plan exactly once and both write passes read the pinned
    // rows
    val pinned = mixed.localCheckpoint(eager = true)
    Sampling.writeSortedShards(pinned, sortCol, shardDir, numShards)
    // seed the live diversity gate's BUCKET-MEMBERSHIP index from the
    // embedded docs present in the FINAL shard output — not the
    // diversity stage's survivors (ADVICE r16): docs the later
    // decontamination/mix stages drop must not permanently bill their
    // semantic bucket's budget, or a gate started on this seed rejects
    // fresh arrivals in regions the shipped corpus doesn't hold.
    // index == SHIPPED content, the fp/band/winnow ingest-gate contract
    // at its strictest reading.
    for (emb <- diversityEmb; dir <- diversityIndexDir)
      Sampling.writeBucketMembershipIndex(
        emb.join(pinned.select(idCol), Seq(idCol), "left_semi"),
        idCol, "embedding", dir)
    val d = deconObs.get; val m = mixObs.get
    def asLong(x: Any): Long = x match {
      case null => 0L
      case l: Long => l
      case n: Number => n.longValue()
    }
    val nearCount = near.count()
    // ledger cascade: the observed pass's rows_in is the row count at
    // the LAST enabled pre-observed stage (free — collected on the one
    // shard-write execution); every earlier optional stage whose count
    // rows_in no longer witnesses reads its own (checkpointed) relation
    val laterOn = Seq(spanRemovalWindowLen.nonEmpty, qualityLm.nonEmpty,
      diversityEmb.nonEmpty)
    val winnowCount =
      if (!laterOn.exists(identity)) asLong(d("rows_in"))
      else if (winnowIndexDir.isEmpty) nearCount
      else winnowed.count()
    val spanCount =
      if (!laterOn.drop(1).exists(identity)) asLong(d("rows_in"))
      else spanned.count()
    val qualityCount =
      if (qualityLm.isEmpty) -1L
      else if (diversityEmb.isEmpty) asLong(d("rows_in"))
      else qualified.count()
    CorpusLedger(
      raw = rawCount,
      afterExactDedup = exact.count(),
      afterNearDup = nearCount,
      afterWinnow = winnowCount,
      afterDecontaminate = asLong(d("rows_kept")),
      afterMix = asLong(m("rows_kept")),
      afterSpanRemoval = spanCount,
      spanTokensRemoved = spanToks,
      afterQuality = qualityCount,
      afterDiversity = if (diversityEmb.isEmpty) -1L else asLong(d("rows_in")))
  }

  // ---- the composed LIVE ingest chain (VERDICT r16 #1/#2) ------------
  //
  // One micro-batch = two phases around ONE commit point:
  //
  //   decide  — every stage's outcome for every batch doc, computed
  //             from PRE-batch artifact state only (nothing mutated
  //             yet), persisted as the batch's DECISIONS WAL
  //             (`<out>/_decisions/__batch=<id>`, job-commit atomic);
  //   apply   — every effect (corpus, every index advance, census,
  //             ledger) REPLAYED FROM THE WAL, each idempotent or
  //             duplicate-harmless.
  //
  // A crash anywhere recovers consistently: before the WAL commits,
  // nothing was mutated and the replay recomputes identical decisions
  // from the unchanged pre-batch state; after it, the replay skips
  // recomputation entirely and re-applies from the WAL (decisions can
  // never drift mid-apply, even though the apply itself mutates the
  // state the decide phase read — the VERDICT #2 hazard: without the
  // WAL, a crash between two index advances would replay a batch whose
  // gates now see its own half-advanced content and decide
  // differently, leaving e.g. a corpus doc the band index never
  // learned). Corpus, ledger and WAL are batch-partitioned dynamic
  // overwrites (exactly-once); the fp advance anti-joins the index
  // (idempotent); the band/winnow/bucket advances dedup against the
  // index on the replay path and the census rebuilds from the index
  // there (exact under the countDistinct semantics).

  /** Per-doc outcome vocabulary of the chain's decisions WAL, in stage
    * order: a doc's outcome names the stage that dropped it, or
    * `admitted`. Stage-k survivors = outcomes after position k — what
    * [[chainApply]] derives each index's advance set from. */
  val ChainOutcomes: Seq[String] = Seq("exact_dup", "near_dup",
    "winnow_dup", "decontaminated", "quality", "diversity", "admitted")

  /** DECIDE phase: every stage's outcome for one micro-batch, from
    * pre-batch artifact state only — no mutation anywhere. Returns the
    * decisions relation (id, outcome, ship_text, n_tokens, weight_pico,
    * n_removed, bucket): `ship_text` is non-null only when the span
    * gate excised the doc's text (the corpus must ship the CLEAN text a
    * replay cannot re-derive — the probe may have grown); the audit
    * columns are non-null where their stage ran. Batch-proportional
    * throughout: every index gate is the standalone sink's probe shape
    * (batch-keyed joins against bucketed indexes, broadcast
    * probe/LM/census). */
  def chainDecide(batch: DataFrame, cfg: ChainConfig): DataFrame = {
    val spark = batch.sparkSession
    val id = cfg.idCol; val txt = cfg.textCol
    val b = batch.localCheckpoint(eager = true) // one consume, six stages
    // stage 1: exact — intra-batch min-id keeper per content
    // fingerprint, then the fp-index gate (missing index = cold start)
    val withFp = b.withColumn("__fp", Text.fingerprint(col(txt)))
    val intra1 = withFp.join(
      withFp.groupBy("__fp").agg(min(col(id)).as(id)).select(id),
      Seq(id), "left_semi")
    val s1 = BucketedIndex.read(spark, cfg.fpIndexDir)
      .fold(intra1)(idx => intra1.join(idx.select(col("fp").as("__fp")),
        Seq("__fp"), "left_anti"))
      .drop("__fp").localCheckpoint(eager = true)
    // stage 2: near-dup — intra LSH collapse + band-index gate (the
    // nearDupAgainstIndex verb, cold-start tolerant)
    val s2 = Dedup.nearDupAgainstIndex(s1, id, txt, cfg.bandIndexDir,
      cfg.nearDupThreshold).localCheckpoint(eager = true)
    // stage 3: winnow — one winnow pass feeds the intra gate and the
    // index gate (the winnowIngestSink single-pass discipline); index
    // matches against the batch's OWN ids are excluded (replay-stable)
    val s3 = cfg.winnowIndexDir match {
      case Some(wd) =>
        val fps = Dedup.winnowFingerprints(s2, id, txt)
          .localCheckpoint(eager = true)
        val intra = Dedup.keepCanonical(s2,
          Dedup.winnowPairsFromFps(fps, minShared = cfg.winnowMinShared),
          id).localCheckpoint(eager = true)
        val matches = Dedup.matchFpsAgainstWinnowIndex(
            fps.join(intra.select(col(id).as("id")), Seq("id"), "left_semi"),
            id, wd, minShared = cfg.winnowMinShared)
          .join(b.select(col(id).as("match_id")), Seq("match_id"),
            "left_anti")
        intra.join(matches.select(id), Seq(id), "left_anti")
          .localCheckpoint(eager = true)
      case None => s2
    }
    // stage 4: decontamination — probe re-read per batch; drop mode
    // rides the SAME Bloom predicate buildCorpus uses, span mode the
    // same excision verb the standalone span sink uses
    val (s4, excisedOpt) = cfg.probeDir match {
      case Some(pd) =>
        val probe = spark.read.parquet(pd)
        if (cfg.decontaminateSpans) {
          val cleaned = Dedup.removeContaminatedSpans(s3, probe, id, txt,
              cfg.shingleN)
            .withColumnRenamed("id", id)
            .localCheckpoint(eager = true) // one excision: audit + admit
          val kept = s3.drop(txt)
            .join(cleaned.filter(col("clean_text") =!= "")
              .select(col(id), col("clean_text").as(txt)), Seq(id))
            .localCheckpoint(eager = true)
          (kept, Some(cleaned))
        } else
          (s3.filter(Dedup.bloomKeepPredicate(probe, txt, cfg.shingleN))
            .localCheckpoint(eager = true), None)
      case None => (s3, None)
    }
    // stage 5: DSIR quality — LM re-read per batch; judges the text
    // that SHIPS (post-excision); token-less docs reject (the
    // dsirGateSink decision, verbatim)
    val (s5, scoredOpt) = cfg.lmDir match {
      case Some(ld) =>
        val lm = spark.read.parquet(ld).select("b", "ratio_pico")
        val scored = Sampling.dsirScore(s4, id, txt, lm)
          .localCheckpoint(eager = true) // one scoring: audit + admit
        val kept = scored.filter(col("weight_pico") >=
          lit(cfg.qualityThresholdPicoPerToken) * col("n_tokens"))
          .select(id)
        (s4.join(kept, Seq(id), "left_semi").localCheckpoint(eager = true),
          Some(scored))
      case None => (s4, None)
    }
    // stage 6: diversity — occupancy from the census (O(2^planes)
    // state), the q_diversity_sample ranking for intra-batch collapse;
    // unembedded docs pass (the diversityCapSample contract)
    val (s6, admittedEmbOpt) = (cfg.embCol, cfg.diversityIndexDir) match {
      case (Some(ec), Some(dd)) =>
        val vecs = s5.filter(col(ec).isNotNull).select(col(id), col(ec))
        val ranked = Sampling.diversityCapRanked(vecs, id, ec,
          cfg.diversityCap).select(col("bucket"), col("rn"), col(id))
        val occ = Sampling.readBucketOccupancy(spark, dd)
        val admittedEmb = ranked
          .join(broadcast(occ), Seq("bucket"), "left")
          .na.fill(0L, Seq("n_occ"))
          .filter(col("rn") + col("n_occ") <= cfg.diversityCap.toLong)
          .select(col(id), col("bucket"))
          .localCheckpoint(eager = true) // feeds the keep + the WAL
        val keep = s5.filter(col(ec).isNull).select(col(id))
          .unionByName(admittedEmb.select(col(id)))
        (s5.join(keep, Seq(id), "left_semi").localCheckpoint(eager = true),
          Some(admittedEmb))
      case _ => (s5, None)
    }
    // assemble outcomes: each doc named by the stage that dropped it
    def idsOf(df: DataFrame) = df.select(col(id).as("id"))
    val ladder = Seq(idsOf(b), idsOf(s1), idsOf(s2), idsOf(s3), idsOf(s4),
      idsOf(s5))
    val droppedAt = ladder.zip(ladder.tail :+ idsOf(s6))
      .zip(ChainOutcomes.init)
      .map { case ((pre, post), o) =>
        pre.join(post, Seq("id"), "left_anti")
          .select(col("id"), lit(o).as("outcome"))
      }
    val outcomes = droppedAt
      .reduce(_ unionByName _)
      .unionByName(idsOf(s6).select(col("id"),
        lit("admitted").as("outcome")))
    // enrich with the audit/apply columns (null where a stage was off
    // or the doc never reached it)
    val spanCols = excisedOpt match {
      case Some(cleaned) => outcomes.join(
        cleaned.select(col(id).as("id"),
          when(col("n_removed") > 0, col("clean_text"))
            .as("ship_text"),
          col("n_removed")),
        Seq("id"), "left")
      case None => outcomes
        .withColumn("ship_text", lit(null).cast("string"))
        .withColumn("n_removed", lit(null).cast("long"))
    }
    val qualCols = scoredOpt match {
      case Some(scored) => spanCols.join(
        scored.select(col(id).as("id"), col("n_tokens"),
          col("weight_pico")), Seq("id"), "left")
      case None => spanCols
        .withColumn("n_tokens", lit(null).cast("long"))
        .withColumn("weight_pico", lit(null).cast("long"))
    }
    val divCols = admittedEmbOpt match {
      case Some(adm) => qualCols.join(
        adm.select(col(id).as("id"), col("bucket")), Seq("id"), "left")
      case None => qualCols.withColumn("bucket", lit(null).cast("long"))
    }
    divCols.select("id", "outcome", "ship_text", "n_tokens",
      "weight_pico", "n_removed", "bucket")
  }

  /** APPLY phase: replay one batch's persisted decisions onto every
    * artifact — called with the WAL's contents, never recomputed
    * decisions. `isReplay` = the WAL already existed when the batch
    * arrived (a crash happened mid-apply): the band/winnow/bucket
    * advances then dedup against their index first and the census
    * rebuilds from the index — the batch-proportional idempotence
    * price, paid only on the recovery path. Effects and their
    * idempotence:
    *
    *   - corpus (`outDir`, partitioned `__batch=<id>`): dynamic
    *     overwrite — exactly-once;
    *   - ledger (`outDir/_ledger`): same;
    *   - fp index: append is index-anti-joined — idempotent always;
    *   - band/winnow/bucket indexes: plain append first run, index-
    *     deduped append on replay;
    *   - census: incremental advance first run, index rebuild on
    *     replay (exact — countDistinct semantics). */
  def chainApply(batch: DataFrame, decisions: DataFrame, outDir: String,
                 cfg: ChainConfig, batchId: Long,
                 isReplay: Boolean): Unit = {
    val spark = batch.sparkSession
    val id = cfg.idCol; val txt = cfg.textCol
    val d = decisions
    def past(stages: String*): DataFrame = batch.join(
      d.filter(!col("outcome").isin(stages: _*)).select(col("id").as(id)),
      Seq(id), "left_semi")
    // 1. corpus — admitted docs, excised text substituted where the WAL
    // recorded it (the probe may have grown since; the WAL is truth)
    val admitted = d.filter(col("outcome") === "admitted")
    val shipped = batch
      .join(admitted.select(col("id").as(id), col("ship_text")), Seq(id))
      .withColumn(txt, coalesce(col("ship_text"), col(txt)))
      .drop("ship_text")
    if (!shipped.isEmpty)
      shipped.withColumn("__batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch").parquet(outDir)
    // the replay path's index-deduped advance: rows of `df` whose
    // `key` is already an `id` in the index relation at `rel` drop
    def unindexed(df: DataFrame, key: String, rel: String): DataFrame =
      if (!isReplay) df
      else BucketedIndex.read(spark, rel).fold(df)(idx =>
        df.join(idx.select(col("id").as(key)), Seq(key), "left_anti"))
    // 2. fp index ← stage-1 survivors (ORIGINAL text fingerprints — the
    // gate judges raw arrivals, the buildCorpus artifact semantics);
    // each index verb below seeds a cold index and writes nothing for
    // an empty delta
    Dedup.appendFingerprintIndex(past("exact_dup"), txt, cfg.fpIndexDir)
    // 3. band index ← stage-2 survivors
    Dedup.appendNearDupIndex(unindexed(past("exact_dup", "near_dup"), id,
      s"${cfg.bandIndexDir}/docs"), id, txt, cfg.bandIndexDir)
    // 4. winnow index ← stage-3 survivors
    cfg.winnowIndexDir.foreach { wd =>
      Dedup.appendWinnowIndex(unindexed(
        past("exact_dup", "near_dup", "winnow_dup"), id, s"$wd/fps"),
        id, txt, wd)
    }
    // 5. bucket-membership index + census ← admitted embedded docs
    // (bucket comes from the WAL, never recomputed)
    for (_ <- cfg.embCol; dd <- cfg.diversityIndexDir) {
      val delta = unindexed(admitted.filter(col("bucket").isNotNull)
          .select(col("bucket"), col("id").cast("long").as("id")), "id", dd)
        .localCheckpoint(eager = true)
      if (!delta.isEmpty) {
        val occBefore = Sampling.readBucketOccupancy(spark, dd)
          .localCheckpoint(eager = true) // read BEFORE the append below
        BucketedIndex.append(Sampling.BucketMembershipIndex, dd, 64, delta)
        if (isReplay) Sampling.writeBucketCensus(spark, dd)
        else Sampling.advanceBucketCensus(occBefore, delta.select("bucket"), dd)
      } else if (isReplay && BucketedIndex.exists(spark, dd))
        // the crash may have landed between index append and census
        // advance — reconcile the census even when the delta re-applied
        // as empty
        Sampling.writeBucketCensus(spark, dd)
    }
    // 6. ledger — one row per batch, derived from the WAL (exactly-once
    // via the same batch-partitioned dynamic overwrite)
    chainLedgerRow(d, batchId)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch").parquet(s"$outDir/_ledger")
  }

  /** One batch's ledger row from its decisions: the buildCorpus
    * [[CorpusLedger]] cascade at batch grain — every doc accounted to
    * the stage that dropped it, plus the span-excision token bill. */
  def chainLedgerRow(decisions: DataFrame, batchId: Long): DataFrame = {
    val rank = ChainOutcomes.zipWithIndex.toMap
    val rankCol = ChainOutcomes.foldRight(lit(-1)) { (o, acc) =>
      when(col("outcome") === o, lit(rank(o))).otherwise(acc)
    }
    decisions.select(rankCol.as("__r"), col("n_removed"))
      .agg(
        count(lit(1)).as("raw"),
        sum(when(col("__r") >= 1, 1L).otherwise(0L)).as("after_exact"),
        sum(when(col("__r") >= 2, 1L).otherwise(0L)).as("after_near_dup"),
        sum(when(col("__r") >= 3, 1L).otherwise(0L)).as("after_winnow"),
        sum(when(col("__r") >= 4, 1L).otherwise(0L))
          .as("after_decontaminate"),
        sum(when(col("__r") >= 5, 1L).otherwise(0L)).as("after_quality"),
        sum(when(col("__r") >= 6, 1L).otherwise(0L)).as("admitted"),
        coalesce(sum(col("n_removed")), lit(0L))
          .as("span_tokens_removed"))
      .withColumn("__batch", lit(batchId))
  }
}
