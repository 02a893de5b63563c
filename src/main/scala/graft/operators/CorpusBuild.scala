package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.sources.{BucketedIndex, IO}

/** Configuration of the composed LIVE ingest chain (VERDICT r16 #1) —
  * the streaming twin of [[CorpusBuild.buildCorpus]]: which stages run
  * and which persisted artifacts they gate against / advance. Stage
  * order is fixed (exact-dedup → near-dup → winnow → decontaminate →
  * DSIR quality → diversity); optional stages switch on by naming
  * their artifact. Where each stage rule lives: winnow, span
  * excision, DSIR quality and diversity admission decide in ONE
  * function each ([[CorpusBuild.winnowStage]],
  * [[CorpusBuild.spanStage]], [[CorpusBuild.qualityStage]],
  * [[CorpusBuild.diversityAdmit]]; the index + census advance is
  * [[CorpusBuild.advanceDiversity]]), which the matching standalone
  * gate sink and buildCorpus's winnow and quality stages call too;
  * near-dup shares [[Dedup.nearDupAgainstIndex]] with the near-dup
  * sink; drop-mode decontamination is buildCorpus's Bloom predicate.
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
    Checkpoints.scoped(docs.sparkSession) { pin =>
      // stage 1: exact content dedup — min-id keeper per md5 fingerprint
      // (the q_dedup_doc policy), then seed the fingerprint index from
      // the SURVIVORS (index == admitted content). The RAW corpus is
      // deliberately NOT materialized (at 100 TB that would copy the
      // input): it is scanned exactly twice — keeper aggregation and the
      // keeper semi-join — and the raw row count folds off the
      // keeper relation's per-content copy counts (distinct-content-
      // sized), not a third corpus scan.
      val keepers = pin(docs // feeds the raw count + the semi-join
        .groupBy(Text.fingerprint(col(textCol)).as("__fp"))
        .agg(min(col(idCol)).as(idCol), count(lit(1)).as("__copies")))
      // coalesce: sum over ZERO rows is null — an empty input corpus is
      // a legal build (raw = 0, every artifact seeds "no index yet")
      val rawCount = keepers
        .agg(coalesce(sum(col("__copies")), lit(0L)).as("n"))
        .head().getLong(0)
      // feeds the index write + 3 near-dup scans
      val exact = pin(docs.join(keepers.select(idCol), Seq(idCol), "left_semi"))
      Dedup.writeFingerprintIndex(exact, textCol, fpIndexDir)
      // stage 2: near-dup collapse (MinHash+LSH candidates → exact
      // Jaccard confirm → min-id canonical — the q_dedup_cluster_minhash
      // recipe), then seed the band index from the survivors
      // feeds the index write + the final pass
      val near = pin(Dedup.clusterByMinhash(exact, idCol, textCol, nearDupThreshold))
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
          // fps feed the pairs and the index seed; the survivors feed the
          // seed and the final pass
          val w = winnowStage(near, idCol, textCol, winnowMinShared, pin)
          Dedup.writeWinnowFps(
            w.fps.join(w.kept.select(col(idCol).as("id")), Seq("id"), "left_semi"),
            dir)
          w.kept
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
          // feeds the ledger agg + the kept filter (and the shard
          // write's range sampler downstream)
          val rewritten = pin(winnowed.drop(textCol)
            .join(Dedup.removeDuplicatedSpans(winnowed, idCol, textCol, l)
              .withColumnRenamed("id", idCol), Seq(idCol)))
          val toks = rewritten
            .agg(coalesce(sum(col("n_removed")), lit(0L)).as("t"))
            .head().getLong(0)
          (rewritten.filter(col("clean_text") =!= "")
            .withColumnRenamed("clean_text", textCol)
            .drop("n_tokens", "n_removed"), toks)
        case None => (winnowed, 0L)
      }
      // optional stage 2⅞: DSIR quality selection — the live quality
      // gate's own decision ([[qualityStage]], which IO.dsirGateSink and
      // the chain run too, so a doc admitted here is the doc the gate
      // would admit). The score pass is one narrow explode + broadcast LM
      // join over the dedup survivors; the keep is a semi-join on the
      // kept ids, and only the kept rows are pinned.
      val qualified = qualityLm match {
        case Some(lm) =>
          pin(qualityStage(spanned, lm, idCol, textCol, qualityThresholdPico,
              identity).kept) // feeds the observed pass below
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
      val pinned = pin(mixed)
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
    * probe/LM/census). `batch` must already be pinned: its one consume
    * feeds every stage.
    *
    * The stages pin through `pin`, whose scope owns their release: the
    * composed sink passes its batch's [[Checkpoints.Pins]] and releases
    * them once the WAL write has read them. The decision is a fold over the enabled
    * stages in [[ChainOutcomes]] order: each stage maps its input to
    * its pinned survivors plus the WAL columns it records per doc, a
    * doc's outcome is the stage it did not survive, and the WAL's audit
    * columns are the enabled stages' columns, null-typed for the rest. */
  def chainDecide(batch: DataFrame, cfg: ChainConfig,
                  pin: Checkpoints.Pins): DataFrame = {
    val spark = batch.sparkSession
    val id = cfg.idCol; val txt = cfg.textCol
    type Stage = DataFrame => (DataFrame, Option[DataFrame])
    // exact: intra-batch min-id keeper per content fingerprint, then the
    // fp-index gate (missing index = cold start)
    val exact: Stage = in => {
      val withFp = in.withColumn("__fp", Text.fingerprint(col(txt)))
      val intra = withFp.join(
        withFp.groupBy("__fp").agg(min(col(id)).as(id)).select(id),
        Seq(id), "left_semi")
      (BucketedIndex.read(spark, cfg.fpIndexDir)
        .fold(intra)(idx => intra.join(idx.select(col("fp").as("__fp")),
          Seq("__fp"), "left_anti"))
        .drop("__fp"), None)
    }
    // near-dup: intra LSH collapse + band-index gate (cold-start tolerant)
    val nearDup: Stage = in => (Dedup.nearDupAgainstIndex(in, id, txt,
      cfg.bandIndexDir, cfg.nearDupThreshold), None)
    val winnow = cfg.winnowIndexDir.map[Stage](wd => in =>
      (winnowStage(in, id, txt, cfg.winnowMinShared, pin,
        Some(wd -> batch)).kept, None))
    // decontamination: drop mode rides the SAME Bloom predicate
    // buildCorpus uses, span mode the standalone span sink's stage
    val decontaminate = cfg.probeDir.map[Stage](pd => in =>
      if (cfg.decontaminateSpans) {
        val s = spanStage(in, pd, id, txt, cfg.shingleN, pin)
        (s.kept, Some(s.cleaned.select(col(id).as("id"),
          when(col("n_removed") > 0, col("clean_text")).as("ship_text"),
          col("n_removed"))))
      } else (in.filter(Dedup.bloomKeepPredicate(
        IO.readArtifact(spark, pd), txt, cfg.shingleN)), None))
    // quality judges the text that SHIPS (post-excision)
    val quality = cfg.lmDir.map[Stage](ld => in => {
      val s = qualityStage(in, IO.readArtifact(spark, ld), id, txt,
        cfg.qualityThresholdPicoPerToken, pin)
      (s.kept, Some(s.scored.select(col(id).as("id"), col("n_tokens"),
        col("weight_pico"))))
    })
    // diversity: occupancy from the census; unembedded docs pass (the
    // diversityCapSample contract)
    val diversity = for (ec <- cfg.embCol; dd <- cfg.diversityIndexDir)
      yield ((in: DataFrame) => {
        val admitted = diversityAdmit(
          in.filter(col(ec).isNotNull).select(col(id), col(ec)),
          Sampling.readBucketOccupancy(spark, dd), id, ec, cfg.diversityCap,
          pin)
        val keep = in.filter(col(ec).isNull).select(col(id))
          .unionByName(admitted.select(col(id)))
        (in.join(keep, Seq(id), "left_semi"),
          Some(admitted.select(col(id).as("id"), col("bucket"))))
      }): Stage
    val stages = Seq(Some(exact), Some(nearDup), winnow, decontaminate,
        quality, diversity).zip(ChainOutcomes)
      .collect { case (Some(stage), outcome) => (stage, outcome) }
    def idsOf(df: DataFrame) = df.select(col(id).as("id"))
    val (admitted, dropped, audits) = stages
      .foldLeft((batch, Seq.empty[DataFrame], Seq.empty[DataFrame])) {
        case ((in, dropped, audits), (stage, outcome)) =>
          val (out, audit) = stage(in)
          val kept = pin(out)
          (kept, dropped :+ idsOf(in).join(idsOf(kept), Seq("id"), "left_anti")
            .select(col("id"), lit(outcome).as("outcome")), audits ++ audit)
      }
    val outcomes = (dropped :+ idsOf(admitted)
        .select(col("id"), lit("admitted").as("outcome")))
      .reduce(_ unionByName _)
    WalAuditColumns.foldLeft(audits.foldLeft(outcomes)(_.join(_, Seq("id"), "left"))) {
        case (df, (c, t)) =>
          if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast(t))
      }
      .select(("id" +: "outcome" +: WalAuditColumns.map(_._1)).map(col): _*)
  }

  /** The decisions WAL's per-doc audit columns and their types, in
    * order; a disabled stage's columns are all null. */
  private val WalAuditColumns = Seq("ship_text" -> "string",
    "n_tokens" -> "long", "weight_pico" -> "long", "n_removed" -> "long",
    "bucket" -> "long")

  // ---- the gate stages: each ingest gate's decision, written once ----
  //
  // buildCorpus, the composed chain and the standalone gate sinks in
  // graft.sources.IO all decide through these. Each takes the stage's
  // input and its pre-batch state (index dir, probe, LM, occupancy) and
  // returns the kept rows plus the per-doc columns the WAL and the
  // sinks' audits record. `pin` is the caller's eager pin (a
  // micro-batch's Checkpoints.Pins, or identity): a stage pins only what
  // more than one of its consumers reads, and leaves `kept` lazy.

  /** The winnow (substring-family) gate. `fps`: ONE winnow pass over
    * `docs`, feeding both gates and the caller's index advance;
    * `pairs`: within-`docs` overlap pairs; `intra`: the min-id
    * canonical per overlap family. With `index` = (winnow index dir,
    * micro-batch), `matches` gates the intra survivors' fingerprints
    * against the index, never counting a match against the batch's own
    * ids (a replay whose rows the index already holds decides as
    * before); `kept` = intra survivors no index match flagged. */
  private[graft] final case class Winnowed(fps: DataFrame, pairs: DataFrame,
      intra: DataFrame, matches: Option[DataFrame], kept: DataFrame)
  private[graft] def winnowStage(docs: DataFrame, idCol: String, textCol: String,
      minShared: Long, pin: DataFrame => DataFrame,
      index: Option[(String, DataFrame)] = None): Winnowed = {
    val fps = pin(Dedup.winnowFingerprints(docs, idCol, textCol))
    val pairs = Dedup.winnowPairsFromFps(fps, minShared = minShared)
    val intra = pin(Dedup.keepCanonical(docs, pairs, idCol))
    val matches = index.map { case (dir, batch) =>
      Dedup.matchFpsAgainstWinnowIndex(
          fps.join(intra.select(col(idCol).as("id")), Seq("id"), "left_semi"),
          idCol, dir, minShared = minShared)
        .join(batch.select(col(idCol).as("match_id")), Seq("match_id"),
          "left_anti")
    }
    Winnowed(fps, pairs, intra, matches, matches.fold(intra)(m =>
      intra.join(m.select(idCol), Seq(idCol), "left_anti")))
  }

  /** The surgical decontamination gate: `cleaned` (idCol, n_tokens,
    * n_removed, clean_text) excises every probe-matching maximal span
    * ([[Dedup.removeContaminatedSpans]], probe re-read per batch so a
    * grown benchmark tightens the gate); `kept` = `docs` with the clean
    * text, minus the docs the excision emptied. */
  private[graft] final case class Excised(cleaned: DataFrame, kept: DataFrame)
  private[graft] def spanStage(docs: DataFrame, probeDir: String, idCol: String,
      textCol: String, n: Int, pin: DataFrame => DataFrame): Excised = {
    val cleaned = pin(Dedup.removeContaminatedSpans(docs,
        IO.readArtifact(docs.sparkSession, probeDir), idCol, textCol, n)
      .withColumnRenamed("id", idCol))
    Excised(cleaned, docs.drop(textCol)
      .join(cleaned.filter(col("clean_text") =!= "")
        .select(col(idCol), col("clean_text").as(textCol)), Seq(idCol)))
  }

  /** The DSIR quality gate: `scored` (idCol, n_tokens, weight_pico,
    * admitted) scores every doc with a token against the hashed LM
    * (b, ratio_pico); a doc is admitted when weight_pico ≥ threshold ·
    * n_tokens — exact integers, so a replay decides bit-for-bit.
    * Token-less docs never reach the explode and are rejected (no
    * content to judge). `kept` = the admitted `docs` rows. */
  private[graft] final case class Scored(scored: DataFrame, kept: DataFrame)
  private[graft] def qualityStage(docs: DataFrame, lm: DataFrame, idCol: String,
      textCol: String, thresholdPicoPerToken: Long, pin: DataFrame => DataFrame,
      buckets: Int = 4096): Scored = {
    val scored = pin(Sampling.dsirScore(docs, idCol, textCol,
        lm.select("b", "ratio_pico"), buckets)
      .withColumn("admitted",
        col("weight_pico") >= lit(thresholdPicoPerToken) * col("n_tokens")))
    Scored(scored, docs.join(scored.filter(col("admitted")).select(idCol),
      Seq(idCol), "left_semi"))
  }

  /** The diversity gate's admission, pinned: (idCol, bucket) of the
    * `vecs` (idCol, embCol — the caller picks which vectors compete)
    * that fit their semantic bucket's `cap` against the occupancy `occ`
    * (bucket, n_occ; a bucket absent from it is empty). A batch rank
    * never exceeds `cap` ([[Sampling.diversityCapRanked]] keeps the
    * bottom-`cap` per bucket in deterministic md5 order), so trimming to
    * rn + occupancy ≤ cap is the exact greedy admission. */
  private[graft] def diversityAdmit(vecs: DataFrame, occ: DataFrame, idCol: String,
      embCol: String, cap: Int, pin: DataFrame => DataFrame): DataFrame =
    pin(Sampling.diversityCapRanked(vecs, idCol, embCol, cap)
      .join(broadcast(occ), Seq("bucket"), "left")
      .na.fill(0L, Seq("n_occ"))
      .filter(col("rn") + col("n_occ") <= cap.toLong)
      .select(col(idCol), col("bucket")))

  /** Advance the bucket-membership index at `dir` and its census by one
    * batch's admitted `delta` (bucket, id: long), pinned by the caller.
    * An empty delta writes nothing: an empty partitioned append would
    * leave a schema-less dir that poisons the next occupancy read.
    * Order: `beforeIndex` (the standalone sink's corpus append) → `occ`
    * (the occupancy the census advances from, read before the index
    * changes) → index → census, so a crash before the census replays
    * against the old census. `isReplay` (a batch re-applied after a
    * crash) rebuilds the census from the index instead, exact under its
    * count-distinct semantics, and reconciles it even when the delta
    * re-applied as empty. */
  private[graft] def advanceDiversity(delta: DataFrame, dir: String, buckets: Int,
      isReplay: Boolean, occ: => DataFrame, beforeIndex: => Unit): Unit = {
    val spark = delta.sparkSession
    if (!delta.isEmpty) {
      beforeIndex
      val occBefore = occ
      BucketedIndex.append(Sampling.BucketMembershipIndex, dir, buckets, delta)
      if (isReplay) Sampling.writeBucketCensus(spark, dir)
      else Sampling.advanceBucketCensus(occBefore, delta.select("bucket"), dir)
    } else if (isReplay && BucketedIndex.exists(spark, dir))
      Sampling.writeBucketCensus(spark, dir)
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
                 isReplay: Boolean): Unit = Checkpoints.scoped(batch.sparkSession) { pin =>
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
    for (_ <- cfg.embCol; dd <- cfg.diversityIndexDir)
      advanceDiversity(pin(unindexed(admitted.filter(col("bucket").isNotNull)
          .select(col("bucket"), col("id").cast("long").as("id")), "id", dd)),
        dd, 64, isReplay, occ = pin(Sampling.readBucketOccupancy(spark, dd)),
        beforeIndex = ())
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
    // the rows past each stage, in stage order; the diversity stage's
    // survivors are the admitted
    val past = Seq("after_exact", "after_near_dup", "after_winnow",
        "after_decontaminate", "after_quality", "admitted")
      .zipWithIndex.map { case (name, r) =>
        sum(when(col("__r") >= r + 1, 1L).otherwise(0L)).as(name) }
    decisions.select(rankCol.as("__r"), col("n_removed"))
      .agg(count(lit(1)).as("raw"), past :+
        coalesce(sum(col("n_removed")), lit(0L)).as("span_tokens_removed"): _*)
      .withColumn("__batch", lit(batchId))
  }
}
