package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType,
  StructField, StructType, TimestampType}

import graft.operators.{Checkpoints, CorpusBuild}

/** Source/sink pack (SURVEY.md §2.A). The reference's connector surface —
  * Kafka topics between layers, MySQL-CDC ingest, HBase dim store, Doris
  * OLAP sink, HDFS checkpoints (reference `pom.xml:153-195,69-73`) — maps
  * onto Spark's format-pluggable readers/writers. Hermetically (zero
  * egress) the stream boundary is modeled with file/rate/memory sources;
  * on a cluster the same call sites take `format("kafka")` options.
  */
object IO {

  // ---- bounded (batch) sources -------------------------------------

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Parquet-footer schema cache for ENGINE-WRITTEN artifact dirs
    * (r18, guide §6 — the [[graft.sources.Tables]] testdata cache,
    * extended to index artifacts): without an explicit schema every
    * `spark.read.parquet` runs a footer-inference JOB (~20-25 ms of
    * scheduling locally; a listing + footer RPC round-trip per query on
    * a cluster). The cached value is the inferred StructType — metadata
    * only, never rows; the scan itself re-reads the files on every
    * action, so rewritten artifact CONTENT is always observed fresh.
    *
    * Invalidation: each cached schema carries the dir's modification
    * time, and a read that sees another time infers again — one
    * `getFileStatus` per read, no Spark job. Every committed Spark
    * write (overwrite, dynamic overwrite, append) adds or removes an
    * entry at the dir root, so a path rewritten with a DIFFERENT schema
    * is re-inferred, never misread, whoever wrote it. (A store whose
    * directories carry no modification time would defeat this.) A
    * missing path reads through `spark.read`, which raises the usual
    * PATH_NOT_FOUND. */
  private val artifactSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()
  def readArtifact(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val mtime =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getModificationTime
      catch {
        case _: java.io.FileNotFoundException => return spark.read.parquet(path)
      }
    val cached = artifactSchemaCache.get(path)
    val schema =
      if (cached != null && cached._1 == mtime) cached._2
      else {
        val s = spark.read.parquet(path).schema
        artifactSchemaCache.put(path, (mtime, s))
        s
      }
    spark.read.schema(schema).parquet(path)
  }

  /** CSV with declared schema (never infer at scale — schema inference
    * reads the data twice). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** ORC — the second columnar format next to parquet (native in
    * spark-sql: same vectorized reader, predicate pushdown, and column
    * pruning contract). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** JSON-lines with declared schema; malformed rows land in
    * `_corrupt_record` when `keepCorrupt`, else are dropped (PERMISSIVE vs
    * DROPMALFORMED — the reference's dirty-JSON guard). */
  def readJson(spark: SparkSession, path: String, schema: StructType,
               keepCorrupt: Boolean = false): DataFrame = {
    val mode = if (keepCorrupt) "PERMISSIVE" else "DROPMALFORMED"
    spark.read.schema(schema).option("mode", mode).json(path)
  }

  // ---- unbounded (streaming) sources -------------------------------

  /** File stream source — the hermetic Kafka-topic stand-in: new files in
    * `dir` are consumed exactly once, offsets tracked in the checkpoint
    * (same at-least-once→exactly-once contract as the Kafka source). */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema).format(format)
      .option("maxFilesPerTrigger", "16").load(dir)

  /** Rate source — deterministic load generator for soak tests. */
  def rateStream(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()

  /** Kafka topic source — the cluster-side call site for the reference's
    * topic ingest (reference `pom.xml:153-156`): standard
    * `format("kafka")` option plumbing (bootstrap servers, subscribe
    * list, starting offsets, per-trigger rate cap). The returned frame
    * has the connector's fixed schema (key/value binary, topic,
    * partition, offset, timestamp); downstream parses `value`.
    *
    * This image carries no Kafka connector jar (zero egress), so
    * resolution fails at `load()` — the call site, option wiring, and
    * failure mode are covered by SourcesSpec via a recording stand-in
    * provider passed through `format`. */
  def kafkaStream(spark: SparkSession, bootstrapServers: String,
                  subscribe: String, startingOffsets: String = "latest",
                  maxOffsetsPerTrigger: Option[Long] = None,
                  format: String = "kafka"): DataFrame = {
    val reader = spark.readStream.format(format)
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", subscribe)
      .option("startingOffsets", startingOffsets)
    maxOffsetsPerTrigger
      .fold(reader)(n => reader.option("maxOffsetsPerTrigger", n.toString))
      .load()
  }

  // ---- sinks --------------------------------------------------------

  /** Exactly-once file sink (the Doris/Kafka sink stand-in): Structured
    * Streaming's file sink commits atomically per micro-batch via the
    * checkpointed file-sink log. */
  def parquetSink(df: DataFrame, outDir: String, checkpointDir: String)
      : DataStreamWriter[Row] =
    df.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  /** Kafka topic sink — the cluster-side call site for the reference's
    * inter-layer topics (DWD → DWS), mirroring [[kafkaStream]]. The input
    * frame must already carry `value` (and optionally `key`) columns per
    * the connector contract; exactly-once downstream requires the
    * consumer to read committed only. `format` is the same test seam. */
  def kafkaSink(df: DataFrame, bootstrapServers: String, topic: String,
                checkpointDir: String, format: String = "kafka")
      : DataStreamWriter[Row] =
    df.writeStream.format(format)
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  /** The skeleton every batch-body sink below shares: `body` runs once
    * per micro-batch over the checkpointed stream, in the backfill
    * (`AvailableNow`) trigger shape; callers may re-trigger the returned
    * writer. */
  private def foreachBatchSink(df: DataFrame, checkpointDir: String)
                              (body: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .trigger(Trigger.AvailableNow())

  /** The skeleton of every marked sink that pins its batch (the
    * ingest gates, the composed chain, the audit stores): a committed
    * batch is skipped ([[idempotentForeachBatch]], markers under
    * `outDir/_markers`), the batch is pinned once, and `body` runs over
    * it with the batch's [[Checkpoints.Pins]]. Every pin is released
    * after the body's last write — unpersist does NOT free
    * localCheckpoint blocks, and a long-running query would otherwise
    * keep one batch-sized block set per micro-batch. */
  private def pinnedBatchSink(df: DataFrame, outDir: String,
                              checkpointDir: String)
                             (body: (DataFrame, Long, Checkpoints.Pins) => Unit)
      : DataStreamWriter[Row] =
    foreachBatchSink(df, checkpointDir)(
      idempotentForeachBatch(s"$outDir/_markers") { (batch, batchId) =>
        Checkpoints.scoped(batch.sparkSession)(pin =>
          body(pin(batch), batchId, pin))
      })

  /** Streaming IVF index maintenance: each micro-batch of embeddings is
    * appended into a persisted IVF index via
    * [[graft.operators.Similarity.ivfAppendIndex]] — assign only the
    * batch, rewrite only the touched `ivf_list=` partitions. Replay
    * safety: the append is an id-level upsert, so a re-run batch
    * replaces its own rows and converges. The index (with centroids)
    * must already exist ([[graft.operators.Similarity.ivfWriteIndex]] is
    * the bootstrap); centroids are re-read per batch, so an offline
    * retrain is picked up at the next micro-batch. */
  def ivfIndexSink(vecs: DataFrame, indexDir: String, checkpointDir: String,
                   idCol: String, vecCol: String)
      : DataStreamWriter[Row] =
    foreachBatchSink(vecs, checkpointDir) { (batch, _) =>
      graft.operators.Similarity.ivfAppendIndex(batch, idCol, vecCol, indexDir)
    }

  /** Streaming FUSED (IVF-PQ) index ingest — the vector twin of
    * [[nearDupDedupSink]] (VERDICT r12 #8): each micro-batch of
    * embeddings appends through
    * [[graft.operators.Similarity.ivfPqAppendIndex]] (touched-lists-only
    * vector upsert + code refresh of exactly those lists — the
    * codes/vectors mirror holds after every batch), then the in-sink
    * drift policy runs the [[graft.operators.Similarity.ivfNeedsRetrain]]
    * census (a k-row metadata read, free per batch) and, when it fires,
    * applies the INCREMENTAL lever —
    * [[graft.operators.Similarity.ivfSplitOversizedLists]], whose fused
    * split re-derives the two touched code partitions per split. The
    * FULL retrain (the recall lever, corpus-proportional
    * [[graft.operators.Similarity.ivfPqRetrainIndex]]) stays an
    * operator/offline decision by design — the sink surfaces the need
    * (census true after a batch means scatter the splits can't fix may
    * be accruing) but never blocks ingest on a corpus-sized rebuild;
    * centroids + codebooks are re-read per batch, so an offline retrain
    * is picked up at the next micro-batch.
    *
    * Exactly-once: the marker pattern ([[idempotentForeachBatch]]) —
    * a replayed batch is consumed-but-skipped, so the retained index
    * bytes (and any split decisions) are untouched on replay, a
    * stronger guarantee than append-idempotence alone when the split
    * policy is active (a replay-rerun split would otherwise allocate a
    * fresh list id). Backfill shape: `AvailableNow`. The fused index
    * must already exist ([[graft.operators.Similarity.ivfPqWriteIndex]]
    * is the bootstrap); single writer by contract. */
  def ivfPqIndexSink(vecs: DataFrame, indexDir: String, checkpointDir: String,
                     idCol: String, vecCol: String,
                     splitSkewFactor: Double = 4.0)
      : DataStreamWriter[Row] =
    foreachBatchSink(vecs, checkpointDir)(
      idempotentForeachBatch(s"$indexDir/_markers") { (batch, _) =>
        val spark = batch.sparkSession
        graft.operators.Similarity.ivfPqAppendIndex(
          batch, idCol, vecCol, indexDir)
        if (graft.operators.Similarity.ivfNeedsRetrain(
            spark, indexDir, splitSkewFactor))
          graft.operators.Similarity.ivfSplitOversizedLists(
            spark, indexDir, idCol, vecCol, splitSkewFactor)
      })

  /** Streaming corpus ingest with incremental NEAR-dup dedup: each
    * micro-batch dedups against the persisted MinHash band index
    * ([[graft.operators.Dedup.nearDupAgainstIndex]] — intra-batch
    * collapse, then candidates-only exact confirm vs the index), novel
    * survivors append to BOTH the clean-corpus output and the index
    * ([[graft.operators.Dedup.appendNearDupIndex]]), so later batches
    * dedup against everything already admitted. The checkpoint makes
    * input consumption exactly-once; the two appends are idempotent
    * under replay only if the sink completed the batch — same
    * single-writer/at-least-once append contract as the IVF index sink,
    * appropriate for the backfill (`AvailableNow`) ingest shape. */
  def nearDupDedupSink(docs: DataFrame, indexDir: String, outDir: String,
                       checkpointDir: String, idCol: String, textCol: String,
                       threshold: Double)
      : DataStreamWriter[Row] =
    foreachBatchSink(docs, checkpointDir) { (batch, _) =>
      Checkpoints.scoped(batch.sparkSession) { pin =>
        val survivors = pin(graft.operators.Dedup // feeds both appends
          .nearDupAgainstIndex(batch, idCol, textCol, indexDir, threshold))
        survivors.write.mode("append").parquet(outDir)
        graft.operators.Dedup.appendNearDupIndex(
          survivors, idCol, textCol, indexDir)
      }
    }

  /** Streaming corpus ingest with benchmark DECONTAMINATION at the
    * gate — the streaming twin of the batch `q_decontaminate` pass:
    * each micro-batch drops every document sharing ANY word `n`-gram
    * with the probe/benchmark set (read fresh from `probeDir` per
    * batch, so a grown benchmark suite tightens the gate without a
    * restart), appends survivors to the clean corpus at `outDir` and
    * flagged docs to `quarantineDir` — the audit trail a hygiene review
    * reads (and the takedown path replays). The contaminated-id
    * relation is computed ONCE per batch
    * ([[graft.operators.Dedup.contaminatedIds]] — probe shingles
    * broadcast, corpus side one narrow explode, never a corpus
    * shuffle) and feeds both routes. Exactly-once: both appends happen
    * under ONE committed-batch marker ([[idempotentForeachBatch]]), so
    * a replayed batch is a no-op and a crash between the two appends
    * replays both (parquet job commits are restartable; the quarantine
    * append runs FIRST so a torn batch can only leave audit rows
    * without corpus rows — the conservative direction, never an
    * unaudited corpus doc). */
  def decontaminateIngestSink(docs: DataFrame, probeDir: String,
                              outDir: String, quarantineDir: String,
                              checkpointDir: String, idCol: String,
                              textCol: String, n: Int = 5)
      : DataStreamWriter[Row] =
    pinnedBatchSink(docs, outDir, checkpointDir) { (b, _, pin) =>
      val flagged = pin(graft.operators.Dedup.contaminatedIds(b,
        readArtifact(b.sparkSession, probeDir), idCol, textCol, n))
      b.join(flagged, Seq(idCol), "left_semi")
        .write.mode("append").parquet(quarantineDir)
      b.join(flagged, Seq(idCol), "left_anti")
        .write.mode("append").parquet(outDir)
    }

  /** Streaming corpus ingest with SURGICAL decontamination at the gate
    * — the excision twin of [[decontaminateIngestSink]] (live
    * `q_decontaminate_spans`): instead of dropping every doc sharing a
    * probe n-gram, each micro-batch EXCISES exactly the probe-matching
    * maximal token spans
    * ([[graft.operators.Dedup.removeContaminatedSpans]] — probe read
    * fresh per batch, so a grown benchmark tightens the gate without
    * restart), admits the cleaned text (untouched docs verbatim), and
    * drops only docs the excision EMPTIES (verbatim benchmark copies —
    * the whole-doc-drop outcome recovered exactly where it is right).
    * Every excision writes an audit row (id, n_tokens, n_removed,
    * emptied) to `auditDir` — the hygiene trail a review reads, the
    * surgical sibling of the drop sink's quarantine. The decision is
    * [[CorpusBuild.spanStage]], the chain's span stage. Exactly-once: both
    * appends under ONE committed-batch marker; the audit append runs
    * FIRST, so a torn batch can only leave audit rows without corpus
    * rows — never an unaudited excision. */
  def decontaminateSpanSink(docs: DataFrame, probeDir: String,
                            outDir: String, auditDir: String,
                            checkpointDir: String, idCol: String,
                            textCol: String, n: Int = 5)
      : DataStreamWriter[Row] =
    pinnedBatchSink(docs, outDir, checkpointDir) { (b, _, pin) =>
      val s = CorpusBuild.spanStage(b, probeDir, idCol, textCol, n, pin)
      s.cleaned.filter(col("n_removed") > 0)
        .select(col(idCol), col("n_tokens"), col("n_removed"),
          (col("clean_text") === "").as("emptied"))
        .write.mode("append").parquet(auditDir)
      s.kept.write.mode("append").parquet(outDir)
    }

  /** Streaming QUALITY gate — the live form of the DSIR selection pair
    * (`q_dsir_hashed` weights, `q_dsir_select` cut): each micro-batch
    * is scored against the hashed-unigram log-ratio LM persisted at
    * `lmDir` ([[graft.operators.Sampling.dsirLm]] writes it — ≤ 4096
    * rows, broadcast), and docs whose MEAN per-token log-ratio clears
    * `thresholdPicoPerToken` are admitted to `outDir`; every doc gets
    * an audit row (id, n_tokens, weight_pico, admitted) appended FIRST
    * (never an unaudited decision — the decontaminateSpanSink
    * discipline). The comparison is exact integer arithmetic
    * (weight_pico ≥ threshold·n_tokens — no division;
    * [[CorpusBuild.qualityStage]], the chain's and buildCorpus's
    * quality stage), so a replayed batch reproduces its decisions
    * bit-for-bit; the LM is RE-READ per
    * micro-batch, so retraining the reference (new target corpus)
    * tightens the gate without a restart. The SEVENTH ingest gate
    * (exact-dup, near-dup, winnow, semantic, decontaminate ×2 — and now
    * quality): the batch ids decide what a good corpus is, the gate
    * applies it as data arrives. Replay semantics (ADVICE r15 wording
    * fix): the committed-batch marker makes a COMMITTED batch's replay
    * a no-op, and the audit append runs first so a torn batch can only
    * leave audit rows without corpus rows — but a crash BETWEEN an
    * append's job commit and the marker write replays the whole batch,
    * duplicating already-appended rows (at-least-once for torn
    * batches). Decisions replay
    * bit-for-bit, so readers needing exactly-once dedup on (id) at
    * read time — duplicates are identical rows. */
  def dsirGateSink(docs: DataFrame, lmDir: String, outDir: String,
                   auditDir: String, checkpointDir: String,
                   idCol: String, textCol: String,
                   thresholdPicoPerToken: Long, buckets: Int = 4096)
      : DataStreamWriter[Row] =
    pinnedBatchSink(docs, outDir, checkpointDir) { (b, _, pin) =>
      val s = CorpusBuild.qualityStage(b, readArtifact(b.sparkSession, lmDir),
        idCol, textCol, thresholdPicoPerToken, pin, buckets)
      // token-less docs never reach the explode — audit them as
      // rejected (0 tokens, 0 weight) so every input has a decision
      val unscored = b.select(col(idCol))
        .join(s.scored.select(idCol), Seq(idCol), "left_anti")
        .select(col(idCol), lit(0L).as("n_tokens"),
          lit(0L).as("weight_pico"), lit(false).as("admitted"))
      s.scored.select(col(idCol), col("n_tokens"), col("weight_pico"),
          col("admitted"))
        .union(unscored)
        .write.mode("append").parquet(auditDir)
      s.kept.write.mode("append").parquet(outDir)
    }

  /** Streaming DIVERSITY gate — the EIGHTH ingest gate (exact-dup,
    * near-dup, winnow, semantic, decontaminate ×2, quality — and now
    * diversity; VERDICT r15 #2): the live form of the
    * `q_diversity_sample` cap. A vector is admitted while its semantic
    * LSH bucket ([[graft.operators.Sampling.diversityBucket]] — the
    * exact oracle-checked bucketing) is under `cap` against the
    * persisted BUCKET-MEMBERSHIP index at `indexDir`: (bucket, id) rows
    * appended per batch — id-attributed deliberately (NOT a count
    * census) so the takedown verb
    * ([[graft.operators.Sampling.deleteFromBucketMembershipIndex]])
    * is row-targeted and replay-idempotent, and a taken-down vector
    * FREES its bucket budget. Live occupancy comes from the CENSUS
    * sidecar ([[graft.operators.Sampling.readBucketOccupancy]] — ≤
    * 2^planes (bucket, n_occ) rows maintained incrementally per batch
    * and rebuilt by the seed/takedown verbs), so the per-batch state
    * read is O(2^planes) REGARDLESS of admitted-corpus size — the
    * cheapest gate state of the eight (ADVICE r16: the previous
    * grouped-count fold re-scanned the whole id-attributed index every
    * micro-batch). Intra-batch
    * collapse rides [[graft.operators.Sampling.diversityCapRanked]]
    * (bounded-heap bottom-`cap` per bucket in deterministic md5 order —
    * O(cap) state per bucket, never a window): a batch rank can never
    * exceed `cap` and the remaining budget never exceeds `cap`, so
    * trimming the bottom-`cap` to `rn + occupancy ≤ cap` is the exact
    * greedy admission ([[CorpusBuild.diversityAdmit]], the chain's
    * diversity stage, which also shares the index + census advance,
    * [[CorpusBuild.advanceDiversity]]). Cold start: missing index =
    * zero occupancy (the nearDupAgainstIndex contract); seed it from
    * an existing corpus
    * with [[graft.operators.Sampling.writeBucketMembershipIndex]].
    *
    * Replay semantics: committed batches are marker no-ops. Torn
    * batches: the corpus append runs FIRST, so a crash before the index
    * append replays identical decisions (occupancy unchanged) and can
    * only duplicate identical corpus rows (at-least-once); a crash
    * AFTER the index append self-bills the batch's own admissions on
    * replay — the re-ranked rows land beyond the advanced budget and
    * admit nothing extra, the conservative direction (the
    * semanticDedupSink torn-batch shape). */
  def diversityGateSink(vecs: DataFrame, indexDir: String, outDir: String,
                        checkpointDir: String, idCol: String,
                        vecCol: String, cap: Int, buckets: Int = 64)
      : DataStreamWriter[Row] =
    pinnedBatchSink(vecs, outDir, checkpointDir) { (b, _, pin) =>
      // occupancy from the CENSUS sidecar (≤ 2^planes rows), never a
      // per-batch scan of the id-attributed index (ADVICE r16: that
      // fold's input grew with the admitted corpus). A pre-census
      // index derives once and materializes below; a missing index
      // is zero occupancy (cold start). Pinned: the filtered census
      // feeds the admission AND the advance below, and the advance's
      // swap must not re-read the dir it is replacing.
      val occ = pin(graft.operators.Sampling
        .readBucketOccupancy(b.sparkSession, indexDir))
      val admitted = CorpusBuild.diversityAdmit(b, occ, idCol, vecCol, cap,
        pin)
      // corpus → index → census: a crash before the census advance
      // replays the batch against the old census — identical
      // decisions, duplicate-but-identical corpus/index rows
      // (countDistinct census semantics absorb them); a crash after it
      // self-bills the replay (admits nothing extra) — the
      // conservative direction
      CorpusBuild.advanceDiversity(
        admitted.select(col("bucket"), col(idCol).cast("long").as("id")),
        indexDir, buckets, isReplay = false, occ,
        beforeIndex = b.join(admitted.select(idCol), Seq(idCol), "left_semi")
          .write.mode("append").parquet(outDir))
    }

  /** Streaming embedding ingest with SEMANTIC dedup at the gate — the
    * vector twin of [[nearDupDedupSink]]: each micro-batch drops
    * vectors within `threshold` cosine of anything already admitted
    * ([[graft.operators.Similarity.semanticDedupAgainstIndex]] —
    * probe-pruned, never a full index scan), appends survivors to the
    * clean output AND the IVF index
    * ([[graft.operators.Similarity.ivfAppendIndex]], touched-lists
    * only), so later batches dedup against everything admitted. The
    * index must be PRE-SEEDED with
    * [[graft.operators.Similarity.ivfWriteIndex]] (IVF centroids need
    * training data — there is no meaningful cold-start training on an
    * arbitrary first micro-batch; seed on a representative sample).
    * Plain (unfused) index only: the in-sink append is a plain mutation
    * verb and refuses a fused index. Exactly-once via the
    * committed-batch marker over both effects. INTRA-batch near-dups
    * collapse too ([[graft.operators.Similarity.semanticCollapseBatch]]
    * — min-id canonical per within-batch family under the same probe
    * geometry and threshold), so a bursty producer emitting the same
    * embedding twice in one micro-batch admits exactly one copy — full
    * parity with [[nearDupDedupSink]]'s intra-batch step (VERDICT r13
    * #1). Torn-batch note: a crash AFTER the index append but before
    * the marker leaves the batch's own vectors indexed; the replay then
    * self-matches them against the index and admits nothing — no
    * duplicate corpus rows, the conservative direction (the out-append
    * rows from the torn run, if any landed, stay). */
  def semanticDedupSink(vecs: DataFrame, indexDir: String, outDir: String,
                        checkpointDir: String, idCol: String, vecCol: String,
                        threshold: Double, nprobe: Int = 4)
      : DataStreamWriter[Row] =
    foreachBatchSink(vecs, checkpointDir)(
      idempotentForeachBatch(s"$outDir/_markers") { (batch, _) =>
        Checkpoints.scoped(batch.sparkSession) { pin =>
          val intra = pin(graft.operators.Similarity // feeds the gate twice
            .semanticCollapseBatch(batch, idCol, vecCol, indexDir,
              threshold, nprobe))
          val novel = pin(graft.operators.Similarity // feeds both appends
            .semanticDedupAgainstIndex(intra, idCol, vecCol, indexDir,
              threshold, nprobe))
          novel.write.mode("append").parquet(outDir)
          graft.operators.Similarity.ivfAppendIndex(
            novel.select(col(idCol), col(vecCol)), idCol, vecCol, indexDir)
        }
      })

  /** Streaming corpus ingest with a WINNOWING substring gate — the
    * local-guarantee sibling of [[nearDupDedupSink]] (MinHash gates on
    * whole-document similarity and can miss with LSH probability; the
    * winnow gate flags ANY batch doc sharing a ≥8-token run with
    * admitted content, deterministically, modulo the df cap): per
    * micro-batch, the batch is winnowed ONCE
    * ([[graft.operators.Dedup.winnowFingerprints]]) and that single
    * selection feeds BOTH gates — (1) INTRA-batch collapse:
    * within-batch overlap pairs
    * ([[graft.operators.Dedup.winnowPairsFromFps]]) cluster and keep
    * the min-id canonical per family
    * ([[graft.operators.Dedup.keepCanonical]]), so two overlapping docs
    * in the SAME micro-batch admit exactly one (parity with
    * [[nearDupDedupSink]] — VERDICT r13 #1), the dropped ones flagged
    * with their best within-batch partner; (2) the INDEX gate:
    * intra-survivors matching admitted content
    * ([[graft.operators.Dedup.matchFpsAgainstWinnowIndex]]) flag with
    * their best indexed match. Both flag routes append to `flaggedDir`
    * (the full doc row + match_id, n_shared, score — the audit a review
    * reads), survivors append to `outDir`, and the survivors'
    * already-computed fingerprints advance the index
    * ([[graft.operators.Dedup.appendWinnowFps]] — no second winnow
    * pass) so later batches gate against everything admitted. Both
    * gates are [[CorpusBuild.winnowStage]], the chain's and buildCorpus's
    * winnow stage. Cold start: a missing index admits the
    * intra-collapsed first batch and seeds.
    *
    * Replay semantics (narrowed from "exactly-once over all effects" —
    * ADVICE r13): the committed-batch marker makes a COMPLETED batch an
    * exact no-op on replay. A crash mid-batch replays it, and the
    * gating DECISIONS are replay-stable even when the crash landed
    * after the index append: index matches against the batch's OWN ids
    * are excluded (through the index a batch doc could only meet itself
    * or a same-batch sibling the intra gate already adjudicated), and
    * the matcher counts DISTINCT shared hashes, so the duplicate index
    * rows a replayed append leaves inflate nothing. What a torn batch
    * CAN leave is duplicated audit/corpus rows from re-run appends —
    * the [[decontaminateIngestSink]] torn-window semantics, never
    * spurious self-flags. */
  def winnowIngestSink(docs: DataFrame, indexDir: String, outDir: String,
                       flaggedDir: String, checkpointDir: String,
                       idCol: String, textCol: String,
                       minShared: Long = 2L)
      : DataStreamWriter[Row] =
    pinnedBatchSink(docs, outDir, checkpointDir) { (b, _, pin) =>
      // gate 1 (intra-batch collapse) and gate 2 (the index gate on the
      // intra survivors; the batch's own ids never match, so a replayed
      // torn batch — index append landed, marker didn't — reproduces
      // the original decisions instead of self-flagging) share ONE
      // winnow pass, which also feeds the final index append
      val w = CorpusBuild.winnowStage(b, idCol, textCol, minShared, pin,
        Some(indexDir -> b))
      def bestOf(m: DataFrame): DataFrame = m
        .groupBy(idCol)
        .agg(max(struct(col("n_shared"), col("score"), col("match_id")))
          .as("m"))
        .select(col(idCol), col("m.match_id").as("match_id"),
          col("m.n_shared").as("n_shared"), col("m.score").as("score"))
      val intraFlag = bestOf(w.pairs
          .select(col("id_a").as(idCol), col("id_b").as("match_id"),
            col("n_shared"), col("score"))
          .unionAll(w.pairs
            .select(col("id_b").as(idCol), col("id_a").as("match_id"),
              col("n_shared"), col("score"))))
        .join(w.intra.select(idCol), Seq(idCol), "left_anti")
      b.join(w.matches.fold(intraFlag)(m => intraFlag.unionAll(bestOf(m))),
          Seq(idCol), "inner")
        .write.mode("append").parquet(flaggedDir)
      val novel = pin(w.kept) // feeds the corpus append AND the index
      novel.write.mode("append").parquet(outDir)
      graft.operators.Dedup.appendWinnowFps(
        w.fps.join(novel.select(col(idCol).as("id")), Seq("id"),
          "left_semi"),
        indexDir)
    }

  /** The COMPOSED live ingest chain — every hygiene gate in ONE
    * streaming sink (VERDICT r16 #1): per micro-batch, exact-dedup →
    * near-dup → (winnow) → (decontaminate) → (DSIR quality) →
    * (diversity) — stage set per [[graft.operators.ChainConfig]] —
    * admitting survivors to `outDir`, advancing EVERY gate artifact
    * (fp, band, winnow, bucket-membership + census), and writing one
    * ledger row per batch (`outDir/_ledger` — the buildCorpus
    * CorpusLedger at batch grain) plus the per-doc decisions audit
    * (`outDir/_decisions` — every input doc named by the stage that
    * dropped it). Until now a user had to wire the eight standalone
    * gate sinks by hand; this is the production composition. The
    * winnow, span, quality and diversity stages decide through the
    * same [[CorpusBuild]] stage function as their standalone sinks
    * (see [[graft.operators.ChainConfig]] for where each rule lives).
    *
    * ONE COMMIT POINT (VERDICT r16 #2): the per-batch decisions WAL.
    * The decide phase mutates nothing and persists its outcome
    * atomically (parquet job commit); the apply phase replays effects
    * FROM the WAL, each idempotent or duplicate-harmless (see
    * [[graft.operators.CorpusBuild.chainApply]]). A crash between any
    * two effects recovers to the consistent state on restart: the
    * replayed batch finds the WAL, skips recomputation (so
    * half-advanced indexes can never change its decisions) and
    * re-applies everything; the committed-batch marker then makes
    * fully-applied batches no-ops. Corpus and ledger are
    * batch-partitioned dynamic overwrites — exactly-once, not just
    * at-least-once (corpus readers see a `__batch` partition column;
    * compact with [[compactPartitionedDir]], expire with
    * [[expirePartitions]]). */
  def composedIngestSink(docs: DataFrame, outDir: String,
                         checkpointDir: String,
                         cfg: graft.operators.ChainConfig)
      : DataStreamWriter[Row] =
    pinnedBatchSink(docs, outDir, checkpointDir) { (b, batchId, pin) =>
      if (!b.isEmpty) {
        val spark = b.sparkSession
        val walPath = s"$outDir/_decisions/__batch=$batchId"
        val fs = new Path(walPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a COMMITTED WAL (job-commit _SUCCESS) marks the batch as
        // mid-apply when it crashed — skip decide, re-apply from it;
        // a torn WAL write (no _SUCCESS) is pre-commit: recompute
        // (nothing was mutated) and overwrite. The WAL path is new per
        // batch, so a fresh WAL is read back with the schema its decide
        // just wrote instead of a footer-inference job.
        val isReplay = fs.exists(new Path(s"$walPath/_SUCCESS"))
        val wal =
          if (isReplay) readArtifact(spark, walPath)
          else {
            val decisions = CorpusBuild.chainDecide(b, cfg, pin)
            decisions.write.mode("overwrite").parquet(walPath)
            spark.read.schema(decisions.schema).parquet(walPath)
          }
        CorpusBuild.chainApply(b, wal, outDir, cfg, batchId, isReplay)
      }
    }

  /** Streaming INCREMENTAL connected components: each micro-batch of
    * edges folds into a persisted (id, label) component labeling via
    * [[graft.operators.Dedup.componentsMerge]] — contract the batch
    * through the current labels, cluster the batch-sized contracted
    * graph, relabel only touched components. Each batch replaces the
    * labeling snapshot ([[replace]]). Replay safety: componentsMerge is
    * IDEMPOTENT — re-folding an already-applied batch contracts every
    * edge to within-component self-pairs and the relabel is the
    * identity — so at-least-once batch delivery converges. Missing
    * snapshot = empty labeling (the nearDupAgainstIndex cold-start
    * contract).
    * ScalePathSpec pins incremental == full-recompute across batches.
    * The batch body is the components store's flat route
    * ([[graft.operators.Dedup.swapMergeComponents]]). */
  def componentsSink(edges: DataFrame, labelsDir: String,
                     checkpointDir: String,
                     idA: String = "id_a", idB: String = "id_b")
      : DataStreamWriter[Row] =
    foreachBatchSink(edges, checkpointDir) { (batch, _) =>
      graft.operators.Dedup.swapMergeComponents(batch, labelsDir, idA, idB)
    }

  /** Streaming incremental connected components over the BUCKETED
    * store: [[componentsSink]]'s swap rewrites the whole labeling per
    * micro-batch (never a moment without a readable snapshot — right
    * for serving); this variant folds each batch via
    * [[graft.operators.Dedup.mergeIntoComponentsStore]], rewriting ONLY
    * the touched label-buckets — the write-volume-proportional shape
    * for large labelings. Durability trade documented there: dynamic
    * partition overwrite is per-partition-atomic, and a replayed batch
    * converges (re-contracting its edges re-derives the merge), so
    * at-least-once delivery is safe; the store must be seeded with
    * [[graft.operators.Dedup.writeComponentsStore]] (possibly empty).
    * Routing is SIZE-GATED ([[graft.operators.Dedup
    * .mergeComponentsStore]]): labelings at or below `maxFlatRows` take
    * the flat-snapshot rewrite (measured cheaper below the gate —
    * BASELINE.md "components store gate"), larger ones the bucketed
    * touched-partitions path; both produce the identical labeling.
    * ScalePathSpec pins parity with the swap sink and across routes. */
  def componentsStoreSink(edges: DataFrame, storeDir: String,
                          checkpointDir: String, buckets: Int = 64,
                          idA: String = "id_a", idB: String = "id_b",
                          maxFlatRows: Long =
                            graft.operators.Dedup.ComponentsStoreMaxFlatRows)
      : DataStreamWriter[Row] =
    foreachBatchSink(edges, checkpointDir) { (batch, _) =>
      graft.operators.Dedup.mergeComponentsStore(
        batch, storeDir, idA, idB, buckets, maxFlatRows)
    }

  /** Keyed upsert sink (the HBase dim-writer analog): every micro-batch is
    * merged into the keyed snapshot directory with last-writer-wins
    * semantics; deletes (`op='d'`) are applied. Each batch replaces the
    * whole snapshot ([[replace]]; a missing one reads as no rows), which
    * is the hermetic stand-in for HBase put/delete RPCs. */
  def upsertSink(df: DataFrame, snapshotDir: String, checkpointDir: String,
                 keyCol: String, snapshotSchema: StructType)
      : DataStreamWriter[Row] =
    foreachBatchSink(df, checkpointDir) { (batch, _) =>
      val spark = batch.sparkSession
      val existing = replacedPath(spark, snapshotDir).fold(
        spark.createDataFrame(new java.util.ArrayList[Row](), snapshotSchema))(
        spark.read.schema(snapshotSchema).parquet(_))
      replace(graft.streaming.Cdc.applyChangelog(existing, batch, keyCol),
        snapshotDir, "upsertSink")
    }

  /** Exactly-once to a NON-idempotent sink: wrap the per-batch action
    * with a committed-batch marker. Spark's checkpoint guarantees each
    * batch id is DELIVERED at least once across restarts; sinks whose
    * writes don't dedup by themselves (append files, external POSTs —
    * the reference's Doris stream-load 2PC territory) must skip replayed
    * ids. The marker (`<markerDir>/<batchId>`) is written AFTER `f`
    * succeeds: a crash inside `f` replays the batch (at-least-once into
    * `f`), a crash after the marker skips it — so `f`'s effects must be
    * atomic-or-restartable, which parquet job commits are. */
  def idempotentForeachBatch(markerDir: String)
                            (f: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val dir = new Path(markerDir)
    val fs = dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new Path(dir, batchId.toString)
    if (!fs.exists(marker)) {
      f(batch, batchId)
      fs.mkdirs(dir)
      fs.create(marker, true).close()
    } else {
      // a SKIPPED batch must still be CONSUMED: for a stateful upstream
      // (windowed aggregates) every state-store partition commits only
      // when its task runs under the batch's execution, and Spark
      // validates those commits per batch — skipping the scan entirely
      // fails the replayed query. An eager localCheckpoint is the same
      // full-partition consume the non-skip path performs; the blocks
      // are dropped immediately.
      Checkpoints.drop(batch.localCheckpoint(true))
    }
  }

  /** Versioned (time-travel) keyed upsert sink: each micro-batch merges
    * into the LATEST snapshot version and writes the result as a NEW
    * immutable `v=<n>` directory — old versions are never mutated, so a
    * reader pinned on any retained version is untouched by concurrent
    * writer progress (the snapshot-isolation property Delta/Iceberg
    * tables give; here in plain parquet). The version pointer is the
    * largest COMPLETE `v=<n>` dir (`_SUCCESS` present — a crashed write
    * leaves an incomplete dir the listing ignores, and the uncommitted
    * checkpoint replays the batch). `retain` bounds disk: older versions
    * delete only after the new version commits. */
  def versionedUpsertSink(df: DataFrame, baseDir: String, checkpointDir: String,
                          keyCol: String, snapshotSchema: StructType,
                          retain: Int = 3)
      : DataStreamWriter[Row] = {
    require(retain >= 1, "retain must be >= 1")
    foreachBatchSink(df, checkpointDir) { (batch, _) =>
      versionedUpsertBatch(batch, baseDir, keyCol, snapshotSchema, retain)
    }
  }

  /** One versioned-upsert commit (the [[versionedUpsertSink]] batch
    * body, shared with [[auditStoreSink]]): merge the
    * changelog batch into the latest complete `v=<n>` snapshot, write
    * the result as the next immutable version, GC beyond `retain`. */
  private def versionedUpsertBatch(batch: DataFrame, baseDir: String,
                                   keyCol: String,
                                   snapshotSchema: StructType,
                                   retain: Int): Unit = {
    val spark = batch.sparkSession
    val (latest, existing) = latestSnapshot(spark, baseDir, snapshotSchema)
    val merged = graft.streaming.Cdc.applyChangelog(existing, batch, keyCol)
    val next = latest + 1
    merged.write.mode("overwrite").parquet(f"$baseDir/v=$next%05d")
    // GC strictly-older versions beyond the retention window
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshotVersions(spark, baseDir).dropRight(retain).foreach { v =>
      fs.delete(new Path(f"$baseDir/v=$v%05d"), true)
    }
    ()
  }

  /** The latest complete `v=<n>` snapshot under `baseDir` and its
    * version; version 0 and no rows while none is committed. */
  private def latestSnapshot(spark: SparkSession, baseDir: String,
                             schema: StructType): (Long, DataFrame) =
    snapshotVersions(spark, baseDir).lastOption match {
      case Some(v) => (v, readSnapshotVersion(spark, baseDir, v, schema))
      case None => (0L, spark.createDataFrame(
        new java.util.ArrayList[Row](), schema))
    }

  /** Epoch millis of a row's `window_start` — the audit stores'
    * data-derived changelog clock (`ts_ms`) and the time half of their
    * by-source `wkey`. */
  private def windowMs: Column =
    (col("window_start").cast("double") * 1000).cast("long")

  /** A persisted FIRST-SEEN index an audit store advances per batch:
    * `(key, first_window)` rows in the family's [[BucketedIndex]]
    * layout (`buckets` seeds a new index; maintenance rides
    * [[compactPartitionedDir]] like every bucketed artifact). */
  private case class FirstSeenIndex(dir: String, key: String,
                                    keyType: DataType, buckets: Int,
                                    layout: BucketedIndex.Layout)

  /** The shared batch body of the per-window AUDIT STORES below — the
    * Doris-analog DWS sinks: finalized windowed-aggregate micro-batches
    * fold into one row per window (or per (window, source)) and upsert
    * into the versioned time-travel snapshot under `baseDir`
    * ([[versionedUpsertBatch]]), keyed by `keyCol`. Per micro-batch:
    *
    *   1. the committed-batch marker ([[idempotentForeachBatch]],
    *      `<baseDir>/_markers`): a redelivered batch (checkpoint
    *      rollback, restart from a fresh checkpoint) writes NOTHING — no
    *      new version, no duplicate rows, no index growth;
    *   2. the eager pin BEFORE the empty check: the checkpoint consumes
    *      every partition, which is what commits the stateful upstream's
    *      state stores (a short-circuiting `isEmpty` on the raw batch
    *      fails Spark's per-batch commit validation), and it feeds the
    *      fold and the index delta from one scan;
    *   3. a batch that finalizes no window writes only its marker — no
    *      `v=<n>` version, no index dir;
    *   4. `fold(pinned, known)` builds the store rows; `known` is the
    *      `index`'s (key, first_window) relation, read ONCE per batch
    *      before the append (an empty frame for index-less stores);
    *   5. `op = "u"` and `ts_ms` = the window's own epoch millis, never
    *      wall clock — replay determinism needs the payload to be a pure
    *      function of the data (windows finalize once in append mode,
    *      so rows are pure inserts in steady state). A `keyCol` of
    *      `wkey` is synthesized as `<window epoch ms>|<source>`: the
    *      versioned merge keys on one column, and the key is a pure
    *      function of the row's own grain, so replays regenerate it;
    *   6. the upsert, then the first-seen append (store before index);
    *   7. the pinned blocks are dropped, the fold's own pins with them
    *      (the rows are held by the batch's [[Checkpoints.Pins]]) —
    *      unpersist does NOT free localCheckpoint blocks, and a
    *      long-running query would otherwise keep one batch-sized block
    *      set per micro-batch.
    *
    * Torn batches (some effects landed, marker didn't) replay with
    * stable decisions: the folds are pure functions of (batch, inputs),
    * an indexed key whose `first_window` falls inside the batch is
    * attributed to that window again, and the append's anti-join delta
    * lands empty on the second pass — the live rows and the index
    * converge to the un-torn outcome; the only scar is a possible extra
    * snapshot version with identical live rows. Time travel: any
    * retained `v=<n>` reproduces the store at that commit
    * ([[readSnapshotVersion]] + [[graft.streaming.Cdc.liveView]]). */
  private def auditStoreSink(hist: DataFrame, baseDir: String,
                             checkpointDir: String, keyCol: String,
                             schema: StructType, retain: Int,
                             index: Option[FirstSeenIndex] = None)
                            (fold: (DataFrame, DataFrame) => DataFrame)
      : DataStreamWriter[Row] =
    pinnedBatchSink(hist, baseDir, checkpointDir) { (pinned, _, pins) =>
      if (!pinned.isEmpty) {
        val spark = pinned.sparkSession
        val known =
          index.fold(spark.emptyDataFrame)(readFirstSeen(spark, _))
        val rows = pins.hold(fold(pinned, known))
        val keyed =
          if (keyCol != "wkey") rows
          else rows.withColumn("wkey",
            concat(windowMs.cast("string"), lit("|"), col("source")))
        versionedUpsertBatch(
          keyed.withColumn("op", lit("u")).withColumn("ts_ms", windowMs),
          baseDir, keyCol, schema, retain)
        index.foreach(appendFirstSeen(pinned, known, _))
      }
    }

  /** The index's (key, first_window) relation; a missing index is empty
    * (cold start). */
  private def readFirstSeen(spark: SparkSession,
                            idx: FirstSeenIndex): DataFrame =
    BucketedIndex.read(spark, idx.dir)
      .map(_.select(idx.key, "first_window"))
      .getOrElse(spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(Seq(StructField(idx.key, idx.keyType),
          StructField("first_window", TimestampType)))))

  /** Append the keys a batch introduced, stamped with their earliest
    * window: an anti-join delta against `known`, so the cost is ∝ NEW
    * keys, never key history. */
  private def appendFirstSeen(pinned: DataFrame, known: DataFrame,
                              idx: FirstSeenIndex): Unit =
    BucketedIndex.append(idx.layout, idx.dir, idx.buckets,
      pinned.groupBy(idx.key)
        .agg(min(col("window_start")).as("first_window"))
        .join(known.select(idx.key), Seq(idx.key), "left_anti"))

  /** Snapshot schema of the [[windowedMetricsStoreSink]] store: one wide
    * metrics row per finalized window, plus the changelog bookkeeping
    * columns the versioned merge orders by. */
  val WindowedMetricsSchema: StructType = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("n_pos", LongType),
    StructField("n_neg", LongType),
    StructField("auc", DoubleType),
    StructField("avg_prec", DoubleType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted per-window EVAL-METRICS store — the Doris-analog sink
    * for the eval pack (VERDICT r10 #6): finalized
    * [[graft.streaming.Jobs.windowedClassHistogram]] micro-batches fold
    * into ONE wide metrics row per window (ROC-AUC + average precision —
    * the literal q_auc / q_avg_precision folds, so batch/stream parity
    * is inherited, not re-proven), keyed by `window_start`. One-class
    * windows carry no AUC and are dropped (the q_auc contract).
    * Exactly-once replay, changelog ordering and time travel are
    * [[auditStoreSink]]'s (StreamingSpec golden). */
  def windowedMetricsStoreSink(hist: DataFrame, baseDir: String,
                               checkpointDir: String, retain: Int = 3)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "window_start",
        WindowedMetricsSchema, retain) { (pinned, _) =>
      graft.streaming.Jobs.aucPerWindow(pinned)
        .join(graft.streaming.Jobs.apPerWindow(pinned)
            .select(col("window_start"), col("avg_prec")),
          Seq("window_start"))
    }

  /** Snapshot schema of the [[corpusAuditStoreSink]] store: one
    * contamination row per finalized ingest window plus the changelog
    * bookkeeping columns. */
  val CorpusAuditSchema: StructType = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("n_shingles", LongType),
    StructField("n_hit", LongType),
    StructField("contam_ppm", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted per-window CORPUS-AUDIT metrics store — the corpus-
    * monitoring twin of [[windowedMetricsStoreSink]] (VERDICT r13 #5):
    * finalized [[graft.streaming.Jobs.windowedShingleHits]] micro-
    * batches fold through the LITERAL batch ppm fold
    * ([[graft.streaming.Jobs.contaminationFracPerWindow]] —
    * `q_contamination_frac` parity by construction), keyed by
    * `window_start`. What an ingest operator watches to catch a
    * benchmark leak the moment a window closes. */
  def corpusAuditStoreSink(hist: DataFrame, baseDir: String,
                           checkpointDir: String, retain: Int = 3)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "window_start",
      CorpusAuditSchema, retain)(
      (pinned, _) => graft.streaming.Jobs.contaminationFracPerWindow(pinned))

  /** Snapshot schema of the [[noveltyAuditSink]] store: one novelty
    * row per finalized ingest window plus the changelog bookkeeping
    * columns. */
  val NoveltyAuditSchema: StructType = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("n_grams", LongType),
    StructField("n_novel", LongType),
    StructField("novelty_ppm", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted per-window NOVELTY monitor — the live twin of the batch
    * `q_ngram_novelty` id, completing the corpus-audit monitoring trio
    * (contamination, boilerplate, novelty): finalized
    * [[graft.streaming.Jobs.windowedGramDocFreq]] micro-batches fold
    * through [[graft.streaming.Jobs.noveltyPerWindow]] against a
    * PERSISTED first-seen gram index at `gramIndexDir` ((sh,
    * first_window), `__bucket=pmod(sh, buckets)` — the
    * fingerprint-index partitioning), keyed by `window_start`; the
    * batch's first-seen grams then append to the index. A falling
    * `novelty_ppm` curve is the "crawl started re-reading itself"
    * alarm, live.
    *
    * TAKEDOWN POSITION (deliberate, not a missing verb): the gram
    * index carries only 8-byte one-way hashes of 3-token windows with
    * NO doc attribution — a statistical census like the metrics
    * store's aggregate rows, not retrievable content — and a first-
    * seen census has no per-doc delete semantics without reference
    * counts (a gram first seen in a taken-down doc may legitimately
    * remain via other admitted docs). Document-level opt-out rides the
    * doc-attributed artifacts (fingerprint / near-dup / winnow index
    * delete verbs + `takedownSink`); rebuilding this index from the
    * post-takedown corpus ([[graft.operators.Dedup.writeGramIndex]])
    * is the census-level remedy when one is wanted — and since round
    * 15 the COUNTED ledger variant
    * ([[graft.operators.Dedup.writeGramIndexCounted]] family) gives
    * per-doc takedown with rebuild-exact semantics and still zero
    * stored attribution: takedown appends negated doc-counts computed
    * from the retired docs' own text, cost ∝ the retirement batch
    * (delete == rebuild law in ScalePathSpec;
    * [[graft.operators.Dedup.firstSeenFromCounted]] serves this sink's
    * (sh, first_window) relation from it). */
  def noveltyAuditSink(hist: DataFrame, gramIndexDir: String,
                       baseDir: String, checkpointDir: String,
                       retain: Int = 3, buckets: Int = 64)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "window_start",
      NoveltyAuditSchema, retain, Some(FirstSeenIndex(gramIndexDir, "sh",
        LongType, buckets, graft.operators.Dedup.GramIndex)))(
      graft.streaming.Jobs.noveltyPerWindow)

  /** Snapshot schema of the [[noveltyBySourceAuditSink]] store: one
    * novelty row per finalized (ingest window, source) plus the
    * changelog bookkeeping columns. `wkey` is the synthesized composite
    * upsert key (`<window epoch ms>|<source>` — the versioned merge
    * keys on one column; the key is a pure function of the row's own
    * grain, so replays regenerate it identically). */
  val NoveltyBySourceAuditSchema: StructType = StructType(Seq(
    StructField("wkey", StringType),
    StructField("window_start", TimestampType),
    StructField("source", StringType),
    StructField("n_grams", LongType),
    StructField("n_novel", LongType),
    StructField("novelty_ppm", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted per-(window, source) NOVELTY monitor — the WHO twin of
    * [[noveltyAuditSink]]'s WHEN (the live `q_novelty_by_source`,
    * VERDICT r14 #4): finalized
    * [[graft.streaming.Jobs.windowedGramSourceDocFreq]] micro-batches
    * fold through [[graft.streaming.Jobs.noveltyBySourcePerWindow]]
    * against the SAME persisted first-seen gram index layout
    * (`(sh, first_window)`, `__bucket=pmod(sh, buckets)` — a store
    * seeded by [[graft.operators.Dedup.writeGramIndex]] or by the WHEN
    * sink is readable here as-is), keyed by the synthesized `wkey`.
    * SINGLE-WRITER DISCIPLINE: exactly one novelty sink may own a gram
    * index dir — this sink SUBSUMES the WHEN monitor (rolling its store
    * over `source` per window reproduces [[noveltyAuditSink]]'s rows —
    * the conservation law pinned in StreamingSpec), so deployments
    * wanting both signals run this one and derive WHEN by rollup rather
    * than double-appending one index. The takedown position is
    * [[noveltyAuditSink]]'s; attribution is a pure function of
    * min(first_window) / min(min_doc). */
  def noveltyBySourceAuditSink(hist: DataFrame, gramIndexDir: String,
                               baseDir: String, checkpointDir: String,
                               retain: Int = 3, buckets: Int = 64)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "wkey",
      NoveltyBySourceAuditSchema, retain, Some(FirstSeenIndex(gramIndexDir,
        "sh", LongType, buckets, graft.operators.Dedup.GramIndex)))(
      graft.streaming.Jobs.noveltyBySourcePerWindow)

  /** Snapshot schema of the [[dupRateAuditSink]] store: one exact-dup
    * rate row per finalized ingest window plus changelog bookkeeping. */
  val DupRateAuditSchema: StructType = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("n_docs", LongType),
    StructField("n_dup", LongType),
    StructField("dup_ppm", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted live DUPLICATION-RATE monitor — the fifth corpus-audit
    * monitor (contamination, boilerplate, novelty, TTR, exact-dup rate):
    * finalized [[graft.streaming.Jobs.windowedFpCounts]] micro-batches
    * fold through [[graft.streaming.Jobs.dupRatePerWindow]] against a
    * persisted FIRST-SEEN fingerprint index ((fp, first_window),
    * `__bucket = pmod(xxhash64(fp), buckets)` — the exact-dedup
    * fingerprint-index bucketing with the gram index's first-seen
    * stamp), keyed by `window_start`; the batch's first-seen
    * fingerprints then append to the index. The monitor complements the
    * exact-dedup ingest GATE: the gate decides admission on a pipeline
    * that already committed to dedup; this measures duplication
    * arriving on a raw stream — the number that justifies turning the
    * gate on.
    *
    * Takedown position: like the gram index, the fp index here is a
    * one-way-hash census with no doc attribution (fp → first_window) —
    * doc-level opt-out rides the doc-attributed artifacts; rebuild (or
    * the counted-ledger pattern) is the census-level remedy. */
  def dupRateAuditSink(hist: DataFrame, fpIndexDir: String,
                       baseDir: String, checkpointDir: String,
                       retain: Int = 3, buckets: Int = 64)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "window_start",
      DupRateAuditSchema, retain, Some(FirstSeenIndex(fpIndexDir, "fp",
        StringType, buckets, graft.operators.Dedup.FpFirstSeenIndex)))(
      graft.streaming.Jobs.dupRatePerWindow)

  /** TAKEDOWN verb for the [[windowedMetricsStoreSink]] store — drop
    * retired windows from the live view, completing the artifact's verb
    * set (sink / time-travel read / GC / delete; VERDICT r11 #5). The
    * delete is a changelog commit, not a rewrite: matching LIVE windows
    * get `op="d"` tombstones carrying the window's own `ts_ms` (the
    * store's changelog ordering is a pure function of the data —
    * tombstones must be too), and [[graft.streaming.Cdc.applyChangelog]]
    * ranks a delete above an update at the same instant, so a replayed
    * upsert of a taken-down window can never resurrect it. That
    * suppression is deliberately PERMANENT, not just replay-scoped:
    * every sink upsert of a window carries the same data-derived
    * `ts_ms = window_start·1000`, so genuinely NEW late events for a
    * taken-down window are also outranked by the tombstone — a takedown
    * means "this window's metrics must not reappear", and late
    * stragglers trickling it back would violate exactly that. A window
    * becomes re-ingestable only after its tombstone ages past the
    * retention horizon and [[graft.streaming.Cdc.compactTombstones]]
    * drops it (the store's GC pass) — the deliberate, operator-driven
    * path back, not an accidental one. REPLAY
    * NO-OP without markers: requested windows are semi-joined against
    * the live view first, so a repeated delete finds nothing live,
    * commits NO new version, and the retained `v=<n>` chain is
    * byte-identical (the takedownSink idempotence discipline).
    * Returns the number of windows tombstoned. */
  def deleteFromWindowedMetricsStore(spark: SparkSession, baseDir: String,
                                     windows: DataFrame,
                                     retain: Int = 3): Long = {
    val (latest, snap) = latestSnapshot(spark, baseDir, WindowedMetricsSchema)
    if (latest == 0L) return 0L
    // window-count-sized, consumed twice; its count rides the pin's job
    val (doomed, n) = Checkpoints.pinCounted(
      graft.streaming.Cdc.liveView(snap).select(col("window_start"))
        .join(windows.select(col("window_start")).distinct(),
          Seq("window_start"), "left_semi"))
    try {
      if (n > 0) {
        val tombstones = doomed
          .withColumn("n_pos", lit(null).cast("long"))
          .withColumn("n_neg", lit(null).cast("long"))
          .withColumn("auc", lit(null).cast("double"))
          .withColumn("avg_prec", lit(null).cast("double"))
          .withColumn("op", lit("d"))
          .withColumn("ts_ms", windowMs)
        versionedUpsertBatch(tombstones, baseDir, "window_start",
          WindowedMetricsSchema, retain)
      }
      n
    } finally Checkpoints.drop(doomed)
  }

  /** Snapshot schema of the [[mixDriftAuditSink]] store: one language-
    * mix drift row per finalized (window, source) plus changelog
    * bookkeeping. `kl_pico` is null (and `n_unseen` > 0 carries the doc
    * count) when the window's languages fall wholly outside the
    * baseline support — the unseen-language-flood alarm row. */
  val MixDriftAuditSchema: StructType = StructType(Seq(
    StructField("wkey", StringType),
    StructField("window_start", TimestampType),
    StructField("source", StringType),
    StructField("n_docs", LongType),
    StructField("kl_pico", LongType),
    StructField("n_unseen", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted live MIX-DRIFT monitor — the SIXTH corpus-audit monitor
    * (contamination, boilerplate, novelty, TTR, exact-dup rate,
    * language-mix drift): finalized
    * [[graft.streaming.Jobs.windowedLangCounts]] micro-batches fold
    * through [[graft.streaming.Jobs.mixDriftPerWindow]] against the
    * BASELINE language marginal persisted at `baselineDir` ((lang, n_l,
    * n_total) — the trained corpus's mix), one (window, source) KL row
    * keyed by the synthesized `wkey`. The baseline is RE-READ per
    * micro-batch (the decontaminateSpanSink probe convention):
    * retraining the reference mix tightens the monitor without a
    * restart. No index of its own — the monitor is stateless beyond
    * the metrics store, the cheapest of the six (dimension-sized state,
    * no text read). An unseen-language flood (every doc of a (window,
    * source) outside the baseline support) lands as a kl_pico-null row
    * with `n_unseen` carrying the doc count — the store records the
    * strongest drift instead of dropping it (ADVICE r15). */
  def mixDriftAuditSink(hist: DataFrame, baselineDir: String,
                        baseDir: String, checkpointDir: String,
                        retain: Int = 3)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "wkey",
        MixDriftAuditSchema, retain) { (pinned, _) =>
      graft.streaming.Jobs.mixDriftPerWindow(pinned,
        readArtifact(pinned.sparkSession, baselineDir)
          .select("lang", "n_l", "n_total"))
    }

  /** Snapshot schema of the [[qualityAuditSink]] store: one DSIR-weight
    * quality row per finalized (window, source) plus changelog
    * bookkeeping. */
  val QualityAuditSchema: StructType = StructType(Seq(
    StructField("wkey", StringType),
    StructField("window_start", TimestampType),
    StructField("source", StringType),
    StructField("n_tokens", LongType),
    StructField("weight_pico", LongType),
    StructField("mean_pico_per_token", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted live QUALITY monitor — the SEVENTH corpus-audit monitor:
    * finalized [[graft.streaming.Jobs.windowedQualitySums]]
    * micro-batches fold through
    * [[graft.streaming.Jobs.qualityPerWindow]] into one (window, source)
    * DSIR-weight row keyed by the synthesized `wkey` (stateless beyond
    * the store; the LM refresh rides the stream-static join inside the
    * windowed relation itself, so this sink has nothing to re-read).
    * The monitor-and-gate pairing: a source whose mean per-token weight
    * drifts toward the [[dsirGateSink]] threshold is about to lose
    * admission rate — the store's window history is the early-warning
    * curve. */
  def qualityAuditSink(hist: DataFrame, baseDir: String,
                       checkpointDir: String, retain: Int = 3)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "wkey", QualityAuditSchema,
      retain)((pinned, _) => graft.streaming.Jobs.qualityPerWindow(pinned))

  /** Snapshot schema of the [[diversityAuditSink]] store: one semantic-
    * diversity census row per finalized window plus changelog
    * bookkeeping. */
  val DiversityAuditSchema: StructType = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("n_vecs", LongType),
    StructField("n_buckets", LongType),
    StructField("entropy_pico", LongType),
    StructField("max_bucket", LongType),
    StructField("min_bucket", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted live DIVERSITY monitor — the EIGHTH corpus-audit monitor
    * (contamination, boilerplate, novelty, TTR, exact-dup rate, mix
    * drift, quality, semantic diversity; VERDICT r15 #2): finalized
    * [[graft.streaming.Jobs.windowedBucketCounts]] micro-batches fold
    * through [[graft.streaming.Jobs.bucketEntropyPerWindow]] — the
    * `q_bucket_entropy` pico-quantized census, window grain — into one
    * row per window keyed by `window_start`. The monitor-and-gate
    * pairing: a falling entropy curve (or a spiking max_bucket) says the
    * crawl is pooling in one semantic region — the reading that
    * justifies turning [[diversityGateSink]]'s cap on, read from the
    * store's window history BEFORE the mixture skews. Stateless beyond
    * the store. */
  def diversityAuditSink(hist: DataFrame, baseDir: String,
                         checkpointDir: String, retain: Int = 3)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "window_start",
      DiversityAuditSchema, retain)(
      (pinned, _) => graft.streaming.Jobs.bucketEntropyPerWindow(pinned))

  /** Snapshot schema of the [[diversityBySourceAuditSink]] store: one
    * semantic-diversity census row per finalized (window, source) plus
    * changelog bookkeeping. */
  val DiversityBySourceAuditSchema: StructType = StructType(Seq(
    StructField("wkey", StringType),
    StructField("window_start", TimestampType),
    StructField("source", StringType),
    StructField("n_vecs", LongType),
    StructField("n_buckets", LongType),
    StructField("entropy_pico", LongType),
    StructField("max_bucket", LongType),
    StructField("min_bucket", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted live by-source DIVERSITY monitor — the WHO twin of
    * [[diversityAuditSink]] (the noveltyBySourceAuditSink convention):
    * finalized [[graft.streaming.Jobs.windowedBucketCountsBySource]]
    * micro-batches fold through
    * [[graft.streaming.Jobs.bucketEntropyBySourcePerWindow]] into one
    * (window, source) entropy row keyed by the synthesized `wkey`. The
    * per-window store says the corpus is pooling; this store says WHICH
    * source's crawler is stuck in one semantic region — the
    * mixture-weight lever. Stateless beyond the store. */
  def diversityBySourceAuditSink(hist: DataFrame, baseDir: String,
                                 checkpointDir: String, retain: Int = 3)
      : DataStreamWriter[Row] =
    auditStoreSink(hist, baseDir, checkpointDir, "wkey",
      DiversityBySourceAuditSchema, retain)((pinned, _) =>
      graft.streaming.Jobs.bucketEntropyBySourcePerWindow(pinned))

  /** Snapshot schema of the [[spectralDriftAuditSink]] store: one
    * spectral-drift census row per finalized window plus changelog
    * bookkeeping. */
  val SpectralDriftAuditSchema: StructType = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("n_vecs", LongType),
    StructField("n_buckets", LongType),
    StructField("tv_ppm", LongType),
    StructField("max_bucket", LongType),
    StructField("min_bucket", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Persisted live SPECTRAL-DRIFT monitor — the NINTH corpus-audit
    * monitor (…, semantic diversity, by-source diversity, spectral
    * drift): finalized
    * [[graft.streaming.Jobs.windowedProjBuckets]] micro-batches fold
    * through [[graft.streaming.Jobs.spectralDriftPerWindow]] — the
    * per-window projection histogram against a FROZEN
    * [[graft.operators.Spectral.writeDirection]] reference axis, plus
    * its total-variation distance to the reference histogram in ppm —
    * into one row per window keyed by `window_start`. The
    * monitor-and-eval pairing: the LSH diversity census says WHICH
    * region pools; this says the embedding DISTRIBUTION itself is
    * sliding off the axis the reference corpus (and every IVF index /
    * semantic gate fit on it) assumed — the re-fit/re-train trigger,
    * read from window history. The artifact is read ONCE at sink
    * construction (immutable by contract — a refit is a NEW artifact +
    * a new sink). Stateless beyond the store. */
  def spectralDriftAuditSink(hist: DataFrame, artifactDir: String,
                             baseDir: String, checkpointDir: String,
                             retain: Int = 3)
      : DataStreamWriter[Row] = {
    val (_, _, _, _, ref, refN) = graft.operators.Spectral
      .readDirection(hist.sparkSession, artifactDir)
    auditStoreSink(hist, baseDir, checkpointDir, "window_start",
      SpectralDriftAuditSchema, retain)((pinned, _) =>
      graft.streaming.Jobs.spectralDriftPerWindow(pinned, ref, refN))
  }

  /** RETENTION verb for the [[windowedMetricsStoreSink]] store: tombstone
    * every live window strictly older than `cutoff` — the TTL policy a
    * metrics store needs once windows stop being queried (the
    * [[expirePartitions]] analog for a versioned-snapshot artifact; the
    * version chain itself is already GC'd by `retain`). Delegates to
    * [[deleteFromWindowedMetricsStore]], so it inherits the replay
    * no-op and no-resurrection laws. Returns the windows expired. */
  def expireWindowedMetrics(spark: SparkSession, baseDir: String,
                            cutoff: java.sql.Timestamp,
                            retain: Int = 3): Long = {
    val (_, snap) = latestSnapshot(spark, baseDir, WindowedMetricsSchema)
    deleteFromWindowedMetricsStore(spark, baseDir,
      graft.streaming.Cdc.liveView(snap)
        .filter(col("window_start") < lit(cutoff))
        .select(col("window_start")), retain)
  }

  /** Complete snapshot versions under `baseDir`, ascending. */
  def snapshotVersions(spark: SparkSession, baseDir: String): Seq[Long] = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v=") &&
            fs.exists(new Path(st.getPath, "_SUCCESS")))
          scala.util.Try(n.drop(2).toLong).toOption
        else None
      }.sorted
  }

  /** Time-travel read of one retained snapshot version. */
  def readSnapshotVersion(spark: SparkSession, baseDir: String, version: Long,
                          schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(f"$baseDir/v=$version%05d")

  /** Incremental keyed upsert sink — the large-table path next to
    * [[upsertSink]] (which re-merges and rewrites the FULL snapshot every
    * micro-batch: fine for dim-sized tables, O(snapshot) I/O + shuffle per
    * batch anywhere else). Here the snapshot is hash-bucketed by key into
    * `numBuckets` parquet partitions (`__bucket=<b>/`); each micro-batch
    *
    *   1. computes the bucket set its keys touch (≤ numBuckets ints),
    *   2. reads ONLY those bucket partitions (partition-pruned scan),
    *   3. merges with [[graft.streaming.Cdc.applyChangelog]], and
    *   4. rewrites ONLY those partitions ([[BucketedIndex.rewrite]]).
    *
    * Per-batch cost is O(batch + touched buckets), independent of
    * snapshot size. `numBuckets` is fixed for the life of a snapshot
    * (changing it requires a one-off full rewrite); size it so one bucket
    * ≈ a comfortable task unit (e.g. 4 096 buckets for a 1 TB snapshot).
    * Buckets are `pmod(hash(key), numBuckets)` (an Int, the on-disk
    * layout of existing snapshots), not the store's Long-keyed seed
    * routing. A batch whose tombstone compaction empties every bucket
    * reverts the snapshot to missing, which reads as no rows.
    *
    * Crash safety: dynamic overwrite stages files and swaps at job
    * commit; if a batch dies mid-write the checkpoint has not committed,
    * and re-running the batch converges to an equivalent snapshot — the
    * LWW merge is idempotent, though a replay at a later wall-clock time
    * may additionally compact tombstones the original write kept
    * (`compactTombstones` is driven by now-time; both outcomes are
    * inside the replay horizon's safety contract). */
  def bucketedUpsertSink(df: DataFrame, snapshotDir: String,
                         checkpointDir: String, keyCol: String,
                         snapshotSchema: StructType, numBuckets: Int,
                         compactHorizonMs: Option[Long] = None)
      : DataStreamWriter[Row] = {
    require(numBuckets > 0, "numBuckets must be positive")
    val layout = BucketedIndex.Layout(hash(col(keyCol)))
    val bucketOf = pmod(layout.key, lit(numBuckets))
    foreachBatchSink(df, checkpointDir) { (batch, _) =>
      // distinct buckets this batch touches: bounded by numBuckets,
      // so the collect is a fixed-size driver-side set, never data-scale
      val touched = batch.select(bucketOf.cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      if (touched.nonEmpty) {
        // filter on the partition column prunes to the touched bucket
        // directories at the FileIndex — untouched buckets are never
        // listed, opened, or shuffled
        val existing = readBucketedSnapshot(batch.sparkSession,
          snapshotDir, snapshotSchema, col("__bucket").isin(touched: _*))
        val upserted = graft.streaming.Cdc.applyChangelog(existing, batch, keyCol)
        // opportunistic tombstone compaction: the touched buckets are
        // being rewritten anyway, so expiring dead tombstones here is
        // free — untouched buckets compact whenever they next merge
        val merged = compactHorizonMs.fold(upserted)(h =>
          graft.streaming.Cdc.compactTombstones(upserted, h,
            System.currentTimeMillis()))
        // pin the merge BEFORE the overwrite: the merged plan reads the
        // path it is about to write; the touched-bucket rows are
        // bounded by design at a few task-units
        val pinned = merged.withColumn("__bucket", bucketOf)
          .localCheckpoint(eager = true)
        try BucketedIndex.rewrite(layout, pinned, snapshotDir, touched)
        finally Checkpoints.drop(pinned)
      }
    }
  }

  /** Read the live rows of a bucketed snapshot written by
    * [[bucketedUpsertSink]] (partition column dropped, tombstones kept —
    * pipe through [[graft.streaming.Cdc.liveView]] to drop them). A
    * missing snapshot (none written yet, or emptied) has no rows. */
  def readBucketedSnapshot(spark: SparkSession, snapshotDir: String,
                           snapshotSchema: StructType): DataFrame =
    readBucketedSnapshot(spark, snapshotDir, snapshotSchema, lit(true))

  private def readBucketedSnapshot(spark: SparkSession, snapshotDir: String,
                                   snapshotSchema: StructType,
                                   buckets: Column): DataFrame =
    BucketedIndex.read(spark, snapshotDir).fold(
      spark.createDataFrame(new java.util.ArrayList[Row](), snapshotSchema))(
      _.filter(buckets).select(snapshotSchema.fieldNames.toSeq.map(col): _*))

  /** Small-files compaction for a parquet directory — the steady-state
    * maintenance op every incremental sink here (append, upsert, IVF
    * index, streaming micro-batches) eventually needs: thousands of
    * kilobyte-sized files turn a 100 TB scan into a file-open storm,
    * bloat the driver's file index, and shred min/max pruning. Rewrites
    * the directory into ⌈bytes / targetFileBytes⌉ files with `coalesce`
    * (narrow — no shuffle; rows merge along existing file order, so a
    * sorted layout stays sorted) and swaps them in with [[replace]].
    * Single-writer by contract, like all snapshot maintenance in this
    * pack. Returns the output file count. */
  def compactParquet(spark: SparkSession, dir: String,
                     targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0)
    val dst = new Path(dir)
    val bytes = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(dst).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    replace(readArtifact(spark, dir).coalesce(n), dir, "compactParquet")
    n
  }

  // ---- partitioned-dir maintenance: census / compact / expire -------
  //
  // [[compactParquet]] rewrites a WHOLE directory — O(table), fine for
  // snapshot-sized dirs. The hive-partitioned artifacts (fingerprint /
  // near-dup indexes and the components store on `__bucket=`, the IVF
  // index on `ivf_list=`, date-partitioned ingest on `<col>=`)
  // accumulate files per partition through their APPEND verbs and need
  // the fragmentation-proportional form: census file counts from
  // metadata alone, rewrite ONLY partitions above threshold, leave the
  // rest byte-identical. Same single-writer contract as every snapshot
  // maintenance op in this pack.

  /** Align write tasks to storage partitions: hash-repartition on the
    * partition column so a `partitionBy(partCol)` write lays ONE file
    * per partition directory instead of one per (task × partition) —
    * without this, a 32-task write into 64 buckets can fan out to ~2k
    * kilobyte files in a single commit, the small-file storm
    * [[compactPartitionedDir]] exists to repair. The shuffle moves only
    * the relation being written (batch-sized on every incremental
    * path), far cheaper than the file-creation storm it prevents. */
  def alignToPartitions(df: DataFrame, partCol: String): DataFrame =
    df.repartition(col(partCol))

  /** Remove an artifact directory — the empty-seed guards' revert verb:
    * seeding an index from an EMPTY corpus means "index of nothing",
    * and the documented representation of that state is a missing dir
    * (cold start), never a schema-less or stale one. */
  private[graft] def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // ---- whole-snapshot replace ---------------------------------------
  //
  // A snapshot dir is replaced by writing its successor BESIDE it at
  // `<dir>_tmp` and swapping that in with two renames: move `dir` to
  // `<dir>_bak`, move `_tmp` to `dir`, drop `_bak`. There is never a
  // moment without a readable copy: a crash during the write leaves
  // `dir` as it was (and a stale `_tmp` the next write overwrites), a
  // crash between the renames leaves the old snapshot at `_bak`, which
  // [[replacedPath]] reads. The write consumes every read of `dir` the
  // successor's plan makes before any rename touches it, so a
  // read-modify-write needs no pin. A static overwrite of `dir` would
  // instead delete it before its own write job ran.

  /** Replace the snapshot at `dir` with `df` (see above); `who` names
    * the caller in a failed rename's error. */
  private[graft] def replace(df: DataFrame, dir: String, who: String): Unit =
    replaceWith(df.sparkSession, dir, who) { staged =>
      df.write.mode("overwrite").parquet(staged)
      true
    }

  /** [[replace]] for a successor some other writer lays out: `write`
    * fills the staging path it is given and returns whether it wrote
    * anything. Nothing written means the successor is the cold start,
    * so `dir` is removed instead. */
  private[graft] def replaceWith(spark: SparkSession, dir: String,
                                 who: String)(write: String => Boolean): Unit = {
    val staged = new Path(dir + "_tmp")
    if (write(staged.toString))
      swapIn(staged.getFileSystem(spark.sparkContext.hadoopConfiguration),
        staged, dir, who)
    else deleteDir(spark, dir)
  }

  /** Where a [[replace]]d snapshot reads from: the live dir; else the
    * `<dir>_bak` a crash between the swap's renames left; else None,
    * the cold start (never written). */
  private[graft] def replacedPath(spark: SparkSession,
                                  dir: String): Option[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(dir, dir + "_bak").find(d => fs.exists(new Path(d)))
  }

  private def mustRename(fs: FileSystem, from: Path, to: Path,
                         who: String): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"$who: rename $from -> $to failed")

  /** The two renames behind [[replace]]: `staged`, fully written under
    * the caller's staging suffix, replaces `dir`. Hadoop rename reports
    * most failures via `false`, not an exception, so both renames are
    * checked: a swallowed failure would let the caller commit work
    * silently stranded at `staged`. */
  private[graft] def swapIn(fs: FileSystem, staged: Path, dir: String,
                            who: String): Unit = {
    val dst = new Path(dir)
    val bak = new Path(dir + "_bak")
    fs.delete(bak, true) // best-effort pre-clean; verified below
    if (fs.exists(dst)) mustRename(fs, dst, bak, who)
    mustRename(fs, staged, dst, who)
    fs.delete(bak, true)
  }

  /** The writer-side recovery of a swap staged at `staged` (a writer
    * that keeps its successor across calls, such as an index retrain):
    *  - `dir` absent, `staged` present: the crash landed between the two
    *    renames and `staged` is complete (it is fully written before the
    *    first), so finish the swap and drop `<dir>_bak`;
    *  - `dir` absent, only `<dir>_bak` present: roll back to it;
    *  - `dir` present: a leftover `staged` (never swapped) and `_bak`
    *    are stale by definition, so both go; `dir` served reads
    *    throughout.
    * Safe to call any time under the single-writer contract. */
  private[graft] def recoverSwap(spark: SparkSession, dir: String,
                                 staged: String, who: String): Unit = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = new Path(staged)
    val bak = new Path(dir + "_bak")
    if (!fs.exists(live)) {
      if (fs.exists(next)) {
        mustRename(fs, next, live, who)
        fs.delete(bak, true)
      } else if (fs.exists(bak)) mustRename(fs, bak, live, who)
    } else {
      fs.delete(next, true)
      fs.delete(bak, true)
    }
  }

  /** Record the bucket count a hash-bucketed artifact was written with —
    * a dot-prefixed sidecar (invisible to readers, like the compaction
    * scratch dirs). The count is part of the LAYOUT: every later append
    * or delete must route rows with the same `pmod(hash, n)`, so the
    * writer pins it here and the other verbs discover it instead of
    * trusting their caller to repeat the right number. */
  private[sources] def writeBucketCount(spark: SparkSession, dir: String,
                                        n: Int): Unit =
    writeIntSidecar(spark, new Path(dir, ".bucket_count"), n)

  /** Stamp a persisted artifact's layout version (`.layout_version`
    * sidecar). A layout version changes when the ON-DISK semantics of
    * stored values change — e.g. round 12's minhash hash-family move
    * (xxhash64 → engine-portable md5), which re-keys every band bucket:
    * appending new-hash rows to an old-hash index would silently never
    * match, so the verbs check this stamp and fail loudly instead. */
  private[sources] def writeLayoutVersion(spark: SparkSession, dir: String,
                                          v: Int): Unit =
    writeIntSidecar(spark, new Path(dir, ".layout_version"), v)

  private def writeIntSidecar(spark: SparkSession, p: Path, v: Int): Unit = {
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The stamped layout version of a persisted artifact, if recorded
    * (pre-stamp artifacts return None — treat as an older layout). A
    * TORN sidecar (exists but empty/unparseable — `fs.create` committed,
    * payload lost) also reads as None: the verbs then raise their
    * standard "stale layout — rebuild the index" error instead of an
    * opaque StringIndexOutOfBoundsException, which is the right failure
    * for a stamp whose whole job is to say "rebuild me" when unsure. */
  def readLayoutVersion(spark: SparkSession, dir: String): Option[Int] = {
    val p = new Path(dir, ".layout_version")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else readIntSidecar(fs, p)
  }

  /** Read a small integer sidecar; an EMPTY or unparseable file — the
    * torn-write state where `fs.create` succeeded but the payload write
    * was lost — yields None instead of the
    * StringIndexOutOfBoundsException `new String(buf, 0, -1)` used to
    * throw, so callers decide the failure mode instead of dying on an
    * opaque bounds error. */
  private def readIntSidecar(fs: FileSystem,
                             p: Path): Option[Int] = {
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](32)
      val k = in.read(buf)
      if (k <= 0) None
      else scala.util.Try(new String(buf, 0, k, "UTF-8").trim.toInt).toOption
    } finally in.close()
  }

  /** The pinned bucket count of a bucketed artifact, if recorded. A
    * sidecar that EXISTS but is torn (empty/unparseable) fails loudly:
    * unlike the layout stamp, there is no safe default — guessing a
    * bucket count mis-routes every subsequent append. */
  def readBucketCount(spark: SparkSession, dir: String): Option[Int] = {
    val p = new Path(dir, ".bucket_count")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else readIntSidecar(fs, p) match {
      case some @ Some(_) => some
      case None => throw new IllegalStateException(
        s"$p exists but is empty or unparseable (torn sidecar write): " +
          "the artifact's bucket layout is unknowable — rebuild the " +
          "artifact with its seeding verb")
    }
  }

  /** One partition's file-level stats — from directory metadata only,
    * data never opened. */
  case class PartitionCensus(partition: String, files: Int, bytes: Long)

  /** File census of every `<partPrefix>=<value>` partition under `dir`:
    * one `listStatus` per partition, no data reads — the fragmentation
    * trigger feeding [[compactPartitionedDir]] (the census → trigger →
    * rewrite discipline the IVF drift lifecycle uses). */
  def partitionCensus(spark: SparkSession, dir: String,
                      partPrefix: String): Seq[PartitionCensus] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partPrefix + "="))
      .map { st =>
        val data = fs.listStatus(st.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
        PartitionCensus(st.getPath.getName, data.length, data.map(_.getLen).sum)
      }
      .sortBy(_.partition)
  }

  /** Fragmentation-proportional compaction of a hive-partitioned
    * parquet dir: partitions whose data-file count exceeds BOTH
    * `maxFilesPerPartition` and their byte-derived target
    * ⌈bytes / targetFileBytes⌉ are rewritten to the target count
    * (narrow `coalesce` — no shuffle) and swapped in per-partition via
    * the write-tmp → bak → rename dance; every other partition is never
    * read, rewritten, or touched (byte-identity law). Idempotent by
    * construction: a compacted partition sits AT its target count, so
    * the trigger cannot re-fire — the second run returns empty and
    * writes nothing.
    *
    * Crash safety (single-writer): each swap is per-partition atomic on
    * rename-atomic filesystems; a crash between the two renames leaves
    * an orphaned `.compact_bak_*` with the live dir missing, which the
    * RECOVERY SWEEP at the next entry restores (stale tmp/bak from
    * completed swaps are dropped). Scratch siblings are DOT-prefixed —
    * specifically not underscore-prefixed: Spark's hidden-path filter
    * exempts `_`-names containing `=` (HadoopFSUtils
    * .shouldFilterOutPathName), so `_bak_day=A` would be readable as a
    * partition, while `.`-names are filtered unconditionally — readers
    * never see scratch state. Returns the compacted partition names. */
  def compactPartitionedDir(spark: SparkSession, dir: String,
                            partPrefix: String,
                            maxFilesPerPartition: Int = 4,
                            targetFileBytes: Long = 128L << 20): Seq[String] = {
    require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    // recovery sweep: restore any bak whose live partition vanished in
    // a crash window; clear scratch left behind by completed swaps
    fs.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".compact_tmp_")) fs.delete(st.getPath, true)
      else if (n.startsWith(".compact_bak_")) {
        val live = new Path(base, n.stripPrefix(".compact_bak_"))
        if (!fs.exists(live)) {
          if (!fs.rename(st.getPath, live))
            throw new java.io.IOException(s"compactPartitionedDir: recovery rename $n failed")
        } else fs.delete(st.getPath, true)
      }
    }
    def must(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(s"compactPartitionedDir: $what failed")
    partitionCensus(spark, dir, partPrefix).flatMap { c =>
      val targetN =
        math.max(1L, (c.bytes + targetFileBytes - 1) / targetFileBytes).toInt
      if (c.files <= maxFilesPerPartition || c.files <= targetN) None
      else {
        val live = new Path(base, c.partition)
        val tmp = new Path(base, s".compact_tmp_${c.partition}")
        val bak = new Path(base, s".compact_bak_${c.partition}")
        // the partition dir reads WITHOUT its partition column (the
        // value lives in the dir name) — exactly the file schema the
        // swapped-in rewrite must carry
        readArtifact(spark, live.toString).coalesce(targetN)
          .write.mode("overwrite").parquet(tmp.toString)
        must(fs.rename(live, bak), s"rename $live -> bak")
        must(fs.rename(tmp, live), s"rename tmp -> $live")
        fs.delete(bak, true)
        Some(c.partition)
      }
    }
  }

  /** Retention/TTL expiry of whole partitions — metadata-only: list the
    * `<partPrefix>=<value>` dirs, drop every one whose VALUE the
    * predicate condemns, never open a data file. The at-scale shape for
    * time-partitioned retention: dropping a 10 TB day costs one
    * recursive delete, not a scan. Idempotent (a dropped partition is
    * gone from the next listing); expire == rebuild-without those
    * partitions because parquet partitions are physically disjoint.
    * Returns the dropped partition dir names. */
  def expirePartitions(spark: SparkSession, dir: String, partPrefix: String,
                       dropValue: String => Boolean): Seq[String] = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partPrefix + "="))
      .filter { st =>
        val raw = st.getPath.getName.drop(partPrefix.length + 1)
        // partitionBy URL-encodes reserved chars in partition values
        dropValue(java.net.URLDecoder.decode(raw, "UTF-8"))
      }
      .map { st => fs.delete(st.getPath, true); st.getPath.getName }
      .sorted
  }

  /** Streaming append ingest partitioned by `partCol` — the producer of
    * the date-partitioned raw-ingest layout the two maintenance verbs
    * above service: micro-batches append `<partCol>=<v>/part-*.parquet`
    * (touched partitions gain files, nothing rewrites), compaction
    * defragments warm partitions, TTL expiry drops cold ones whole.
    * EXACTLY-ONCE under replay via [[idempotentForeachBatch]]: a
    * redelivered micro-batch appends nothing (append mode makes the
    * marker essential — without it a replay would duplicate rows, the
    * failure the upsert sinks' idempotent merges never see). */
  def partitionedIngestSink(df: DataFrame, dir: String, checkpointDir: String,
                            partCol: String,
                            compactEvery: Option[Int] = None,
                            maxFilesPerPartition: Int = 4)
      : DataStreamWriter[Row] = {
    require(compactEvery.forall(_ >= 1), "compactEvery must be >= 1")
    foreachBatchSink(df, checkpointDir)(
      idempotentForeachBatch(s"$dir/_markers") { (batch, batchId) =>
        graft.sources.IO.alignToPartitions(batch, partCol)
          .write.mode("append").partitionBy(partCol).parquet(dir)
        // in-sink maintenance policy: every k-th batch defragments
        // whatever the appends accumulated — fragmentation-
        // proportional (only partitions above threshold rewrite), and
        // safe under the batch marker (a replayed batch skips the
        // append AND the compact; compaction is idempotent anyway)
        compactEvery.foreach { k =>
          if (batchId % k == k - 1)
            compactPartitionedDir(batch.sparkSession, dir, partCol,
              maxFilesPerPartition)
        }
      })
  }

  /** Streaming TAKEDOWN: each micro-batch of opt-out docs leaves every
    * attached persisted index — the GDPR/opt-out stream shape
    * completing the round-11 delete lifecycle. The request stream
    * carries (id, text): the fingerprint index is keyed by content
    * hash, so the takedown needs the content (callers enrich from the
    * corpus before its own tombstone lands — corpus deletion itself
    * rides [[bucketedUpsertSink]] CDC `op="d"` rows, not this sink).
    *
    * EXACTLY-ONCE without markers: both delete verbs locate their
    * touched partitions by (semi-)joining the request against the live
    * index, so a replayed batch finds nothing and writes nothing — the
    * idempotence is in the verbs (ScalePathSpec replay laws), not in
    * bookkeeping. */
  def takedownSink(requests: DataFrame, checkpointDir: String,
                   idCol: String, textCol: String,
                   fpIndexDir: Option[String] = None,
                   nearDupIndexDir: Option[String] = None)
      : DataStreamWriter[Row] =
    foreachBatchSink(requests, checkpointDir) { (batch, _) =>
      Checkpoints.scoped(batch.sparkSession) { pin =>
        // one consume feeds both verbs (and commits the batch's plan)
        val pinned = pin(batch)
        fpIndexDir.foreach(d => graft.operators.Dedup
          .deleteFromFingerprintIndex(pinned, textCol, d))
        nearDupIndexDir.foreach(d => graft.operators.Dedup
          .deleteFromNearDupIndex(pinned.select(col(idCol)), idCol, d))
      }
    }

  // ---- round-trip helpers -------------------------------------------

  /** Bucketed + sorted table write — the co-located-join layout: both
    * sides of a recurring equi-join written with the SAME bucket count
    * and key hash-partition identically on disk, so the join plans with
    * ZERO exchanges (and zero sorts, since each bucket file is sorted
    * by the key). This is the bucketing lever from SURVEY §4.2: at
    * 100 TB the shuffle this removes is the dominant cost of every
    * fact⋈fact join. External table (explicit `path`) so the data
    * outlives the catalog entry and lands where the caller says. */
  def writeBucketedTable(df: DataFrame, table: String, path: String,
                         bucketCol: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
