package graft.tools

import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev profiler for registered query ids and the composed ingest chain.
  * Every id run is consumed through the noop sink: every column of every
  * row is computed, with no count-prune and no sink cost.
  * {{{
  * sbt "runMain graft.tools.Prof ids <id>..."                    # min-of-3 wall per id
  * sbt "runMain graft.tools.Prof jobs <id>..."                   # per-job / per-stage breakdown, compiles
  * sbt "runMain graft.tools.Prof abconf <key> <a> <b> <id>..."   # interleaved A/B of a SQL conf
  * sbt "runMain graft.tools.Prof chain [batchSize] [nBatches]"   # per-micro-batch job census
  * }}}
  * `SPARK_GRAFT_SF_DIR` names the data (default sf0.1) and
  * `SPARK_GRAFT_CPUS` the `local[N]` master (default: the host's
  * processors). */
object Prof {
  private val usage = "usage: Prof ids <id>... | jobs <id>... | " +
    "abconf <confKey> <valA> <valB> <id>... | chain [batchSize] [nBatches]"

  private final case class Job(id: Int, batch: Option[Long], name: String,
                               t0: Long, var ns: Long = -1L)
  private final case class Stage(id: Int, job: Int, wallS: Double,
                                 runS: Double, tasks: Int, name: String)

  /** Every job and completed stage seen while attached. A job carries
    * its micro-batch (the `streaming.sql.batchId` job property; stage
    * names cannot tell batches apart, since every job inside
    * `foreachBatch` carries the query's `start()` call site) and its
    * first stage's name; a stage carries the job that submitted it. */
  private final class Census extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    private val jobOf = mutable.Map.empty[Int, Int]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val batch = Option(j.properties)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong)
      jobs += Job(j.jobId, batch,
        j.stageInfos.headOption.map(_.name).getOrElse("?"), System.nanoTime())
      j.stageIds.foreach(s => jobOf.getOrElseUpdate(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == j.jobId).foreach(job => job.ns = System.nanoTime() - job.t0)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val si = s.stageInfo
      val wall = (for {a <- si.completionTime; b <- si.submissionTime}
        yield (a - b) / 1000.0).getOrElse(-1.0)
      stages += Stage(si.stageId, jobOf.getOrElse(si.stageId, -1), wall,
        si.taskMetrics.executorRunTime / 1000.0, si.numTasks, si.name)
    }
  }

  /** Run `body` with a fresh [[Census]] attached; the listener bus is
    * given a moment to drain before it is detached. */
  private def census[T](spark: SparkSession)(body: => T): (T, Census) = {
    val c = new Census
    spark.sparkContext.addSparkListener(c)
    try {
      val r = body
      Thread.sleep(500)
      (r, c)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  /** `body`'s result and the Janino compiles that ran under it (every
    * generated class: whole-stage code, projections, orderings), on the
    * driver and, in local mode, in the tasks. */
  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("ERROR")
    val queries = graft.Queries.all.toMap
    def query(id: String): DataFrame =
      queries.getOrElse(id, sys.error(s"unknown query id $id"))(spark, sfDir)
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    // one noop run of `id`, swept afterwards; returns its wall seconds
    def run(id: String): Double = {
      val t0 = System.nanoTime()
      query(id).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      sweep()
      s
    }

    try args(0) match {
      case "ids" =>
        // min-of-3 strips first-use codegen/JIT like Bench's min-of-runs
        args.drop(1).foreach { id =>
          val samples = Seq.fill(3)(run(id)).sorted
          println(f"[prof] $id%-44s min ${samples.head}%8.3f s  med ${samples(1)}%8.3f s")
        }
      case "jobs" =>
        // warm each id twice, then census a third run: each job's
        // duration and each stage's wall/run time. The compiles of the
        // first run are the id's codegen footprint; those of the census
        // run are what a warm run still pays.
        args.drop(1).foreach { id =>
          val (_, firstCompiles) = compiles(run(id))
          run(id)
          val ((wall, c), censusCompiles) = compiles(census(spark)(run(id)))
          println(f"[prof] $id total $wall%.3f s, ${c.jobs.size} jobs, " +
            s"compiles: first run $firstCompiles, census run $censusCompiles:")
          c.jobs.sortBy(_.id).foreach { j =>
            println(f"[prof]   job ${j.id}%3d ${j.ns / 1e9}%7.3f s  ${j.name.take(90)}")
          }
          c.stages.foreach { s =>
            println(f"[prof]   stage ${s.id}%3d wall ${s.wallS}%7.3f s run ${s.runS}%7.3f s tasks ${s.tasks}%3d  ${s.name.take(70)}")
          }
        }
      case "abconf" =>
        // one warm-up run per id, then 4 alternating samples per value;
        // min per value
        require(args.length >= 5, usage)
        val Array(key, va, vb) = args.slice(1, 4)
        args.drop(4).foreach { id =>
          run(id)
          val times = mutable.Map(va -> List.empty[Double], vb -> List.empty[Double])
          try for (_ <- 1 to 4; v <- Seq(va, vb)) {
            spark.conf.set(key, v)
            times(v) = run(id) :: times(v)
          } finally spark.conf.unset(key)
          println(f"[prof] $id%-28s A=$va min ${times(va).min}%7.3f  B=$vb min ${times(vb).min}%7.3f")
        }
      case "chain" =>
        chain(spark,
          if (args.length > 1) args(1).toLong else 20000L,
          if (args.length > 2) args(2).toInt else 5)
      case other => sys.error(s"unknown verb $other; $usage")
    } finally spark.stop()
  }

  /** Documents/second through the FULL composed live ingest chain
    * ([[graft.sources.IO.composedIngestSink]]: exact-dedup → near-dup
    * → winnow → decontaminate → quality → diversity, every artifact
    * advanced, WAL + ledger per batch), with one census line per
    * micro-batch: its id, `batchDuration` and the jobs, stages and
    * tasks that ran under it. FIXED-size micro-batches via a file
    * stream with `maxFilesPerTrigger 1` — a rate-source run measures
    * backlog dynamics, not the chain (the first slow batch swallows the
    * backlog and every later batch inherits it); fixed batches measure
    * what an operator provisions for: per-batch wall at a chosen batch
    * size, across batches as the gate indexes GROW. Synthetic workload with
    * real gate pressure: 40-token docs with ≈17% exact re-emissions,
    * 64-dim embeddings pooled into 512 jittered semantic regions, a
    * probe set and a DSIR LM trained on a boot sample. Ends with one
    * JSON line: total docs/s + first/last batch wall. */
  private def chain(spark: SparkSession, batchSize: Long, nBatches: Int): Unit = {
    import graft.operators.{ChainConfig, Sampling}
    val base = java.nio.file.Files.createTempDirectory("chain_bench_")
      .toString
    // deterministic synthetic corpus: ≈17% exact re-emissions (the
    // exact-dedup pressure), 40 tokens from a 200k-token vocabulary,
    // embeddings pooled into 512 jittered regions. One parquet file per
    // micro-batch.
    def gen(ids: DataFrame) = ids
      .withColumn("__ck",
        when(col("id") % 6L === 0L, col("id") / 7L)
          .otherwise(col("id")) % 524288L)
      .withColumn("doc_id", col("id"))
      .withColumn("text", concat_ws(" ", (0 until 40).map(i =>
        concat(lit("w"),
          pmod(xxhash64(col("__ck") * 40L + i), lit(200000L)))): _*))
      .withColumn("embedding", array((0 until 64).map { j =>
        (pmod(xxhash64(col("__ck") % 512L, lit(j)), lit(2000L))
          .cast("double") - 1000.0) / 1000.0 +
          ((col("__ck") % 97L).cast("double") - 48.0) / 4800.0
      }: _*))
      .select("doc_id", "text", "embedding")
    try {
      val probeDir = s"$base/probe"; val lmDir = s"$base/lm"
      val boot = gen(spark.range(2048).toDF("id"))
      boot.limit(32).select("text").write.parquet(probeDir)
      Sampling.dsirLm(boot.withColumn("__t", col("doc_id") % 2L === 0L),
        "text", col("__t")).write.parquet(lmDir)
      val inDir = s"$base/in"
      for (b <- 0 until nBatches)
        gen(spark.range(b * batchSize, (b + 1) * batchSize).toDF("id"))
          .coalesce(1).write.mode("append").parquet(inDir)
      val docs = spark.readStream
        .schema(spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
      val cfg = ChainConfig("doc_id", "text",
        fpIndexDir = s"$base/fp", bandIndexDir = s"$base/band",
        nearDupThreshold = 0.7,
        winnowIndexDir = Some(s"$base/win"),
        probeDir = Some(probeDir),
        lmDir = Some(lmDir), qualityThresholdPicoPerToken = -10000000000000L,
        embCol = Some("embedding"),
        diversityIndexDir = Some(s"$base/div"),
        diversityCap = (batchSize * nBatches / 512L + 1L).toInt)
      val ((q, wall), c) = census(spark) {
        val t0 = System.nanoTime()
        val q = graft.sources.IO.composedIngestSink(docs, s"$base/out",
            s"$base/ck", cfg)
          .start()
        q.awaitTermination() // AvailableNow: drains the nBatches files
        (q, (System.nanoTime() - t0) / 1e9)
      }
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      for (p <- progress) {
        val jobs = c.jobs.filter(_.batch.contains(p.batchId)).map(_.id).toSet
        val stages = c.stages.filter(s => jobs(s.job))
        println(f"[prof] batch ${p.batchId}%3d ${p.batchDuration / 1e3}%7.1f s  " +
          f"${jobs.size}%4d jobs ${stages.size}%4d stages ${stages.map(_.tasks).sum}%6d tasks")
      }
      val processed = progress.map(_.numInputRows).sum
      val perBatch = progress.map(_.batchDuration / 1e3)
      val admitted =
        try spark.read.parquet(s"$base/out").count()
        catch { case _: Exception => 0L }
      val cpus = spark.sparkContext.defaultParallelism
      println(f"""{"metric":"chain_docs_per_sec","value":${processed / wall}%.0f,"docs":$processed,"wall_sec":$wall%.1f,"batch_size":$batchSize,"batches":${progress.length},"first_batch_sec":${perBatch.headOption.getOrElse(0.0)}%.1f,"last_batch_sec":${perBatch.lastOption.getOrElse(0.0)}%.1f,"admitted":$admitted,"cpus":$cpus}""")
    } finally graft.sources.IO.deleteDir(spark, base)
  }
}
