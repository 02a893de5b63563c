package graft.perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, TimeMode}
import org.apache.spark.sql.types._

import graft.sources.{IO, Tables}
import graft.streaming.{Jobs, Processors, Streams}

/** Shared parts of the micro-batch workloads: input files written one
  * per micro-batch, drained with `AvailableNow` and `maxFilesPerTrigger`
  * 1, and the per-batch breakdown read from `StreamingQueryProgress`. */
object Micro {
  /** Write one file per micro-batch, with modification times in batch
    * order so that the file source reads them in that order. */
  def writeBatches(dir: File, batches: Seq[Seq[String]]): Unit = {
    Tree.deleteTree(dir)
    dir.mkdirs()
    batches.zipWithIndex.foreach { case (lines, i) =>
      val f = new File(dir, f"part-$i%05d.json")
      val w = new PrintWriter(f, "UTF-8")
      try lines.foreach(w.println) finally w.close()
      f.setLastModified(1000000000000L + i * 1000L)
    }
  }

  def read(spark: SparkSession, schema: StructType, dir: File): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(dir.getPath)

  /** Run a started query to its end; all of its progress records. */
  def drain(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    q.awaitTermination()
    q.recentProgress.toSeq
  }

  /** The micro-batches that read input (no-data batches aside). */
  def withData(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  /** A span per data batch: from the progress timestamp (trigger start)
    * for its `triggerExecution` time. */
  def spans(t: Trace, parent: Int, query: String, ps: Seq[StreamingQueryProgress]): Unit =
    withData(ps).zipWithIndex.foreach { case (p, i) =>
      val start = Spans.micros(java.time.Instant.parse(p.timestamp))
      t.spans.add("batch", s"$query/$i", start,
        start + (duration(p, "triggerExecution") * 1000).toLong, parent)
    }

  /** `triggerExecution` of each data batch, keyed by query and position. */
  def triggerMs(query: String, ps: Seq[StreamingQueryProgress]): Map[String, Double] =
    withData(ps).zipWithIndex.map { case (p, i) =>
      s"$query/$i" -> duration(p, "triggerExecution") }.toMap

  private def duration(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** The streaming, state and sink layers of a drain. `drains` holds
    * each query's progress records. */
  def layers(drains: Seq[Seq[StreamingQueryProgress]]): Map[String, Double] = {
    val queries = drains.map(withData)
    val all = queries.flatten
    def med(k: String) = Stats.median(all.map(duration(_, k)))
    def ops(p: StreamingQueryProgress) = p.stateOperators.toSeq
    Map(
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.planning_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"),
      "state.rows_total" -> queries.flatMap(_.lastOption)
        .flatMap(ops).map(_.numRowsTotal.toDouble).sum,
      "state.rows_updated" -> all.flatMap(ops).map(_.numRowsUpdated.toDouble).sum,
      "state.memory_bytes" -> all.map(ops(_).map(_.memoryUsedBytes.toDouble).sum)
        .foldLeft(0.0)(math.max),
      "state.commit_ms" -> Stats.median(all.map(ops(_).map(_.commitTimeMs.toDouble).sum)),
      "sinks.add_batch_ms" -> all.map(duration(_, "addBatch")).sum)
  }

  /** Bytes and data files the sinks left under `dirs`, metadata logs aside. */
  def written(dirs: Seq[File]): Map[String, Double] = {
    val data = dirs.flatMap(Tree.files).filter(f => !f.getName.startsWith(".") &&
      !f.getName.startsWith("_") && !f.getPath.contains("_spark_metadata"))
    Map("sinks.bytes_written" -> data.map(_.length).sum.toDouble,
      "sinks.files_written" -> data.size.toDouble)
  }
}

/** The reference's DWD→DWS path over the `events` table replayed in
  * event-time order, one file of `rowsPerBatch` rows per micro-batch:
  * broadcast `customer` enrichment → `Jobs.userWindowSpend` (watermark
  * plus window) → `IO.parquetSink`; then a second query runs
  * `Processors.FirstVisitProcessor` under RocksDB into `IO.parquetSink`.
  * The seed permutes rows within each batch and day, which keeps every
  * row inside the watermark delay and every first visit first. */
final class WarehouseStream(data: String, work: File, seed: Long, rowsPerBatch: Int)
    extends Workload {
  private val WindowDur = "1 day"
  private val DelayMs = 3600L * 1000L
  private val Delay = s"${DelayMs / 1000} seconds"
  private val MicrosPerDay = 86400L * 1000000L
  private val schema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts_us", LongType), StructField("user_id", LongType),
    StructField("value", DoubleType)))
  private val inDir = new File(work, "in")
  private var nRows = 0L
  private var visitorDays = 0L
  private var batches = 0
  private var watermarkMs = 0L
  private var expectedWindows: Option[(Long, Long)] = None

  def setup(spark: SparkSession): Unit = {
    val rows = Tables.events(spark, data)
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._2, r._1))
    val chunks = rows.grouped(rowsPerBatch).toSeq.zipWithIndex.map { case (chunk, i) =>
      val rnd = new scala.util.Random(seed * 1000003L + i)
      chunk.toSeq.groupBy(_._2 / MicrosPerDay).toSeq.sortBy(_._1)
        .flatMap { case (_, day) => rnd.shuffle(day.sortBy(r => (r._2, r._1))) }
        .map { case (id, ts, user, v) =>
          s"""{"event_id":$id,"ts_us":$ts,"user_id":$user,"value":$v}""" }
    }
    Micro.writeBatches(inDir, chunks)
    nRows = rows.length
    batches = chunks.size
    visitorDays = rows.map(r => (r._3, r._2 / MicrosPerDay)).distinct.length
    // the watermark after the last batch: the latest event time, in ms as
    // the watermark operator reads it, minus the delay
    watermarkMs = rows.map(_._2).max / 1000L - DelayMs
  }

  private def events(stream: DataFrame): DataFrame =
    stream.select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
      col("user_id"), col("value"))

  private def windowed(spark: SparkSession, ev: DataFrame): DataFrame = {
    val customer = Tables.customer(spark, data).select("c_custkey", "c_mktsegment")
    Jobs.userWindowSpend(Streams.enrichWithDim(ev, customer, Seq("user_id" -> "c_custkey")),
      "ts", "user_id", "value", WindowDur, Delay)
  }

  private def setProvider(spark: SparkSession, rocks: Boolean): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    if (rocks) spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else spark.conf.unset(key)
  }

  /** Drain the window query, then the first-visit query. */
  private def drainBoth(spark: SparkSession, in: File, base: File)
      : (Seq[StreamingQueryProgress], Seq[StreamingQueryProgress]) = {
    import spark.implicits._
    Tree.deleteTree(new File(base, "out"))
    Tree.deleteTree(new File(base, "ck"))
    setProvider(spark, rocks = false)
    val win = Micro.drain(IO.parquetSink(windowed(spark, events(Micro.read(spark, schema, in))),
      s"$base/out/window", s"$base/ck/window").start())
    setProvider(spark, rocks = true)
    val visits = events(Micro.read(spark, schema, in))
      .select(col("user_id").as("userId"), date_format(col("ts"), "yyyy-MM-dd").as("date"),
        (unix_micros(col("ts")) / 1000L).cast("long").as("tsMs"))
      .as[Processors.Visit]
      .groupByKey(_.userId)
      .transformWithState(new Processors.FirstVisitProcessor(), TimeMode.None(),
        OutputMode.Append())
    val fv = Micro.drain(IO.parquetSink(visits.toDF(), s"$base/out/first_visit",
      s"$base/ck/first_visit").start())
    setProvider(spark, rocks = false)
    (win, fv)
  }

  def pass(spark: SparkSession, index: Int, trace: Option[Trace]): Pass = {
    val base = new File(work, "run")
    val t0 = System.nanoTime()
    val passStart = Spans.nowUs
    val (win, fv) = drainBoth(spark, inDir, base)
    val wallS = Stats.secsSince(t0)
    val sched = trace.map { t =>
      val p = t.spans.add("pass", s"p$index", passStart, Spans.nowUs)
      Micro.spans(t, p, "window", win)
      Micro.spans(t, p, "first_visit", fv)
      t.counters.awaitQuiet()
      t.counters.total
    }
    var failed = 0
    // the drain ends at the watermark the replayed input implies, and the
    // window sink equals the same aggregation run as a batch over the
    // replayed rows, for every window that watermark closes
    val watermark = win.lastOption.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli)
    val got = Digest.of(windowRows(spark.read.parquet(s"$base/out/window")))
    val want = expectedWindows.getOrElse {
      val closed = windowed(spark, events(spark.read.schema(schema).json(inDir.getPath)))
        .filter(unix_millis(col("window_start") + expr(s"INTERVAL $WindowDur")) <=
          lit(watermarkMs))
      val d = Digest.of(windowRows(closed))
      expectedWindows = Some(d)
      d
    }
    if (!watermark.contains(watermarkMs) || want._1 == 0 || got != want) {
      failed += 1
      System.err.println(s"[perfbench] window sink $got at watermark $watermark ms; " +
        s"expected $want at $watermarkMs ms")
    }
    // one first visit per distinct (user, day), and every visit emitted
    val visits = spark.read.parquet(s"$base/out/first_visit")
      .agg(count(lit(1)), sum(when(col("isFirst"), 1L).otherwise(0L))).head()
    if (visits.getLong(0) != nRows || visits.getLong(1) != visitorDays) {
      failed += 1
      System.err.println(s"[perfbench] first visit: ${visits.getLong(0)} rows, " +
        s"${visits.getLong(1)} firsts; expected $nRows rows, $visitorDays firsts")
    }
    val layers = sched.fold(Map.empty[String, Double]) { acc =>
      acc.layers(wallS, spark.sparkContext.defaultParallelism) ++
        Micro.layers(Seq(win, fv)) ++
        Micro.written(Seq(new File(base, "out")))
    }
    Pass(wallS, Micro.triggerMs("window", win) ++ Micro.triggerMs("first_visit", fv),
      2 * batches, failed, layers)
  }

  private def windowRows(df: DataFrame): DataFrame =
    df.select(col("window_start"), col("user_id"), round(col("spend"), 6).as("spend"),
      col("n_events"))
}
