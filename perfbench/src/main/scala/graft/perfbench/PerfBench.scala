package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Queries

/** Per-layer metric names; a traced run prints every one of them. */
object Layers {
  val Modules: Seq[String] = Seq("Dedup", "Similarity", "Graph", "Analytics", "Text",
    "Vectors", "Sampling", "Spectral", "Sketches", "RangeJoin", "Layout")

  val names: Seq[String] = Seq(
    "entry.build_s", "entry.eager_jobs",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.executor_run_s",
    "scheduler.executor_cpu_s", "scheduler.cpu_util", "scheduler.task_deser_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "sources.input_bytes", "sources.input_records") ++
    (Modules :+ "none").flatMap(m => Seq("wall_s", "cpu_s", "jobs").map(k => s"operators.$m.$k")) ++
    Seq(
      "streaming.latest_offset_ms", "streaming.get_batch_ms", "streaming.planning_ms",
      "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
      "state.rows_total", "state.rows_updated", "state.memory_bytes", "state.commit_ms",
      "sinks.add_batch_ms", "sinks.bytes_written", "sinks.files_written",
      "jvm.gc_s", "jvm.heap_peak_mb", "host.steal_s", "host.cpu_psi_some", "trace.overhead_s")
}

/** The benchmark runner. One process, one workload, `local[N]` with N
  * the CPUs the JVM is given (run.py gives it half of nproc):
  *
  *  - set-up starts the session and stages the inputs (with warmup
  *    queries for batch workloads); `setup_s` runs from the launch of the
  *    JVM (`--launched-us`, epoch µs) to the end of set-up, so JVM start,
  *    class loading and object initialisation count;
  *  - untimed passes for [[WarmupS]] absorb first-use codegen and most of
  *    the JIT compiler's backlog;
  *  - measured passes follow one another while one more of typical length
  *    still ends within `--seconds`: at least two, when traced at least
  *    three, alternating plain and traced, so that the tracing overhead
  *    is a traced pass against the plain passes around it;
  *  - `wall_s` is the fastest measured pass;
  *  - the last stdout line is one JSON object: `correct`, `attempted`,
  *    `failed` and `metrics` (end-to-end names untraced, per-layer names
  *    traced); the line before it stamps the run.
  *
  * `--record` instead runs every `Queries.all` id twice, in two orders,
  * and writes the expected outputs. */
object PerfBench {
  final case class Conf(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, data: String = "", work: String = "",
                        bench: String = "", sha: String = "unknown", spans: String = "",
                        launchedUs: Long = 0L, nproc: Int = 0, record: Boolean = false)

  private def parse(args: List[String], c: Conf = Conf()): Conf = args match {
    case "--workload" :: v :: rest => parse(rest, c.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, c.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, c.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, c.copy(trace = v == "1"))
    case "--data" :: v :: rest => parse(rest, c.copy(data = v))
    case "--work" :: v :: rest => parse(rest, c.copy(work = v))
    case "--bench" :: v :: rest => parse(rest, c.copy(bench = v))
    case "--sha" :: v :: rest => parse(rest, c.copy(sha = v))
    case "--spans" :: v :: rest => parse(rest, c.copy(spans = v))
    case "--launched-us" :: v :: rest => parse(rest, c.copy(launchedUs = v.toLong))
    case "--nproc" :: v :: rest => parse(rest, c.copy(nproc = v.toInt))
    case "--record" :: rest => parse(rest, c.copy(record = true))
    case Nil => c
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  /** ids.tsv: id → (workload, modules, in the measured pass). */
  def readIds(bench: String): Seq[(String, String, Seq[String], Boolean)] =
    Files.readAllLines(Paths.get(bench, "ids.tsv")).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val Array(id, wl, mods, in) = l.split("\t")
        (id, wl, if (mods == "-") Nil else mods.split(",").toSeq, in == "1")
      }

  /** expected.tsv: id → (rows, hash), `-` where the recorded runs disagreed. */
  def readExpected(bench: String): Map[String, Expect] =
    Files.readAllLines(Paths.get(bench, "expected.tsv")).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val Array(id, rows, hash) = l.split("\t")
        id -> Expect(Some(rows).filter(_ != "-").map(_.toLong),
          Some(hash).filter(_ != "-").map(java.lang.Long.parseUnsignedLong(_, 16)))
      }.toMap

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .master(s"local[$cpus]")
      // the session graft.Bench runs under
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", s"${2 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
  }

  /** Untimed warm-up before the measured passes, in seconds. */
  val WarmupS = 25.0

  // warehouse_stream sizing: events per micro-batch (4 of the fixture's
  // 10k events per query)
  val WarehouseBatch = 2500

  def workload(c: Conf): Workload = {
    val work = new File(c.work)
    val ids = readIds(c.bench)
    val expected = readExpected(c.bench)
    val registry = Queries.all.map(_._1)
    require(ids.map(_._1).sorted == registry.sorted,
      "ids.tsv does not list exactly the Queries.all ids; run perfbench/modmap.py --write")
    c.workload match {
      case "pipeline" =>
        new BatchWorkload(ids.collect { case (id, "pipeline", _, true) => id },
          ids.map(r => r._1 -> r._3).toMap, expected, c.data, c.seed)
      case "warehouse_stream" => new WarehouseStream(c.data, work, c.seed, WarehouseBatch)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args.toList)
    if (c.record) { record(c); return }
    val host0 = Host.sample()
    val mainS = (Spans.nowUs - c.launchedUs) / 1e6
    val wl = workload(c)
    val spark = session(c.work)
    spark.sparkContext.setLogLevel("WARN")
    wl.setup(spark)
    val setupS = (Spans.nowUs - c.launchedUs) / 1e6
    // untimed passes, checked like measured ones, for WarmupS: pass times
    // keep falling while the JIT compiler works through its backlog
    val w0 = System.nanoTime()
    val warm = ArrayBuffer.empty[Pass]
    while (Stats.secsSince(w0) < WarmupS) warm += wl.pass(spark, -1 - warm.size, None)
    val warmupS = Stats.secsSince(w0)
    Jvm.resetPeak()
    val passes = ArrayBuffer.empty[(Boolean, Pass)]
    val passCpu = ArrayBuffer.empty[Double]
    val minPasses = if (c.trace) 3 else 2
    val spans = new Spans
    val t0 = System.nanoTime()
    def more = passes.size < minPasses ||
      Stats.secsSince(t0) + Stats.median(passes.map(_._2.wallS).toSeq) <= c.seconds
    while (more) {
      val trace = if (c.trace && passes.size % 2 == 1) Some(Trace(new Counters, spans)) else None
      trace.foreach(t => spark.sparkContext.addSparkListener(t.counters))
      val gc0 = Jvm.gcMs
      val cpu0 = Jvm.cpuNs
      val p = wl.pass(spark, passes.size, trace)
      passCpu += (Jvm.cpuNs - cpu0) / 1e9
      trace.foreach(t => spark.sparkContext.removeSparkListener(t.counters))
      passes += trace.isDefined ->
        p.copy(layers = p.layers + ("jvm.gc_s" -> (Jvm.gcMs - gc0) / 1e3))
    }
    val measureS = Stats.secsSince(t0)
    val host = Host.between(host0, Host.sample())
    val all = passes.map(_._2).toSeq
    if (c.trace && c.spans.nonEmpty) spans.write(c.spans)
    val attempted = (all ++ warm).map(_.attempted).sum
    val failed = (all ++ warm).map(_.failed).sum
    val metrics: Seq[(String, Double)] =
      if (!c.trace) {
        // the fastest pass, as graft.Bench takes the minimum: host steal
        // and the tail of the JIT warm-up only ever add time
        Seq("setup_s" -> setupS, "wall_s" -> all.map(_.wallS).min)
      } else {
        val (traced, plain) = passes.toSeq.partition(_._1)
        def med(k: String) = Stats.median(traced.map(_._2.layers.getOrElse(k, 0.0)))
        val run = host ++ Map(
          "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
          "trace.overhead_s" -> (Stats.median(traced.map(_._2.wallS)) -
            Stats.median(plain.map(_._2.wallS))))
        Layers.names.map(k => k -> run.getOrElse(k, med(k)))
      }
    val cpus = Runtime.getRuntime.availableProcessors
    val meta = Seq(
      "workload" -> s""""${c.workload}"""", "seed" -> c.seed.toString,
      "master" -> s""""local[$cpus]"""", "nproc" -> c.nproc.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "git_sha" -> s""""${c.sha}"""", "trace" -> (if (c.trace) "1" else "0"),
      "warmup_s" -> warmupS.toString, "warmup_passes" -> warm.size.toString,
      "passes" -> passes.size.toString,
      "measure_s" -> measureS.toString,
      "launch_to_main_s" -> mainS.toString, "setup_s" -> setupS.toString,
      "pass_wall_s" -> all.map(_.wallS).mkString("[", ",", "]"),
      "pass_cpu_s" -> passCpu.mkString("[", ",", "]"),
      "op_ms" -> all.flatMap(_.latencyMs).groupMap(_._1)(_._2).toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${v.mkString("[", ",", "]")}""" }
        .mkString("{", ",", "}")) ++
      host.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }
    println(meta.map { case (k, v) => s""""$k":$v""" }.mkString("""{"perfbench_run":{""", ",", "}}"))
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      metrics.map { case (k, v) => s""""$k":$v""" }.mkString(""""metrics":{""", ",", "}}"))
    spark.stop()
  }

  /** Record the expected outputs: each id twice, in two orders, on one
    * session; a value the two runs disagree on is recorded as `-`. Also
    * prints each id's second-run latency, for choosing the measured pass. */
  private def record(c: Conf): Unit = {
    val spark = session(c.work)
    spark.sparkContext.setLogLevel("WARN")
    val runs = Seq(Queries.all, Queries.all.reverse).map { order =>
      order.map { case (id, fn) =>
        val t0 = System.nanoTime()
        val d = try Some(Digest.of(fn(spark, c.data))) catch {
          case e: Exception => System.err.println(s"[record] $id FAILED: $e"); None
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        id -> (d, Stats.secsSince(t0))
      }.toMap
    }
    val lines = Queries.all.map { case (id, _) =>
      val (a, b) = (runs(0)(id)._1, runs(1)(id)._1)
      val rows = if (a.isDefined && a.map(_._1) == b.map(_._1)) a.get._1.toString else "-"
      val hash = if (a.isDefined && a == b) Digest.hex(a.get._2) else "-"
      println(f"$id%-36s ${runs(1)(id)._2}%.3f s")
      s"$id\t$rows\t$hash"
    }
    Files.write(Paths.get(c.bench, "expected.tsv"),
      ("# id\trows\thash (order-insensitive; - = the recorded runs disagreed)" +: lines).asJava)
    spark.stop()
  }
}
