package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.Queries

/** One pass over a workload's input: its wall time, the latency of each
  * operation (a query id, or a micro-batch by query and position), the
  * operations attempted and failed, and — when traced — the per-layer
  * values of the pass. */
final case class Pass(wallS: Double, latencyMs: Map[String, Double], attempted: Int,
                      failed: Int, layers: Map[String, Double])

trait Workload {
  /** Stage the inputs on a fresh session. */
  def setup(spark: SparkSession): Unit

  /** Run the input once. `trace` is set on a traced pass. */
  def pass(spark: SparkSession, index: Int, trace: Option[Trace]): Pass
}

/** Expected output of a query id: row count and content hash, either
  * `None` where the recorded runs disagreed (nondeterministic output). */
final case class Expect(rows: Option[Long], hash: Option[Long])

/** A closed loop over query ids, one at a time: each id's function is
  * called (building its DataFrame, with any eager jobs) and its plan is
  * consumed, as `graft.Bench` does. Id order within a pass is a
  * permutation drawn from the seed. */
final class BatchWorkload(ids: Seq[String], modules: Map[String, Seq[String]],
                          expected: Map[String, Expect], data: String, seed: Long)
    extends Workload {

  private val fns = Queries.all.toMap

  def setup(spark: SparkSession): Unit = {
    // the warmup graft.Bench runs before its timed loop
    spark.range(1000).selectExpr("sum(id)").collect()
    Queries.q_agg_groupby(spark, data).count()
    Queries.q_window_tumble(spark, data).count()
  }

  /** One id's run: called at `startUs`, DataFrame built at `builtUs`,
    * plan consumed at `endUs`. */
  private final case class Run(id: String, startUs: Long, builtUs: Long, endUs: Long,
                               phasesMs: Map[String, Double]) {
    def buildS: Double = (builtUs - startUs) / 1e6
    def totalS: Double = (endUs - startUs) / 1e6
  }

  def pass(spark: SparkSession, index: Int, trace: Option[Trace]): Pass = {
    val sc = spark.sparkContext
    val order = new scala.util.Random(seed * 1000003L + index).shuffle(ids)
    val runs = ArrayBuffer.empty[Run]
    var failed = 0
    val t0 = System.nanoTime()
    val passStart = Spans.nowUs
    order.foreach { id =>
      val group = s"p$index/$id"
      sc.setJobGroup(s"$group/build", id, interruptOnCancel = false)
      val s0 = Spans.nowUs
      try {
        val df = fns(id)(spark, data)
        val s1 = Spans.nowUs
        sc.setJobGroup(s"$group/run", id, interruptOnCancel = false)
        val (rows, hash) = Digest.of(df)
        val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
          k -> v.durationMs.toDouble }
        runs += Run(id, s0, s1, Spans.nowUs, phases)
        val want = expected.getOrElse(id, Expect(None, None))
        if (want.rows.exists(_ != rows) || want.hash.exists(_ != hash)) {
          failed += 1
          System.err.println(s"[perfbench] $id: WRONG OUTPUT rows=$rows " +
            s"hash=${Digest.hex(hash)} expected $want")
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $id FAILED: $e")
      }
      sc.clearJobGroup()
      // between-id hygiene, as graft.Bench does: drop the blocks of
      // finished ids' local checkpoints
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val wallS = Stats.secsSince(t0)
    val layers = trace.fold(Map.empty[String, Double]) { t =>
      val p = t.spans.add("pass", s"p$index", passStart, Spans.nowUs)
      runs.foreach { r =>
        val q = t.spans.add("query", r.id, r.startUs, r.endUs, p)
        t.spans.add("entry", r.id, r.startUs, r.builtUs, q)
        t.spans.add("consume", r.id, r.builtUs, r.endUs, q)
      }
      t.counters.awaitQuiet()
      traced(t.counters, index, runs.toSeq, wallS, sc.defaultParallelism)
    }
    Pass(wallS, runs.map(r => r.id -> r.totalS * 1e3).toMap, order.size, failed, layers)
  }

  private def traced(c: Counters, index: Int, runs: Seq[Run], wallS: Double,
                     cores: Int): Map[String, Double] = {
    def groups(r: Run) = (c.group(s"p$index/${r.id}/build"), c.group(s"p$index/${r.id}/run"))
    val perId = runs.map { r =>
      val (build, run) = groups(r)
      val all = new Acc
      all += build; all += run
      (r, build.jobs, all)
    }
    val total = new Acc
    perId.foreach(p => total += p._3)
    def phase(k: String) = runs.map(_.phasesMs.getOrElse(k, 0.0)).sum
    val operators = (Layers.Modules :+ "none").flatMap { m =>
      val mine = perId.filter { case (r, _, _) =>
        val ms = modules.getOrElse(r.id, Nil)
        if (m == "none") ms.isEmpty else ms.contains(m)
      }
      Seq(s"operators.$m.wall_s" -> mine.map(_._1.totalS).sum,
        s"operators.$m.cpu_s" -> mine.map(_._3.cpuNs / 1e9).sum,
        s"operators.$m.jobs" -> mine.map(_._3.jobs.toDouble).sum)
    }
    total.layers(wallS, cores) ++ operators ++ Map(
      "entry.build_s" -> runs.map(_.buildS).sum,
      "entry.eager_jobs" -> perId.map(_._2.toDouble).sum,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimizer_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"))
  }
}
