package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev profiler for registered query ids. Every run is consumed through
  * the noop sink: every column of every row is computed, with no
  * count-prune and no sink cost.
  * {{{
  * sbt "runMain graft.tools.Prof ids <id>..."                    # min-of-3 wall per id
  * sbt "runMain graft.tools.Prof jobs <id>..."                   # per-job / per-stage breakdown
  * sbt "runMain graft.tools.Prof abconf <key> <a> <b> <id>..."   # interleaved A/B of a SQL conf
  * }}}
  * `SPARK_GRAFT_SF_DIR` names the data (default sf0.1) and
  * `SPARK_GRAFT_CPUS` the `local[N]` master (default: the host's
  * processors). The first line printed is `local[N] nproc=M`. */
object Prof {
  private val usage =
    "usage: Prof ids <id>... | jobs <id>... | abconf <confKey> <valA> <valB> <id>..."

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nproc = Runtime.getRuntime.availableProcessors
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", nproc.toString)
    println(s"local[$cpus] nproc=$nproc")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", s"${2 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
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
        // warm each id twice, then run it a third time with a listener
        // that records each job's duration and each stage's wall/run time
        args.drop(1).foreach { id =>
          run(id); run(id)
          val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
          val starts = mutable.Map.empty[Int, (Long, String)]
          val stages = mutable.ArrayBuffer.empty[String]
          val listener = new SparkListener {
            override def onJobStart(j: SparkListenerJobStart): Unit =
              starts(j.jobId) = (System.nanoTime(),
                j.stageInfos.headOption.map(_.name).getOrElse("?"))
            override def onJobEnd(j: SparkListenerJobEnd): Unit =
              starts.get(j.jobId).foreach { case (t0, n) =>
                jobs += ((j.jobId, System.nanoTime() - t0, n)) }
            override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
              val si = s.stageInfo
              val wall = (for {a <- si.completionTime; b <- si.submissionTime}
                yield (a - b) / 1000.0).getOrElse(-1.0)
              val busy = si.taskMetrics.executorRunTime / 1000.0
              stages += f"stage ${si.stageId}%3d wall $wall%7.3f s run $busy%7.3f s tasks ${si.numTasks}%3d  ${si.name.take(70)}"
            }
          }
          spark.sparkContext.addSparkListener(listener)
          val wall = run(id)
          Thread.sleep(300) // let the listener bus drain
          spark.sparkContext.removeSparkListener(listener)
          println(f"[prof] $id total $wall%.3f s, ${jobs.size} jobs:")
          jobs.sortBy(_._1).foreach { case (jid, ns, n) =>
            println(f"[prof]   job $jid%3d ${ns / 1e9}%7.3f s  ${n.take(90)}")
          }
          stages.foreach(s => println(s"[prof]   $s"))
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
      case other => sys.error(s"unknown verb $other; $usage")
    } finally spark.stop()
  }
}
