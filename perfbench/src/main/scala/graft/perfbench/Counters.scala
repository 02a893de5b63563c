package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark's own task counters, summed per job group. */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, deserMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var inputBytes, inputRecords = 0L

  def +=(o: Acc): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; deserMs += o.deserMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
  }

  /** The scheduler, shuffle and sources layers of these counters. */
  def layers(wallS: Double, cores: Int): Map[String, Double] = synchronized {
    val cpuS = cpuNs / 1e9
    Map(
      "scheduler.jobs" -> jobs.toDouble,
      "scheduler.stages" -> stages.toDouble,
      "scheduler.tasks" -> tasks.toDouble,
      "scheduler.executor_run_s" -> runMs / 1e3,
      "scheduler.executor_cpu_s" -> cpuS,
      "scheduler.cpu_util" -> (if (wallS > 0) cpuS / (wallS * cores) else 0.0),
      "scheduler.task_deser_s" -> deserMs / 1e3,
      "shuffle.write_bytes" -> shuffleWrite.toDouble,
      "shuffle.read_bytes" -> shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> fetchWaitMs / 1e3,
      "shuffle.spill_bytes" -> spill.toDouble,
      "sources.input_bytes" -> inputBytes.toDouble,
      "sources.input_records" -> inputRecords.toDouble)
  }
}

/** A listener that files every job, stage and task under the job group
  * that launched it (`spark.jobGroup.id`; streaming queries use their run
  * id). Events arrive asynchronously: call [[awaitQuiet]] before reading. */
final class Counters extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val openJobs = new AtomicLong()
  @volatile private var lastEvent = System.nanoTime()

  private def acc(group: String): Acc = groups.computeIfAbsent(group, _ => new Acc)
  private def ofStage(stageId: Int): Acc = acc(stageGroup.getOrDefault(stageId, ""))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    val a = acc(group)
    a.synchronized { a.jobs += 1 }
    openJobs.incrementAndGet()
    lastEvent = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    openJobs.decrementAndGet()
    lastEvent = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = ofStage(e.stageInfo.stageId)
    a.synchronized { a.stages += 1 }
    lastEvent = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = ofStage(e.stageId)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }
    lastEvent = System.nanoTime()
  }

  /** Wait until every job started so far has ended and no event has
    * arrived for `quietMs`, so that the group sums are complete. */
  def awaitQuiet(quietMs: Long = 150L, maxMs: Long = 20000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
      (openJobs.get() > 0 || System.nanoTime() - lastEvent < quietMs * 1000000L))
      Thread.sleep(20)
  }

  def group(name: String): Acc = {
    val out = new Acc
    Option(groups.get(name)).foreach(out += _)
    out
  }

  def total: Acc = {
    val out = new Acc
    groups.values.asScala.foreach(out += _)
    out
  }
}

/** What a traced pass records into: its own counters and the run's spans. */
final case class Trace(counters: Counters, spans: Spans)

/** Spans of a traced run, each with its layer, the id or batch it timed,
  * start and end (epoch µs) and the span that caused it; held in memory
  * and written out, one JSON object a line, when the run ends. */
final class Spans {
  private val lines = ArrayBuffer.empty[String]

  def add(layer: String, name: String, startUs: Long, endUs: Long, parent: Int = -1): Int =
    synchronized {
      lines += s"""{"id":${lines.size},"parent":$parent,"layer":"$layer","name":"$name",""" +
        s""""start_us":$startUs,"end_us":$endUs}"""
      lines.size - 1
    }

  def write(path: String): Unit = synchronized {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), lines.asJava)
  }
}

object Spans {
  def nowUs: Long = micros(Instant.now())

  def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000
}
