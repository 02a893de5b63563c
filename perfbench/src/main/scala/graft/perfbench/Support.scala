package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Row count and an order-insensitive 64-bit content hash of a query's
  * output. Consuming the plan through `toRdd` runs the query's own
  * physical plan (all columns, sorts intact) in one job, as `graft.Bench`
  * does with `toRdd.count()`. */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val types = df.schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(types)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42)
        val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 0x2545f491)
        n += 1
        h += (hi.toLong << 32) ^ (lo & 0xffffffffL)
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }

  def hex(h: Long): String = f"$h%016x"
}

/** Host readings from /proc: CPU steal and CPU pressure (PSI). Missing
  * files read as zero. */
object Host {
  final case class Sample(stealTicks: Long, psiSomeUs: Long, nanos: Long)

  private def read(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path)))) catch { case _: Exception => None }

  def sample(): Sample = {
    val steal = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    val psi = read("/proc/pressure/cpu").flatMap(_.linesIterator.find(_.startsWith("some")))
      .flatMap(_.split(" ").find(_.startsWith("total="))).map(_.drop(6).toLong).getOrElse(0L)
    Sample(steal, psi, System.nanoTime())
  }

  /** Steal seconds (USER_HZ = 100) and the share of wall time in which
    * some task waited for a CPU, between two samples. */
  def between(a: Sample, b: Sample): Map[String, Double] = {
    val wallUs = (b.nanos - a.nanos) / 1e3
    Map("host.steal_s" -> (b.stealTicks - a.stealTicks) / 100.0,
      "host.cpu_psi_some" -> (if (wallUs > 0) (b.psiSomeUs - a.psiSomeUs) / wallUs else 0.0))
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** CPU time of the whole process, every thread. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Stats {
  /** The median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Tree {
  /** Regular files under `dir`, recursively; empty when it is missing. */
  def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) files(f) else Seq(f)
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
