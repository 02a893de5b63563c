package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Scans of the shipped sources for patterns no runtime test can see. */
class SourceScanSpec extends AnyFunSuite {

  test("no shipped code reads a graft.* system property") {
    // a decided A/B kept as a -Dgraft.* switch is a hidden second code
    // path that neither the suite nor the benchmark runs
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val read = """(sys\.props|System\.getProperty)[^";]{0,40}"graft\.[^"]*"""".r
    val hits = for {
      f <- files
      src = new String(Files.readAllBytes(f), "UTF-8")
      m <- read.findAllMatchIn(src)
    } yield s"$f:${src.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    if (hits.nonEmpty) fail(hits.mkString("graft.* system property reads:\n", "\n", ""))
  }

  test("no hand-rolled touched-partition overwrite") {
    // the touched-partition rewrite (dynamic overwrite of the touched
    // partitions, then drop the ones it emptied) is written once, in the
    // partitioned-index store; CorpusBuild's two `__batch` writes are the
    // exactly-once batch contract, a different one, and stay
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = for {
      f <- files
      (line, i) <- new String(Files.readAllBytes(f), "UTF-8").linesIterator.zipWithIndex
      if line.contains("partitionOverwriteMode")
    } yield (root.relativize(f).toString, s"$f:${i + 1}: ${line.trim}")
    val batchWrites = hits.filter(_._1 == "graft/operators/CorpusBuild.scala")
    assert(batchWrites.size == 2,
      batchWrites.map(_._2).mkString("CorpusBuild's `__batch` writes, expected 2:\n", "\n", ""))
    val rolled = hits.filterNot(h => h._1 == "graft/sources/BucketedIndex.scala" ||
      h._1 == "graft/operators/CorpusBuild.scala")
    if (rolled.nonEmpty)
      fail(rolled.map(_._2).mkString(
        "partitionOverwriteMode outside BucketedIndex (use BucketedIndex.rewrite):\n", "\n", ""))
  }
}
