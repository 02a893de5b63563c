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
}
