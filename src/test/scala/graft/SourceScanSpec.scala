package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Scans of the shipped sources for patterns no runtime test can see. */
class SourceScanSpec extends AnyFunSuite {

  // every .scala file under `root`
  private def scalaFiles(root: java.nio.file.Path): List[java.nio.file.Path] = {
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no shipped code reads a graft.* system property") {
    // a decided A/B kept as a -Dgraft.* switch is a hidden second code
    // path that neither the suite nor the benchmark runs
    val root = Paths.get("src/main/scala")
    val files = scalaFiles(root)
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
    val files = scalaFiles(root)
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

  test("the replace suffixes live only in sources/IO.scala") {
    // a whole-snapshot rewrite writes beside the dir and swaps in through
    // IO.replace, and reads through IO.replacedPath: a `"_bak"` or
    // `"_tmp"` literal elsewhere is a hand-rolled copy of that rule
    val root = Paths.get("src/main/scala")
    val suffix = """"_(bak|tmp)"""".r
    val hits = for {
      f <- scalaFiles(root)
      if root.relativize(f).toString != "graft/sources/IO.scala"
      (line, i) <- new String(Files.readAllBytes(f), "UTF-8").linesIterator.zipWithIndex
      if suffix.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    if (hits.nonEmpty)
      fail(hits.mkString("replace suffixes outside IO (use IO.replace / replacedPath):\n", "\n", ""))
  }

  test("every main builds its session through LocalSession") {
    // one builder keeps every entry point's master, shuffle partitions,
    // split size, timezone and UI setting the same, and stamps the cores
    val root = Paths.get("src/main/scala")
    val files = scalaFiles(root)
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val hits = for {
      f <- files
      if f.getFileName.toString != "LocalSession.scala"
      src = new String(Files.readAllBytes(f), "UTF-8")
      m <- builder.findAllMatchIn(src)
    } yield s"$f:${src.take(m.start).count(_ == '\n') + 1}"
    if (hits.nonEmpty)
      fail(hits.mkString("SparkSession.builder() outside LocalSession:\n", "\n", ""))
  }

  test("README and COVERAGE name only tools that exist") {
    // a deleted tool left in the docs sends readers to a class that is
    // gone; its readings live in BASELINE.md with their commits
    val root = Paths.get("src/main/scala/graft")
    val names = """graft\.tools\.(\{[\w, ]+\}|\w+)|runMain graft\.(\w+(?:\.\w+)*)""".r
    val missing = for {
      doc <- List("README.md", "COVERAGE.md")
      m <- names.findAllMatchIn(new String(Files.readAllBytes(Paths.get(doc)), "UTF-8"))
      cls <- Option(m.group(1)) match {
        case Some(tools) => tools.stripPrefix("{").stripSuffix("}")
          .split(",").map(t => s"tools.${t.trim}").toList
        case None => List(m.group(2))
      }
      file = root.resolve(cls.replace('.', '/') + ".scala")
      if !Files.isRegularFile(file)
    } yield s"$doc: ${m.matched} (no $file)"
    if (missing.nonEmpty)
      fail(missing.distinct.mkString("docs name tools that do not exist:\n", "\n", ""))
  }

  test("raw read.parquet census under operators/ and sources/ is pinned") {
    // an engine-written artifact reads through IO.readArtifact's schema
    // cache: a raw read.parquet runs a footer-inference job on every
    // call, every micro-batch for a gate. What stays raw says why here;
    // functions/ (the BPE merge table, the vocabulary) keeps none.
    val expected = Map(
      "sources/IO.scala" -> 3,    // readParquet (the caller's own files) + readArtifact's miss and inference
      "sources/Tables.scala" -> 1 // the testdata input tables' own schema cache
    )
    val root = Paths.get("src/main/scala/graft")
    val raw = """\bread\s*\.\s*parquet\s*\(""".r
    val census = (for {
      f <- Seq("operators", "sources", "functions").flatMap(d => scalaFiles(root.resolve(d)))
      line <- new String(Files.readAllBytes(f), "UTF-8").linesIterator
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
      _ <- raw.findAllMatchIn(line)
    } yield root.relativize(f).toString).groupBy(identity).map { case (f, n) => f -> n.size }
    assert(census == expected,
      s"raw read.parquet census drifted: got $census, pinned $expected; route an " +
        "artifact read through IO.readArtifact, or pin the site here with its reason")
  }

  test("window_start census under streaming/ is pinned to the one windowed-aggregate core") {
    // every window relation groups, aggregates and leads with the
    // window's start through Jobs.windowAgg; a builder that spells the
    // shape by hand again shows up here
    val expected = Map("streaming/Jobs.scala" -> 1)
    val root = Paths.get("src/main/scala/graft")
    val start = java.util.regex.Pattern.quote("col(\"window.start\")").r
    val census = (for {
      f <- scalaFiles(root.resolve("streaming"))
      line <- new String(Files.readAllBytes(f), "UTF-8").linesIterator
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
      _ <- start.findAllMatchIn(line)
    } yield root.relativize(f).toString).groupBy(identity).map { case (f, n) => f -> n.size }
    assert(census == expected,
      s"window.start census drifted: got $census, pinned $expected; build " +
        "the window relation through Jobs.windowAgg")
  }

  test("size gates read their pin's observed count; Observation sites are pinned") {
    // a measured-size gate reads the count Checkpoints.pinCounted observes
    // on the job that pins the relation; a count() of its own costs the
    // gate two more jobs. Convergence loops run through
    // Checkpoints.fixpoint; what observes by hand says why here.
    val root = Paths.get("src/main/scala/graft")
    def code(f: java.nio.file.Path): List[(String, Int)] =
      new String(Files.readAllBytes(f), "UTF-8").linesIterator.zipWithIndex
        .filterNot { case (l, _) => l.trim.startsWith("*") || l.trim.startsWith("//") }
        .toList
    val gate = """\.count\(\)\s*(/\s*2\s*)?<=|frontier\.count\(\)\s*>""".r
    val gates = for {
      f <- scalaFiles(root.resolve("operators")) ++ scalaFiles(root.resolve("functions"))
      (line, i) <- code(f)
      if gate.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    if (gates.nonEmpty)
      fail(gates.mkString("size gates that run their own count (use Checkpoints.pinCounted):\n", "\n", ""))
    val expected = Map(
      "operators/Checkpoints.scala" -> 1, // pinCounted and fixpoint's one measured pin
      "operators/Dedup.scala" -> 2,       // connectedComponents' pointer-jumping loop and its log-rounds fallback
      "operators/Graph.scala" -> 1,       // ktruss's peeling loop keeps the superset filter, not a fixpoint state
      "operators/Analytics.scala" -> 1,   // observedFilter, the public stage-accounting verb
      "sources/BucketedIndex.scala" -> 1  // rewrite's written-partition set
    )
    val census = (for {
      f <- scalaFiles(root)
      (line, _) <- code(f)
      _ <- """\bObservation\(""".r.findAllMatchIn(line)
    } yield root.relativize(f).toString).groupBy(identity).map { case (f, n) => f -> n.size }
    assert(census == expected,
      s"Observation census drifted: got $census, pinned $expected; a convergence loop " +
        "runs through Checkpoints.fixpoint, or pin the site here with its reason")
  }

  test("one single-task runner: coalesce(1) then mapPartitions only in Graph.oneTask") {
    // the one-executor-task path below Graph.LocalFixpointMaxEdges is
    // written once; each fixpoint passes the runner only its algorithm
    val root = Paths.get("src/main/scala/graft")
    val twin = """coalesce\(1\)\s*\.\s*mapPartitions""".r
    val hits = for {
      f <- scalaFiles(root.resolve("operators"))
      code = new String(Files.readAllBytes(f), "UTF-8").linesIterator
        .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("//"))
        .mkString("\n")
      m <- twin.findAllMatchIn(code)
    } yield s"${root.relativize(f)}:${code.take(m.start).count(_ == '\n') + 1}"
    assert(hits.size == 1 && hits.head.startsWith("operators/Graph.scala:"),
      hits.mkString("coalesce(1).mapPartitions outside the one runner " +
        "(pass the algorithm to Graph.oneTask):\n", "\n", ""))
  }
}
