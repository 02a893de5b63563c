package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{IO, Tables}
import graft.operators.Multimodal

/** Source/sink round-trips (SURVEY.md §2.A ⊘ rows) and the multimodal
  * binary-column plumbing. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_test_").toString

  test("csv round-trip with declared schema preserves rows and types") {
    val dir = tmp() + "/csv"
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("id", "name", "v")
    IO.writeCsv(df, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val back = IO.readCsv(spark, dir, schema)
    assert(back.as[(Long, String, Double)].collect().sorted.toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", -2.25)))
  }

  test("orc round-trip preserves rows; predicate pushdown reaches the orc scan") {
    val dir = tmp() + "/orc"
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, "c", 9.0))
      .toDF("id", "name", "v")
    IO.writeOrc(df, dir)
    val back = IO.readOrc(spark, dir)
    assert(back.as[(Long, String, Double)].collect().sorted.toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, "c", 9.0)))
    // the columnar contract holds for ORC exactly as for parquet: the
    // filter must reach the scan as a pushed predicate
    val scans = IO.readOrc(spark, dir).filter(col("id") > 1L)
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(s => s.contains("GreaterThan(id,1)")),
      s"no pushed filter on the orc scan: $pushed")
  }

  test("json reader drops malformed rows in DROPMALFORMED mode") {
    val dir = tmp() + "/json"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(dir, "part.json"),
      """{"id":1,"name":"ok"}
        |this is not json
        |{"id":2,"name":"also ok"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val rows = IO.readJson(spark, dir, schema).as[(Long, String)]
      .collect().sorted.toSeq
    assert(rows == Seq((1L, "ok"), (2L, "also ok")))
  }

  test("PERMISSIVE json read quarantines malformed rows in _corrupt_record") {
    // the other half of the dirty-JSON guard: DROPMALFORMED silently
    // drops (tested below); PERMISSIVE keeps the broken payload for a
    // dead-letter queue instead of losing it
    val dir = tmp() + "/jsonq"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(dir, "part.json"),
      """{"id":1,"name":"ok"}
        |{broken not json
        |{"id":2,"name":"also ok"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType),
      StructField("_corrupt_record", StringType)))
    val rows = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .select("id", "_corrupt_record").as[(Option[Long], Option[String])]
      .collect().toSet
    assert(rows.contains((Some(1L), None)))
    assert(rows.contains((Some(2L), None)))
    assert(rows.exists { case (id, cr) =>
      id.isEmpty && cr.exists(_.contains("broken")) },
      s"corrupt row must be quarantined with its payload: $rows")
  }

  test("file stream source + exactly-once parquet sink (Kafka stand-in)") {
    val in = tmp() + "/in"; val out = tmp() + "/out"; val ck = tmp() + "/ck"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType)))
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.mode("append").parquet(in)
    val q = IO.parquetSink(
      IO.fileStream(spark, in, schema).withColumn("v2", col("v") * 2),
      out, ck).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).select("id", "v2").as[(Long, Double)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, 2.0), (2L, 4.0)))
    // restart with no new input: exactly-once → no duplicate rows
    val q2 = IO.parquetSink(
      IO.fileStream(spark, in, schema).withColumn("v2", col("v") * 2),
      out, ck).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("upsert sink merges micro-batches into a keyed snapshot (HBase dim-writer analog)") {
    val in = tmp() + "/cdc_in"; val snap = tmp() + "/snap"; val ck = tmp() + "/ck2"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("op", StringType),
      StructField("ts_ms", LongType)))
    Seq((1L, "a", "c", 10L), (2L, "b", "c", 20L))
      .toDF("id", "name", "op", "ts_ms").write.mode("append").parquet(in)
    IO.upsertSink(IO.fileStream(spark, in, schema), snap, ck, "id", schema)
      .start().awaitTermination()
    Seq((1L, "a2", "u", 30L), (2L, null.asInstanceOf[String], "d", 40L))
      .toDF("id", "name", "op", "ts_ms").write.mode("append").parquet(in)
    IO.upsertSink(IO.fileStream(spark, in, schema), snap, ck, "id", schema)
      .start().awaitTermination()
    // live view: the snapshot retains key 2's delete tombstone by design
    val got = graft.streaming.Cdc.liveView(spark.read.schema(schema).parquet(snap))
      .select("id", "name").as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a2")))
  }

  test("upsert sink recovers the snapshot from _bak after a simulated crash mid-swap") {
    val in = tmp() + "/cdc_in3"; val snapDir = tmp(); val ck = tmp() + "/ck3"
    val snap = snapDir + "/snap"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("op", StringType),
      StructField("ts_ms", LongType)))
    Seq((1L, "a", "c", 10L)).toDF("id", "name", "op", "ts_ms")
      .write.mode("append").parquet(in)
    IO.upsertSink(IO.fileStream(spark, in, schema), snap, ck, "id", schema)
      .start().awaitTermination()
    // simulate a crash between "rename dst -> bak" and "rename tmp -> dst":
    // the current snapshot exists only at _bak
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(snap),
      new org.apache.hadoop.fs.Path(snap + "_bak")))
    Seq((2L, "b", "c", 20L)).toDF("id", "name", "op", "ts_ms")
      .write.mode("append").parquet(in)
    IO.upsertSink(IO.fileStream(spark, in, schema), snap, ck, "id", schema)
      .start().awaitTermination()
    val got = graft.streaming.Cdc.liveView(spark.read.schema(schema).parquet(snap))
      .select("id", "name").as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b")),
      s"key 1 must survive via the _bak fallback: $got")
  }

  test("idempotentForeachBatch: a replayed batch id is a no-op") {
    val base = tmp()
    val outDir = s"$base/out"; val markerDir = s"$base/markers"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val write = IO.idempotentForeachBatch(markerDir) { (b, _) =>
      b.write.mode("append").parquet(outDir)
    }
    write(batch, 7L)
    assert(spark.read.parquet(outDir).count() == 2)
    // at-least-once delivery replays batch 7 → the marker skips the append
    write(batch, 7L)
    assert(spark.read.parquet(outDir).count() == 2, "replay must not double-write")
    // the next batch id still writes
    write(batch, 8L)
    assert(spark.read.parquet(outDir).count() == 4)
  }

  test("observedFilter: stage accounting rides the same pass, no re-execution") {
    import graft.operators.Analytics
    val (kept, obs) = Analytics.observedFilter(
      graft.sources.Tables.documents(spark, sfDir),
      col("lang") === "en", "quality_gate")
    val n = kept.count()  // the one and only action
    val m = obs.get
    assert(m("rows_kept") == n)
    assert(m("rows_in") ==
      graft.sources.Tables.documents(spark, sfDir).count())
    assert(m("rows_in").asInstanceOf[Long] > n, "fixture: some rows dropped")
  }

  test("schema evolution: mergeSchema unifies old and new file generations") {
    // generation 1 lacks the column generation 2 added — the normal life
    // of a long-lived corpus directory; mergeSchema presents the union
    // schema with nulls for the missing column in old files
    val dir = tmp() + "/evo"
    Seq((1L, "a")).toDF("id", "name").write.mode("append").parquet(dir)
    Seq((2L, "b", 0.9)).toDF("id", "name", "quality").write.mode("append").parquet(dir)
    val unified = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(unified.schema.fieldNames.toSet == Set("id", "name", "quality"))
    val rows = unified.select("id", "quality").as[(Long, Option[Double])]
      .collect().toMap
    assert(rows == Map(1L -> None, 2L -> Some(0.9)), s"got $rows")
  }

  test("versionedUpsertSink: immutable versions, time travel, retention GC") {
    val in = tmp() + "/vin"; val base = tmp() + "/vsnap"; val ckBase = tmp()
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("op", StringType),
      StructField("ts_ms", LongType)))
    def runBatch(rows: Seq[(Long, String, String, Long)], ck: String): Unit = {
      rows.toDF("id", "name", "op", "ts_ms").write.mode("append").parquet(in)
      IO.versionedUpsertSink(IO.fileStream(spark, in, schema), base, ck,
        "id", schema, retain = 2).start().awaitTermination()
    }
    runBatch(Seq((1L, "a", "c", 10L)), s"$ckBase/ck1")
    runBatch(Seq((2L, "b", "c", 20L)), s"$ckBase/ck1")
    runBatch(Seq((1L, "a2", "u", 30L)), s"$ckBase/ck1")
    // retention 2: v1 GC'd, v2 and v3 both readable
    assert(IO.snapshotVersions(spark, base) == Seq(2L, 3L))
    def live(v: Long): Set[(Long, String)] =
      graft.streaming.Cdc.liveView(IO.readSnapshotVersion(spark, base, v, schema))
        .select("id", "name").as[(Long, String)].collect().toSet
    // time travel: v2 is the world BEFORE batch 3's update — immutable
    assert(live(2L) == Set((1L, "a"), (2L, "b")))
    assert(live(3L) == Set((1L, "a2"), (2L, "b")))
  }

  test("kafka call sites: options reach the provider; absent connector fails cleanly") {
    import FakeKafkaProvider.opt
    // source path: the format seam resolves the provider, which records
    // the exact options the Kafka connector would receive
    val df = IO.kafkaStream(spark, "broker1:9092,broker2:9092",
      "topic_log,topic_db", startingOffsets = "earliest",
      maxOffsetsPerTrigger = Some(50000L),
      format = classOf[FakeKafkaProvider].getName)
    assert(df.isStreaming)
    assert(df.schema == FakeKafkaProvider.kafkaSchema)
    val sp = FakeKafkaProvider.sourceParams
    assert(opt(sp, "kafka.bootstrap.servers").contains("broker1:9092,broker2:9092"))
    assert(opt(sp, "subscribe").contains("topic_log,topic_db"))
    assert(opt(sp, "startingOffsets").contains("earliest"))
    assert(opt(sp, "maxOffsetsPerTrigger").contains("50000"))

    // sink path: drive one micro-batch through the stand-in sink
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    ms.addData("""{"id":1}""")
    IO.kafkaSink(ms.toDF().select(col("value").cast("binary").as("value")),
      "broker9:9092", "dwd_page_log", tmp() + "/kafka_ck",
      format = classOf[FakeKafkaProvider].getName).start().awaitTermination()
    val kp = FakeKafkaProvider.sinkParams
    assert(opt(kp, "topic").contains("dwd_page_log"))
    assert(opt(kp, "kafka.bootstrap.servers").contains("broker9:9092"))

    // the default format("kafka") call site compiles and fails with the
    // documented missing-connector error on this jar-less image
    val e = intercept[Exception] { IO.kafkaStream(spark, "b:9092", "t") }
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("bucketedUpsertSink: a 1-key batch rewrites exactly one bucket") {
    val in = tmp() + "/cdc_in4"; val snap = tmp() + "/bsnap"; val ck = tmp() + "/ck4"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("op", StringType),
      StructField("ts_ms", LongType)))
    val nBuckets = 8
    // batch 1: seed keys spread across several buckets
    val seedKeys = (1L to 32L)
    seedKeys.map(i => (i, s"v$i", "c", 10L))
      .toDF("id", "name", "op", "ts_ms").write.mode("append").parquet(in)
    IO.bucketedUpsertSink(IO.fileStream(spark, in, schema), snap, ck, "id",
      schema, nBuckets).start().awaitTermination()
    val bucketDirs = new java.io.File(snap).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
    assert(bucketDirs.length == nBuckets,
      s"32 seed keys must populate all $nBuckets buckets: ${bucketDirs.length}")
    def listing(): Map[String, Set[(String, Long)]] =
      new java.io.File(snap).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.startsWith("part-"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    val before = listing()
    // batch 2: a single key -> exactly one bucket may change
    val targetBucket = Seq(Tuple1(7L)).toDF("id")
      .select(pmod(hash(col("id")), lit(nBuckets))).head().getInt(0)
    Seq((7L, "v7_new", "u", 20L))
      .toDF("id", "name", "op", "ts_ms").write.mode("append").parquet(in)
    IO.bucketedUpsertSink(IO.fileStream(spark, in, schema), snap, ck, "id",
      schema, nBuckets).start().awaitTermination()
    val after = listing()
    val changed = (before.keySet ++ after.keySet)
      .filter(b => before.get(b) != after.get(b))
    assert(changed == Set(s"__bucket=$targetBucket"),
      s"only key 7's bucket may be rewritten, but changed = $changed")
    // and the merge itself is correct: key 7 updated, the other 31 intact
    val live = graft.streaming.Cdc.liveView(
      IO.readBucketedSnapshot(spark, snap, schema))
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(live.size == 32 && live(7L) == "v7_new" && live(8L) == "v8")
  }

  test("bucketedUpsertSink: a snapshot emptied by tombstone compaction reads as no rows and seeds again") {
    val in = tmp() + "/cdc_in5"; val snap = tmp() + "/bsnap_empty"; val ck = tmp() + "/ck5"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("op", StringType),
      StructField("ts_ms", LongType)))
    def batch(rows: Seq[(Long, String, String, Long)]): Unit = {
      rows.toDF("id", "name", "op", "ts_ms").write.mode("append").parquet(in)
      IO.bucketedUpsertSink(IO.fileStream(spark, in, schema), snap, ck, "id",
        schema, 8, compactHorizonMs = Some(0L)).start().awaitTermination()
    }
    batch((1L to 32L).map(i => (i, s"v$i", "c", 10L)))
    assert(IO.readBucketedSnapshot(spark, snap, schema).count() == 32L)
    // delete every key: the tombstones are past the 0 ms horizon, so the
    // compaction empties every bucket
    batch((1L to 32L).map(i => (i, s"v$i", "d", 20L)))
    assert(!new java.io.File(snap).exists,
      "an emptied snapshot must revert to the missing dir")
    assert(IO.readBucketedSnapshot(spark, snap, schema).count() == 0L)
    batch(Seq((40L, "v40", "c", 30L)))
    val live = graft.streaming.Cdc.liveView(
      IO.readBucketedSnapshot(spark, snap, schema))
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(live == Map(40L -> "v40"))
  }

  test("multimodal: payload-aware repartitioning bounds partition byte size") {
    val rows = (0L until 100L).map(i =>
      Row(i, "image", Multimodal.FakeCodec.encode(8, 8, 1, Array.fill[Byte](1024)(1)),
        null, null, null, null))
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)
    // 100 rows × 1KB = 100KB total: fits one 1MB-target partition
    val parts = Multimodal.repartitionByPayload(media, avgPayloadBytes = 1024,
      targetMb = 1).rdd.getNumPartitions
    assert(parts == 1)
    val manyParts = Multimodal.repartitionByPayload(media, avgPayloadBytes = 512 * 1024,
      targetMb = 1).rdd.getNumPartitions
    assert(manyParts == 50, s"expected 50 partitions of 2 rows, got $manyParts")
  }

  test("multimodal: resizeImages rewrites header+metadata, shrinks body, passes non-images through") {
    val bigBody = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val rows = Seq(
      Row(1L, "image", Multimodal.FakeCodec.encode(64, 64, 1, bigBody),
        64: Integer, 64: Integer, null, null),
      Row(2L, "audio", Multimodal.FakeCodec.encode(0, 0, 0, Array[Byte](7)),
        null, null, 44100: Integer, null),
      Row(3L, "image", Array[Byte](0, 1), null, null, null, null)) // undecodable
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)
    val out = Multimodal.resizeImages(media, 16, 16).collect()
      .map(r => r.getLong(0) -> r).toMap
    // image: header + metadata carry the target dims, body stride-sampled
    val img = out(1L)
    val dec = Multimodal.FakeCodec.decode(img.getAs[Array[Byte]]("content"))
    assert(dec.contains((16, 16, 1)), s"resized header: $dec")
    assert(img.getAs[Integer]("width") == 16 && img.getAs[Integer]("height") == 16)
    val newBody = img.getAs[Array[Byte]]("content").length - 16
    assert(newBody > 0 && newBody < bigBody.length, s"body must shrink: $newBody")
    // non-image and undecodable rows pass through byte-for-byte
    assert(out(2L).getAs[Array[Byte]]("content").toSeq ==
      Multimodal.FakeCodec.encode(0, 0, 0, Array[Byte](7)).toSeq)
    assert(out(3L).getAs[Array[Byte]]("content").toSeq == Seq[Byte](0, 1))
  }

  test("multimodal: REAL BMP decode + pixel-correct nearest-neighbor downscale (javax.imageio)") {
    // golden 4x4 BMP: four 2x2 solid-color quadrants
    val red = 0xFF0000; val green = 0x00FF00; val blue = 0x0000FF; val white = 0xFFFFFF
    val src = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) {
      val c = (x / 2, y / 2) match {
        case (0, 0) => red
        case (1, 0) => green
        case (0, 1) => blue
        case _ => white
      }
      src.setRGB(x, y, c)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "bmp", baos)
    val bmpBytes = baos.toByteArray
    assert(Multimodal.JvmImageCodec.isBmp(bmpBytes))

    val rows = Seq(
      Row(1L, "image", bmpBytes, null, null, null, null),
      Row(2L, "audio", bmpBytes, null, null, 44100: Integer, null)) // kind guard
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)

    // decodeMeta reads the REAL dimensions out of the BMP payload
    val meta = Multimodal.decodeMeta(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getAs[Integer]("width") == 4 &&
      meta(1L).getAs[Integer]("height") == 4)

    // 4x4 -> 2x2 nearest-neighbor picks source pixels (0,0) (2,0) (0,2)
    // (2,2) — exactly one per quadrant: pixel-correct downscale
    val out = Multimodal.resizeImages(media, 2, 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    val resized = out(1L).getAs[Array[Byte]]("content")
    assert(Multimodal.JvmImageCodec.isBmp(resized), "resized payload is a real BMP")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(img.getWidth == 2 && img.getHeight == 2)
    def rgb(x: Int, y: Int) = img.getRGB(x, y) & 0xFFFFFF
    assert(rgb(0, 0) == red && rgb(1, 0) == green &&
      rgb(0, 1) == blue && rgb(1, 1) == white,
      s"pixels: ${(rgb(0,0), rgb(1,0), rgb(0,1), rgb(1,1))}")
    assert(out(1L).getAs[Integer]("width") == 2 &&
      out(1L).getAs[Integer]("height") == 2)
    // the pass-through guard holds for a non-image row with BMP bytes
    assert(out(2L).getAs[Array[Byte]]("content").toSeq == bmpBytes.toSeq)
  }

  test("multimodal: REAL PNG decode + pixel-exact downscale, re-encoded as PNG") {
    val red = 0xFF0000; val green = 0x00FF00; val blue = 0x0000FF; val white = 0xFFFFFF
    val src = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) {
      val c = (x / 2, y / 2) match {
        case (0, 0) => red
        case (1, 0) => green
        case (0, 1) => blue
        case _ => white
      }
      src.setRGB(x, y, c)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", baos)
    val pngBytes = baos.toByteArray
    assert(Multimodal.JvmImageCodec.detectFormat(pngBytes).contains("png"))

    val rows = Seq(Row(1L, "image", pngBytes, null, null, null, null))
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)
    val meta = Multimodal.decodeMeta(media).collect().head
    assert(meta.getAs[Integer]("width") == 4 && meta.getAs[Integer]("height") == 4)

    val resized = Multimodal.resizeImages(media, 2, 2).collect()
      .head.getAs[Array[Byte]]("content")
    // resized payload stays in its ORIGINAL container
    assert(Multimodal.JvmImageCodec.detectFormat(resized).contains("png"))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(img.getWidth == 2 && img.getHeight == 2)
    def rgb(x: Int, y: Int) = img.getRGB(x, y) & 0xFFFFFF
    // PNG is lossless: nearest-neighbor picks one source pixel per
    // quadrant — exact pixel assertions
    assert(rgb(0, 0) == red && rgb(1, 0) == green &&
      rgb(0, 1) == blue && rgb(1, 1) == white,
      s"pixels: ${(rgb(0, 0), rgb(1, 0), rgb(0, 1), rgb(1, 1))}")
  }

  test("multimodal: REAL JPEG decode + downscale within quantizer tolerance") {
    // 64x64 solid quadrants: JPEG's 8x8 DCT blocks are interior-exact on
    // solid regions; the 2x2 nearest-neighbor picks pixels (0,0) (32,0)
    // (0,32) (32,32) — each deep inside a solid quadrant
    val red = 0xFF0000; val green = 0x00FF00; val blue = 0x0000FF; val white = 0xFFFFFF
    val src = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) {
      val c = (x / 32, y / 32) match {
        case (0, 0) => red
        case (1, 0) => green
        case (0, 1) => blue
        case _ => white
      }
      src.setRGB(x, y, c)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "jpg", baos)
    val jpgBytes = baos.toByteArray
    assert(Multimodal.JvmImageCodec.detectFormat(jpgBytes).contains("jpg"))

    val rows = Seq(Row(1L, "image", jpgBytes, null, null, null, null))
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)
    val meta = Multimodal.decodeMeta(media).collect().head
    assert(meta.getAs[Integer]("width") == 64 && meta.getAs[Integer]("height") == 64)

    // 16x16 target: each 8x8 quadrant spans whole luma AND (4:2:0
    // subsampled) chroma blocks — a 2x2 target would share ONE chroma
    // sample across all four pixels and wash the hues out entirely
    val resized = Multimodal.resizeImages(media, 16, 16).collect()
      .head.getAs[Array[Byte]]("content")
    assert(Multimodal.JvmImageCodec.detectFormat(resized).contains("jpg"))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(img.getWidth == 16 && img.getHeight == 16)
    def channels(v: Int): Seq[Int] = Seq((v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)
    def close(got: Int, want: Int, tol: Int): Boolean =
      channels(got).zip(channels(want)).forall { case (g, w) => math.abs(g - w) <= tol }
    // two lossy quantization passes (encode 64x64, re-encode 16x16):
    // per-channel tolerance at quadrant-interior pixels, hues apart
    val tol = 48
    assert(close(img.getRGB(2, 2) & 0xFFFFFF, red, tol), "q1 red")
    assert(close(img.getRGB(13, 2) & 0xFFFFFF, green, tol), "q2 green")
    assert(close(img.getRGB(2, 13) & 0xFFFFFF, blue, tol), "q3 blue")
    assert(close(img.getRGB(13, 13) & 0xFFFFFF, white, tol), "q4 white")
  }

  test("multimodal: REAL WAV decode + acoustic features (javax.sound, sine golden)") {
    // synthesize a 1 kHz sine, 0.1 s @ 8 kHz, 16-bit mono PCM — the
    // closed-form golden: RMS = A/sqrt(2), ZCR = 2 crossings per cycle
    val rate = 8000; val n = 800; val freq = 1000.0; val amp = 0.5
    val pcm = new Array[Byte](n * 2)
    val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until n)
      bb.putShort((amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toShort)
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    assert(Multimodal.JvmAudioCodec.isWav(wav))
    assert(Multimodal.JvmAudioCodec.decodeMeta(wav)
      .contains((rate, 1, 16, n.toLong)))

    val rows = Seq(
      Row(1L, "audio", wav, null, null, rate: Integer, null),
      Row(2L, "audio", Array[Byte](1, 2, 3), null, null, null, null)) // malformed
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)

    // decodeMeta: real frame count, no spatial dims for audio
    val meta = Multimodal.decodeMeta(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getAs[Integer]("n_frames") == n)
    assert(meta(1L).getAs[Integer]("width") == null &&
      meta(1L).getAs[Integer]("height") == null)

    val feats = Multimodal.extractAudioFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val f1 = feats(1L)
    assert(math.abs(f1.getAs[Double]("duration_s") - 0.1) < 1e-9)
    // sine RMS = A/sqrt(2) (quantization + windowing keep it within 1%)
    assert(math.abs(f1.getAs[Double]("rms") - amp / math.sqrt(2)) < 0.01 * amp,
      s"rms ${f1.getAs[Double]("rms")}")
    // 1 kHz over 0.1 s = 100 cycles = ~200 crossings over 800 samples
    assert(math.abs(f1.getAs[Double]("zcr") - 0.25) < 0.01,
      s"zcr ${f1.getAs[Double]("zcr")}")
    assert(math.abs(f1.getAs[Double]("peak") - amp) < 0.01)
    // dirty-data guard: malformed payload keeps its row, null features
    assert(feats(2L).isNullAt(feats(2L).fieldIndex("rms")))
  }

  test("multimodal: 32-bit FLOAT WAV decode (format code 3, hand-rolled header)") {
    // IEEE-float WAVs come out of DAWs and scientific tooling; the
    // fixture is hand-rolled (RIFF + fmt(code 3) + fact + data) so the
    // parser is exercised on the wire format, not on what
    // AudioSystem.write happens to emit
    val rate = 8000; val n = 800; val freq = 1000.0; val amp = 0.5
    def floatWav(samples: Array[Float], channels: Int): Array[Byte] = {
      val dataLen = samples.length * 4
      val bb = java.nio.ByteBuffer.allocate(58 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(50 + dataLen); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(3) // WAVE_FORMAT_IEEE_FLOAT
      bb.putShort(channels.toShort); bb.putInt(rate)
      bb.putInt(rate * channels * 4); bb.putShort((channels * 4).toShort)
      bb.putShort(32)
      bb.put("fact".getBytes); bb.putInt(4)
      bb.putInt(samples.length / channels)
      bb.put("data".getBytes); bb.putInt(dataLen)
      samples.foreach(bb.putFloat)
      bb.array()
    }
    val mono = Array.tabulate(n)(i =>
      (amp * math.sin(2 * math.Pi * freq * i / rate)).toFloat)
    val wav = floatWav(mono, 1)
    assert(Multimodal.JvmAudioCodec.isWav(wav))
    assert(Multimodal.JvmAudioCodec.decodeMeta(wav).contains((rate, 1, 32, n.toLong)))
    val s = Multimodal.JvmAudioCodec.samples(wav).get
    assert(s.length == n)
    // float path is bit-exact (no quantization): sample-level equality
    for (i <- 0 until n) assert(math.abs(s(i) - mono(i)) < 1e-9)
    val rms = math.sqrt(s.map(v => v * v).sum / n)
    assert(math.abs(rms - amp / math.sqrt(2)) < 0.002 * amp, s"rms $rms")

    // 64-bit (double) float PCM: same header with bits=32 -> 64 and
    // 8-byte samples; decode must be bit-exact too
    def doubleWav(samples: Array[Double]): Array[Byte] = {
      val dataLen = samples.length * 8
      val bb = java.nio.ByteBuffer.allocate(58 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(50 + dataLen); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(3); bb.putShort(1); bb.putInt(rate)
      bb.putInt(rate * 8); bb.putShort(8); bb.putShort(64)
      bb.put("fact".getBytes); bb.putInt(4); bb.putInt(samples.length)
      bb.put("data".getBytes); bb.putInt(dataLen)
      samples.foreach(bb.putDouble)
      bb.array()
    }
    val mono64 = Array.tabulate(n)(i =>
      amp * math.sin(2 * math.Pi * freq * i / rate))
    val wav64 = doubleWav(mono64)
    assert(Multimodal.JvmAudioCodec.decodeMeta(wav64)
      .contains((rate, 1, 64, n.toLong)))
    val s64 = Multimodal.JvmAudioCodec.samples(wav64).get
    assert(s64.length == n)
    for (i <- 0 until n) assert(s64(i) == mono64(i),
      s"double PCM must decode bit-exactly at $i")
  }

  test("multimodal: multi-channel downmix law (identical == mono; antiphase cancels)") {
    val rate = 8000; val n = 400; val freq = 500.0; val amp = 0.4
    def pcm16Wav(interleaved: Array[Short], channels: Int): Array[Byte] = {
      val pcm = new Array[Byte](interleaved.length * 2)
      val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      interleaved.foreach(bb.putShort)
      val fmt = new javax.sound.sampled.AudioFormat(
        rate.toFloat, 16, channels, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt,
        (interleaved.length / channels).toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    val sine = Array.tabulate(n)(i =>
      (amp * math.sin(2 * math.Pi * freq * i / rate) * 32767).toShort)
    // L == R: the channel-mean downmix must equal the mono decode
    val dup = Array.tabulate(2 * n)(i => sine(i / 2))
    val sDup = Multimodal.JvmAudioCodec.samples(pcm16Wav(dup, 2)).get
    val sMono = Multimodal.JvmAudioCodec.samples(pcm16Wav(sine, 1)).get
    assert(sDup.length == n && sMono.length == n)
    for (i <- 0 until n) assert(math.abs(sDup(i) - sMono(i)) < 1e-12,
      s"identical-channel downmix must be the mono signal at $i")
    // L == −R: antiphase channels cancel to (near-)silence — the mean
    // downmix convention, pinned (half-sum, not sum)
    val anti = Array.tabulate(2 * n)(i =>
      if (i % 2 == 0) sine(i / 2) else (-sine(i / 2)).toShort)
    val sAnti = Multimodal.JvmAudioCodec.samples(pcm16Wav(anti, 2)).get
    val rmsAnti = math.sqrt(sAnti.map(v => v * v).sum / n)
    // ±1 LSB asymmetry of two's complement bounds the residue
    assert(rmsAnti < 1.0 / 32767, s"antiphase residue rms $rmsAnti")
    // stereo meta reports 2 channels and the true frame count
    assert(Multimodal.JvmAudioCodec.decodeMeta(pcm16Wav(anti, 2))
      .contains((rate, 2, 16, n.toLong)))
  }

  // hand-rolled ISO-BMFF box (the fixtures are built, not checked in —
  // same convention as the BMP/WAV goldens above)
  private def mp4Box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    val bb = java.nio.ByteBuffer.allocate(8 + body.length)
    bb.putInt(8 + body.length).put(tpe.getBytes("ISO-8859-1")).put(body)
    bb.array()
  }

  test("multimodal: REAL MP4 metadata via pure-JDK box walk (duration, dims, frame count)") {
    def u32(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
    val ftyp = mp4Box("ftyp", "isom".getBytes, u32(512), "isomiso2".getBytes)
    // mvhd v0: version/flags, creation, modification, timescale=600,
    // duration=3000 (5 s), then rate/volume/reserved/matrix/next-track
    val mvhd = mp4Box("mvhd", Array[Byte](0, 0, 0, 0), u32(0), u32(0),
      u32(600), u32(3000), new Array[Byte](80))
    def tkhd(w: Int, h: Int): Array[Byte] =
      // v0: 76 bytes of version/flags..matrix, then 16.16 width/height
      mp4Box("tkhd", new Array[Byte](76), u32(w.toLong << 16), u32(h.toLong << 16))
    def stts(entries: (Int, Int)*): Array[Byte] =
      mp4Box("stts", Array[Byte](0, 0, 0, 0), u32(entries.length),
        entries.toArray.flatMap { case (c, d) => u32(c) ++ u32(d) })
    def trak(w: Int, h: Int, sttsBox: Array[Byte]): Array[Byte] =
      mp4Box("trak", tkhd(w, h),
        mp4Box("mdia", mp4Box("minf", mp4Box("stbl", sttsBox))))
    // audio track FIRST (zero dims, its own 999-sample stts) — the
    // video-track pick must skip it and count the VIDEO stts
    val moov = mp4Box("moov", mvhd,
      trak(0, 0, stts((999, 1))),
      trak(640, 360, stts((100, 1), (20, 2))))
    val mdat = mp4Box("mdat", Array[Byte](1, 2, 3))
    val mp4 = ftyp ++ moov ++ mdat

    assert(Multimodal.ContainerMeta.isMp4(mp4))
    assert(!Multimodal.ContainerMeta.isMp4(Array[Byte](0, 1, 2, 3)))
    val m = Multimodal.ContainerMeta.mp4Meta(mp4).get
    assert(m.durationS == 5.0, s"duration ${m.durationS}")
    assert(m.width == 640 && m.height == 360, s"dims ${m.width}x${m.height}")
    assert(m.nFrames == 120, s"frames ${m.nFrames} (must be the video stts)")

    // v1 layouts: 64-bit mvhd times, tkhd dims at offset 88
    val mvhdV1 = mp4Box("mvhd", Array[Byte](1, 0, 0, 0),
      new Array[Byte](16), u32(1000),
      java.nio.ByteBuffer.allocate(8).putLong(2500L).array(),
      new Array[Byte](80))
    val tkhdV1 = mp4Box("tkhd", Array[Byte](1, 0, 0, 0) ++ new Array[Byte](84),
      u32(1920L << 16), u32(1080L << 16))
    val moovV1 = mp4Box("moov", mvhdV1, mp4Box("trak", tkhdV1,
      mp4Box("mdia", mp4Box("minf", mp4Box("stbl", stts((30, 1)))))))
    val m1 = Multimodal.ContainerMeta.mp4Meta(ftyp ++ moovV1).get
    assert(m1.durationS == 2.5 && m1.width == 1920 && m1.height == 1080 &&
      m1.nFrames == 30, s"v1 layout: $m1")

    // dirty-data guards: no moov / truncated moov -> None, not a throw
    assert(Multimodal.ContainerMeta.mp4Meta(ftyp ++ mdat).isEmpty)
    assert(Multimodal.ContainerMeta.mp4Meta(mp4.take(40)).isEmpty)

    // decodeMeta integration: MP4 rows fill width/height/n_frames for
    // real, ahead of the FakeCodec fallthrough
    val rows = Seq(Row(1L, "video", mp4, null, null, null, null))
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)
    val dec = Multimodal.decodeMeta(media)
      .select("width", "height", "n_frames").collect().head
    assert((dec.getInt(0), dec.getInt(1), dec.getInt(2)) == ((640, 360, 120)))
  }

  test("multimodal: REAL MP3 metadata via frame-header walk (ID3 skip, VBR-exact duration, honest refusals)") {
    // MPEG1 Layer III headers, 44100 Hz: frame bytes = 144*kbps*1000/sr
    val v1L3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
      160, 192, 224, 256, 320)
    def frame(kbps: Int, padding: Int = 0): Array[Byte] = {
      val len = 144 * kbps * 1000 / 44100 + padding
      val a = new Array[Byte](len)
      a(0) = 0xFF.toByte; a(1) = 0xFB.toByte // sync + MPEG1 + L3 + no CRC
      a(2) = ((v1L3Bitrates.indexOf(kbps) << 4) | (0 << 2) | (padding << 1)).toByte
      a
    }
    def id3(tagBytes: Int): Array[Byte] = {
      val a = new Array[Byte](10 + tagBytes)
      a(0) = 'I'; a(1) = 'D'; a(2) = '3'; a(3) = 3
      a(6) = ((tagBytes >> 21) & 0x7F).toByte
      a(7) = ((tagBytes >> 14) & 0x7F).toByte
      a(8) = ((tagBytes >> 7) & 0x7F).toByte
      a(9) = (tagBytes & 0x7F).toByte
      a
    }
    val cbr = id3(200) ++ Array.fill(10)(frame(128)).flatten
    assert(Multimodal.ContainerMeta.isMp3(cbr))
    val m = Multimodal.ContainerMeta.mp3Meta(cbr).get
    assert(m.sampleRate == 44100 && m.nFrames == 10 && m.bitrateKbps == 128)
    // exact walked duration: 10 frames x 1152 samples @ 44100
    assert(m.durationS == BigDecimal(10.0 * 1152 / 44100)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$m")

    // VBR: duration stays sample-exact (a byte-length/bitrate estimate
    // would be wrong here — that's the point of walking)
    val vbr = frame(128) ++ frame(64, padding = 1) ++ frame(320) ++ frame(64)
    val mv = Multimodal.ContainerMeta.mp3Meta(vbr).get
    assert(mv.nFrames == 4 && mv.bitrateKbps == (128 + 64 + 320 + 64) / 4)
    assert(mv.durationS == BigDecimal(4.0 * 1152 / 44100)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

    // honest refusals: torn final frame, mid-stream garbage, ID3-only
    assert(Multimodal.ContainerMeta.mp3Meta(cbr.dropRight(10)).isEmpty,
      "torn tail must refuse, not guess")
    val garbage = frame(128) ++ Array.fill[Byte](417)(0x55) ++ frame(128)
    assert(Multimodal.ContainerMeta.mp3Meta(garbage).isEmpty,
      "lost sync must refuse")
    assert(Multimodal.ContainerMeta.mp3Meta(id3(64)).isEmpty,
      "tag without frames must refuse")

    // extractContainerMeta: one surface over all four real parsers
    val png = {
      val img = new java.awt.image.BufferedImage(3, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos); baos.toByteArray
    }
    val rows = Seq(
      Row(1L, "audio", cbr, null, null, null, null),
      Row(2L, "image", png, null, null, null, null),
      Row(3L, "image", Array[Byte](9, 9), null, null, null, null))
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)
    val metaByIdRaw = Multimodal.extractContainerMeta(media).collect()
    val metaById = metaByIdRaw.map(r => r.getLong(0) -> r).toMap
    assert(metaById(1L).getString(1) == "mp3" &&
      metaById(1L).getInt(5) == 44100 && metaById(1L).getInt(6) == 10)
    assert(metaById(2L).getString(1) == "png" &&
      metaById(2L).getInt(3) == 3 && metaById(2L).getInt(4) == 2)
    assert(metaById(3L).getString(1) == "unknown" && metaById(3L).isNullAt(2),
      "malformed payload keeps its row with null metrics")
  }

  test("multimodal: decode stub fills typed metadata; malformed bytes -> nulls") {
    val rows = Seq(
      Row(1L, "image", Multimodal.FakeCodec.encode(640, 480, 1, Array[Byte](1, 2, 3)),
        null, null, null, null),
      Row(2L, "video", Multimodal.FakeCodec.encode(1280, 720, 90, Array[Byte](9)),
        null, null, null, null),
      Row(3L, "image", Array[Byte](0, 1), null, null, null, null))
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)
    val decoded = Multimodal.decodeMeta(media)
      .select("media_id", "width", "height", "n_frames")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(decoded(1L) == (Some(640), Some(480), Some(1)))
    assert(decoded(2L) == (Some(1280), Some(720), Some(90)))
    assert(decoded(3L) == (None, None, None))
  }

  test("multimodal: feature extraction yields fixed-dim vectors; frame sampling explodes rows") {
    val rows = Seq(
      Row(1L, "video", Multimodal.FakeCodec.encode(64, 64, 10, Array.fill[Byte](32)(5)),
        null, null, null, null))
    val media = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      Multimodal.mediaSchema)
    val feats = Multimodal.extractFeatures(media, dim = 8)
      .select("feature").as[Seq[Float]].head()
    assert(feats.length == 8 && feats.exists(_ > 0))
    val frames = Multimodal.sampleFrames(Multimodal.decodeMeta(media), stride = 3)
      .select("frame_idx").as[Int].collect().sorted.toSeq
    assert(frames == Seq(0, 3, 6, 9))
    // dirty row with n_frames=0 must be dropped, not crash the job
    val zero = Seq(Row(9L, "video", Multimodal.FakeCodec.encode(8, 8, 0, Array[Byte]()),
      null, null, null, null))
    val zeroDf = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(zero).asJava),
      Multimodal.mediaSchema)
    assert(Multimodal.sampleFrames(Multimodal.decodeMeta(zeroDf), stride = 3).count() == 0)
  }

  test("compactParquet: small files merge, data survives byte-for-byte, dir swap is clean") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact_").toString + "/t"
    val df = (1L to 1000L).map(i => (i, s"row_$i")).toDF("id", "s")
    df.repartition(16).write.parquet(dir)
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles() == 16, "fixture: 16 small files")

    val n = graft.sources.IO.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    assert(n == 1 && parquetFiles() == 1, s"compacted to $n file(s)")
    val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(back == (1L to 1000L).map(i => (i, s"row_$i")).toSet,
      "compaction must not lose or alter rows")
    // no leftover staging/backup dirs
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName).toSet
    assert(!parent.exists(p => p.endsWith("_tmp") || p.endsWith("_bak")),
      s"staging dirs must be cleaned: $parent")

    // idempotent re-run on an already-compact dir
    assert(graft.sources.IO.compactParquet(spark, dir, 1L << 30) == 1)
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("partitionBy write: partition pruning reads only the selected directory") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    val dir = tmp() + "/docs"
    graft.sources.Tables.documents(spark, sfDir)
      .write.partitionBy("lang").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("lang") === "en").select("doc_id")
    // collect through THIS df's queryExecution so its scan metrics populate
    val n = q.collect().length.toLong
    val enRows = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("lang") === "en").count()
    assert(n == enRows)
    val scans = q.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a FileSourceScanExec")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty, "lang filter must become a partition filter")
    // files actually read == files under lang=en only, not the whole table
    def filesUnder(p: String): Int = {
      val f = new java.io.File(p)
      if (!f.isDirectory) 0
      else f.listFiles().map(c =>
        if (c.isDirectory) filesUnder(c.getPath)
        else if (c.getName.endsWith(".parquet")) 1 else 0).sum
    }
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles == filesUnder(s"$dir/lang=en").toLong,
      s"scan read $readFiles files; lang=en holds ${filesUnder(s"$dir/lang=en")} of ${filesUnder(dir)} total")
    assert(filesUnder(dir) > filesUnder(s"$dir/lang=en"), "fixture: other partitions exist")
  }

  test("fileStream with Trigger.AvailableNow: backfill processes everything then stops") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = tmp()
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckDir = s"$base/ck"
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    import spark.implicits._
    (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .repartition(4).write.parquet(inDir)
    val q = graft.sources.IO.fileStream(spark, inDir, schema)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    // AvailableNow drains all currently-visible input then terminates on
    // its own — the batch-backfill-through-the-streaming-pipeline mode
    assert(q.awaitTermination(120000), "query must self-terminate")
    val back = spark.read.parquet(outDir).as[(Long, String)].collect().toSet
    assert(back == (1L to 100L).map(i => (i, s"r$i")).toSet)
  }

  test("parquet aggregate pushdown: MIN/MAX/COUNT answered from footers (v2 scan)") {
    import org.apache.spark.sql.functions.{count, max, min}
    // with the v2 parquet source, MIN/MAX/COUNT over unfiltered scans
    // compile to footer-statistics reads — at 100 TB the difference
    // between touching every page and touching file metadata only
    val dir = tmp() + "/aggpd"
    graft.sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice").write.parquet(dir)
    val savedV1 = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = spark.read.parquet(dir)
        .agg(min("o_orderkey"), max("o_orderkey"), count("*"))
      val planStr = agg.queryExecution.executedPlan.toString
      assert(planStr.contains("PushedAggregation: [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]"),
        s"aggregates not pushed to the scan:\n$planStr")
      val row = agg.collect().head
      val want = graft.sources.Tables.orders(spark, sfDir)
        .agg(min("o_orderkey"), max("o_orderkey"), count("*")).collect().head
      assert(row == want)
    } finally {
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      savedV1 match {
        case Some(v) => spark.conf.set("spark.sql.sources.useV1SourceList", v)
        case None => spark.conf.unset("spark.sql.sources.useV1SourceList")
      }
    }
  }

  test("_metadata file lineage: every row knows its source file") {
    import org.apache.spark.sql.functions.col
    val dir = tmp() + "/lineage"
    graft.sources.Tables.documents(spark, sfDir)
      .write.partitionBy("lang").parquet(dir)
    // the hidden _metadata struct gives per-row provenance with no extra
    // storage — the lineage/debugging surface for multi-source corpora
    val byFile = spark.read.parquet(dir)
      .select(col("doc_id"), col("lang"), col("_metadata.file_path").as("src"))
    val rows = byFile.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("src").contains("/lang=")))
    // provenance agrees with the partition value it was written under
    rows.foreach { r =>
      assert(r.getAs[String]("src").contains(s"/lang=${r.getAs[String]("lang")}/"),
        s"row ${r.getLong(0)} lineage mismatch: $r")
    }
  }

  test("writeBucketedTable: co-located join plans with zero shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, sum => ssum}
    val base = tmp()
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity")
    val ord = graft.sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice")
    try {
      graft.sources.IO.writeBucketedTable(li, "bkt_lineitem", s"$base/li", "l_orderkey", 8)
      graft.sources.IO.writeBucketedTable(ord, "bkt_orders", s"$base/ord", "o_orderkey", 8)
      val joined = spark.table("bkt_lineitem")
        .join(spark.table("bkt_orders"), col("l_orderkey") === col("o_orderkey"))
      // both sides hash-partitioned identically on disk → no exchange
      val shuffles = joined.queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"bucketed join must not shuffle, found: ${shuffles.map(_.nodeName)}")
      // and it still computes the right thing
      val viaBuckets = joined.agg(ssum(col("l_quantity"))).collect().head.getDouble(0)
      val direct = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(ssum(col("l_quantity"))).collect().head.getDouble(0)
      assert(math.abs(viaBuckets - direct) < 1e-6)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
    }
  }
}
