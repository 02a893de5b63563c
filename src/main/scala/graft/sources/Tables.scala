package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md /
  * FIXTURES.md). In the reference these shapes arrive over Kafka /
  * MySQL-CDC connectors (reference `pom.xml:153-162`, SURVEY.md §2.A);
  * hermetically we read the parquet snapshots. At cluster scale the same
  * loaders would point at partitioned parquet/iceberg paths — nothing
  * here assumes single-file inputs.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events"   => events(spark, sfDir)
      case "orders"   => guardNanos(spark, sfDir, "orders", "o_orderdate")
      case "lineitem" => guardNanos(spark, sfDir, "lineitem", "l_shipdate")
      case other      => readCachedSchema(spark, s"$sfDir/$other.parquet")
    }

  /** Parquet-footer schema cache (r17, guide §6): without an explicit
    * schema every `spark.read.parquet` runs a footer-inference JOB —
    * ~20-25 ms of pure scheduling per table load, paid again on every
    * query over the same immutable file. Cache the INFERRED SCHEMA (a
    * StructType — metadata only, never rows; the scan itself still reads
    * the file on every action) per absolute path, exactly the role a
    * catalog/manifest (Hive metastore, Iceberg) plays at cluster scale.
    * Callers that need a session conf in force for inference (nanosAsLong)
    * set it BEFORE calling, so the cached schema is identical to what
    * that same call path would infer cold. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()
  private def readCachedSchema(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Generation-proofing for the other timestamped tables: a future
    * testdata generation that ships orders/lineitem timestamps as
    * TIMESTAMP(NANOS) would arrive as raw nanos LONGS and silently
    * break 100+ date queries. Convert that case to the session
    * TimestampType; the current naive-µs (NTZ) and any adjusted-µs
    * generation pass through unchanged — both already hash-match the
    * DuckDB oracle at all three SFs.
    *
    * `nanosAsLong` is set HERE, not only in [[events]], so behavior is
    * load-order independent: a session that reads orders/lineitem
    * before any events() call must not fail on a TIMESTAMP(NANOS)
    * generation ([PARQUET_TYPE_ILLEGAL] from the vectorized reader). */
  private def guardNanos(spark: SparkSession, sfDir: String, name: String,
                         tsCol: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readCachedSchema(spark, s"$sfDir/$name.parquet")
    raw.schema(tsCol).dataType match {
      case LongType =>
        raw.withColumn(tsCol, timestamp_micros(epochToMicros(tsCol)))
      case _ => raw
    }
  }

  /** Magnitude-aware epoch normalizer for a LONG column that could be
    * either nanos (a TIMESTAMP(NANOS) file read under `nanosAsLong`) or
    * genuine epoch micros (a future generation shipping a plain BIGINT
    * column — blind `div 1000` would make those timestamps 1000× too
    * small). Epoch NANOS for any instant after 1971 exceed 3×10¹⁶ while
    * epoch MICROS stay below 8×10¹⁵ until year 2200, so 10¹⁶ cleanly
    * separates the encodings per value. */
  private def epochToMicros(tsCol: String): org.apache.spark.sql.Column = {
    val nanosFloor = 10000000000000000L // 1e16
    when(abs(col(tsCol)) >= nanosFloor, expr(s"$tsCol div 1000"))
      .otherwise(col(tsCol))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Typed Dataset surface (SURVEY.md §1.3: case classes + Encoders replace
    * the reference's Lombok POJOs + beanutils reflection). */
  def eventsTyped(s: SparkSession, d: String): Dataset[Rows.Event] = {
    import s.implicits._
    events(s, d).as[Rows.Event]
  }
  def documentsTyped(s: SparkSession, d: String): Dataset[Rows.Document] = {
    import s.implicits._
    documents(s, d).as[Rows.Document]
  }

  /** `events.parquet` has shipped `ts` under THREE parquet physical
    * encodings across driver testdata generations, so the loader
    * normalizes by the OBSERVED read schema rather than assuming one:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]) unless `nanosAsLong` is on, which this
    *    engine sets deliberately and session-wide (there is no per-read
    *    option) — the column arrives as a nanos long and is
    *    floor-converted to µs (lossless here: every value is µs-aligned,
    *    verified against the parquet footers).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) — the current driver
    *    generation: arrives as TIMESTAMP_NTZ; cast to TIMESTAMP
    *    interprets the wall-clock in the session zone, which build.sbt /
    *    every entrypoint pins to UTC — byte-identical to DuckDB's naive
    *    read of the same file.
    *  - TIMESTAMP(MICROS, adjusted): already the session TimestampType
    *    (files this engine writes itself, e.g. law-spec round-trips) —
    *    passed through.
    *
    * All three land on the same TimestampType µs column, so every
    * downstream query and oracle is generation-independent.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readCachedSchema(spark, s"$sfDir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case LongType            => timestamp_micros(epochToMicros("ts"))
      case _: TimestampNTZType => col("ts").cast(TimestampType)
      case _                   => col("ts")
    }
    raw.withColumn("ts", ts)
  }
}

/** Case-class row types for the typed `Dataset[T]` surface (replaces the
  * reference's Lombok POJO beans + beanutils reflection — SURVEY.md §1.1 #4).
  */
object Rows {
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class Document(doc_id: Long, text: String, lang: String,
                      source: String, n_chars: Long)
  case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
}
