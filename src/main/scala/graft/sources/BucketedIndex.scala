package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints

/** The one on-disk layout every partitioned index family shares, and
  * the verbs that maintain it. The hash-bucketed families (fingerprint,
  * fp-first-seen, gram, gram-counted, winnow, near-dup,
  * bucket-membership, the bucketed components store and
  * [[IO.bucketedUpsertSink]]'s snapshot) partition by `__bucket`; the
  * IVF / IVF-PQ indexes ([[graft.operators.Similarity]]) partition
  * their `vectors/` (and fused `codes/`) relations by the inverted list
  * a row is assigned to, `ivf_list`, which is not a hash. Each family
  * builds its own rows and names its key and partition column;
  * everything about the layout lives here.
  *
  * Layout: an index dir holds one or more relations (the dir itself, or
  * named subdirs such as the near-dup index's `docs/` + `bands/`), each
  * parquet partitioned by the family's partition column. For the
  * hash-bucketed families that is `__bucket = pmod(key, n)`, and two
  * sidecars sit at the index dir root: `.bucket_count` pins `n`, so
  * later appends route by the WRITTEN count rather than whatever their
  * caller passes, and, for stamped families, `.layout_version` (see
  * [[Stamp]]). Only those families [[seed]] and [[append]]; every
  * family shares [[read]], [[delete]] and [[rewrite]].
  *
  * Disciplines every verb keeps:
  *  - a missing dir is the cold start ("no index yet"): seeding from no
  *    rows removes the dir, and a takedown that empties a relation
  *    reverts it to that state, never to a schema-less dir whose
  *    readers die with UNABLE_TO_INFER_SCHEMA;
  *  - rows are pinned (`localCheckpoint`) before any write touches the
  *    dir they were read from, so a write never scans its own output;
  *  - a failed write leaves the old index intact because the store
  *    rewrites by dynamic partition overwrite, which stages the new
  *    files and swaps the touched partitions in only at job commit (a
  *    static overwrite would delete the dir first — whole-dir rewrites
  *    go through [[IO.replace]] instead);
  *  - an empty delta writes nothing, so a replay that finds its rows
  *    already applied (an anti-joined append, any takedown) is a
  *    zero-write no-op;
  *  - a takedown or rewrite replaces only the touched partitions
  *    (dynamic partition overwrite); untouched partition dirs stay
  *    byte-identical.
  *
  * Single writer per index by contract. */
object BucketedIndex {

  /** A layout version stamp. The version changes when the on-disk
    * meaning of stored values changes (a new hash family, say): rows
    * built under another version would silently never match, so every
    * verb that touches an existing index checks the stamp and fails
    * loudly instead. `why` says what would go wrong; `rebuild` names
    * the seeding verb. */
  final case class Stamp(family: String, version: Int, why: String,
                         rebuild: String)

  /** One family's layout: its bucket key expression over the rows, its
    * relations under the index dir (`""` = the dir itself; the first
    * one decides cold start, emptiness and the touched partitions), its
    * version stamp, if it has one, and its partition column (a family
    * not partitioned by `__bucket` never calls [[seed]] or [[append]]). */
  final case class Layout(key: Column, rels: Seq[String] = Seq(""),
                          stamp: Option[Stamp] = None,
                          part: String = "__bucket")

  private def relDir(dir: String, rel: String): String =
    if (rel.isEmpty) dir else s"$dir/$rel"

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A relation through the schema cache; None is the cold start. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    if (exists(spark, dir)) Some(IO.readArtifact(spark, dir)) else None

  /** Fail loudly unless the index at `dir` carries the family's stamp. */
  def requireLayout(spark: SparkSession, dir: String,
                    layout: Layout): Unit =
    layout.stamp.foreach { s =>
      val v = IO.readLayoutVersion(spark, dir)
      if (!v.contains(s.version))
        throw new IllegalStateException(
          s"${s.family} index at $dir has layout version " +
            s"${v.getOrElse("<unstamped>")}, need ${s.version}: ${s.why}. " +
            s"Rebuild it with ${s.rebuild}.")
    }

  private def bucketed(rows: DataFrame, layout: Layout, n: Int): DataFrame =
    rows.withColumn("__bucket", pmod(layout.key, lit(n.toLong)))

  /** Overwrite the index with `rows` (one relation per `layout.rels`,
    * in order) in `n` buckets and stamp the sidecars. Empty rows remove
    * the dir instead: the index of nothing is no index. Returns whether
    * anything was written. The emptiness check is a limit-1 probe, not
    * a pin — seeded relations are corpus-sized. */
  def seed(layout: Layout, dir: String, n: Int, rows: DataFrame*): Boolean = {
    val spark = rows.head.sparkSession
    if (rows.head.isEmpty) { IO.deleteDir(spark, dir); return false }
    layout.rels.zip(rows).foreach { case (rel, r) =>
      IO.alignToPartitions(bucketed(r, layout, n), "__bucket")
        .write.mode("overwrite").partitionBy("__bucket")
        .parquet(relDir(dir, rel))
    }
    IO.writeBucketCount(spark, dir, n)
    layout.stamp.foreach(s => IO.writeLayoutVersion(spark, dir, s.version))
    true
  }

  /** Append `rows` (one relation per `layout.rels`) without rewriting
    * any existing file: cost ∝ the delta. A warm index must carry the
    * family's stamp, and rows route by its stamped bucket count
    * (`defaultN` only for an unstamped or missing index). The delta is
    * pinned first, so any read of this index inside `rows` completes
    * before the write; an empty delta writes nothing. A cold start is
    * seeded by this append, sidecars included. */
  def append(layout: Layout, dir: String, defaultN: Int,
             rows: DataFrame*): Unit = {
    val spark = rows.head.sparkSession
    val cold = !exists(spark, relDir(dir, layout.rels.head))
    if (!cold) requireLayout(spark, dir, layout)
    val stampedN = IO.readBucketCount(spark, dir)
    val n = stampedN.getOrElse(defaultN)
    val deltas = rows.map(bucketed(_, layout, n).localCheckpoint(eager = true))
    try {
      if (!deltas.head.isEmpty) {
        layout.rels.zip(deltas).foreach { case (rel, d) =>
          IO.alignToPartitions(d, "__bucket")
            .write.mode("append").partitionBy("__bucket")
            .parquet(relDir(dir, rel))
        }
        if (stampedN.isEmpty) IO.writeBucketCount(spark, dir, n)
        if (cold)
          layout.stamp.foreach(s => IO.writeLayoutVersion(spark, dir, s.version))
      }
    } finally deltas.foreach(Checkpoints.drop)
  }

  /** The touched-partition TAKEDOWN: remove every row matching `keys`
    * (on all of its columns) from every relation. Touched partitions
    * come from a semi-join of `keys` against the first relation, so a
    * replayed delete (or one of unknown keys) finds nothing and writes
    * nothing; each relation then rewrites only those partitions, minus
    * the matching rows, and delete == rebuild-without-those-rows. A
    * missing index has nothing to delete. Returns the sorted touched
    * partition ids (the cost witness). */
  def delete(layout: Layout, dir: String, keys: DataFrame): Seq[Long] = {
    val spark = keys.sparkSession
    if (!exists(spark, relDir(dir, layout.rels.head))) return Seq.empty
    requireLayout(spark, dir, layout)
    val part = col(layout.part)
    val k = keys.distinct().localCheckpoint(eager = true)
    try {
      val on = k.columns.toSeq
      val rels = layout.rels.map { rel =>
        rel -> IO.readArtifact(spark, relDir(dir, rel))
      }
      val touched = rels.head._2.join(k, on, "left_semi")
        .select(part.cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted // bounded: <= n ids
      if (touched.nonEmpty) rels.foreach { case (rel, current) =>
        val remaining = current.filter(part.isin(touched: _*))
          .join(k, on, "left_anti")
          .localCheckpoint(eager = true)
        try rewrite(layout, remaining, relDir(dir, rel), touched)
        finally Checkpoints.drop(remaining)
      }
      touched
    } finally Checkpoints.drop(k)
  }

  /** Replace the `touched` partitions of the relation at `dir` with
    * `pinned` (rows carrying the layout's partition column; pinned by
    * the caller, since they are usually read from `dir` itself). Dynamic
    * partition overwrite replaces only the partitions present in
    * `pinned`, so a touched partition absent from it is dropped
    * explicitly; if that leaves no partition at all, the dir reverts to
    * the cold start (sidecars included, when `dir` is the index root).
    * The written partitions are observed on the write itself, so
    * finding the emptied ones costs no job of its own. */
  def rewrite(layout: Layout, pinned: DataFrame, dir: String,
              touched: Seq[Long]): Unit = {
    // observed above the exchange: below it, AQE drops the observing
    // stage from the final plan of an empty write and reports no metrics
    val seen = Observation()
    IO.alignToPartitions(pinned, layout.part)
      .observe(seen, collect_set(col(layout.part).cast("long")).as("w"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(layout.part).parquet(dir)
    val written = seen.get.getOrElse("w", throw new IllegalStateException(
      s"rewrite of $dir reported no written partitions"))
      .asInstanceOf[collection.Seq[Long]].toSet
    dropEmptiedPartitions(pinned.sparkSession, dir, layout.part, touched,
      written)
  }

  /** Delete the `part=v` dirs of partitions `touched` by a rewrite but
    * absent from its output `written`; if none is left, delete `dir`. */
  private def dropEmptiedPartitions(spark: SparkSession, dir: String,
                                    part: String, touched: Seq[Long],
                                    written: Set[Long]): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(written).foreach { b =>
      fs.delete(new Path(base, s"$part=$b"), true)
    }
    if (fs.exists(base) &&
        !fs.listStatus(base).exists(_.getPath.getName.startsWith(s"$part=")))
      fs.delete(base, true)
  }
}
