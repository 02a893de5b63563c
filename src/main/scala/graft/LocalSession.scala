package graft

import org.apache.spark.sql.SparkSession

/** The one local session every `main` builds: `local[N]` with N from
  * `SPARK_GRAFT_CPUS` (the caller's default otherwise), N shuffle
  * partitions, UTC and no UI. Prints `local[N] nproc=M` once, to
  * stderr, so a reading always states its cores next to the host's. */
private[graft] object LocalSession {
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    System.err.println(
      s"local[$cpus] nproc=${Runtime.getRuntime.availableProcessors}")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // size input splits to the test SF (single ~11 MB parquet files):
      // the 128 MB default gives every scan exactly ONE partition, idling
      // all but one core in the scan stage. At cluster scale with real
      // multi-GB table layouts the default is correct — this is the
      // "size maxPartitionBytes to the SF" lever, not a universal setting.
      .config("spark.sql.files.maxPartitionBytes", s"${2 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
