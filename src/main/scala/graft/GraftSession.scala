package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the graft engine.
  *
  * Defaults are tuned for the harness's local[32] single-JVM mode but the
  * same settings are what we'd ship on a real cluster: AQE on (runtime
  * shuffle coalescing + skew-join splitting), shuffle partitions sized to
  * the parallelism at hand rather than the 200 default, UTC session time.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // native expressions surfaced as SQL functions
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
      // type for; read as raw nanos-since-epoch longs (see Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local FS without the per-created-file chmod FORK (no native
      // hadoop lib here, so stock Hadoop shells out /bin/chmod once per
      // file — ~25-30% of a zero-data commit, r17 jstack ledger); the
      // JDK call sets bit-identical permissions. Same win on any
      // cluster node missing libhadoop.
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.FastLocalFileSystem")
      // the same for FileContext users (streaming checkpoints): stock
      // LocalFs forks /bin/chmod per created file and readlink per
      // status lookup
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.FastLocalFs")

  /** Local session for tests / benchmarks. */
  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).master(s"local[$cpus]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
