package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Spark jobs per lake commit, counted with a `SparkListener`: a
  * commit publishes what its write tasks report, so it runs exactly
  * the jobs that compute and write its rows — no empty-file job for
  * CREATE, no schema-read job after a row-level rewrite or a stream
  * epoch. The row-level counts are the statement's own jobs: its
  * matching-file and runtime-filter scans and the rewrite. */
class LakeCommitJobsSpec extends SparkSpec {

  private val n = new AtomicInteger(0)

  private def freshCatalog(): (String, String) = {
    val cat = s"glj_${n.incrementAndGet()}"
    val root = s"/tmp/graft_lake_jobs_${java.util.UUID.randomUUID()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  /** Jobs started while `f` ran (the listener bus drained on both
    * sides, so no event of an earlier statement is counted). */
  private def jobs(f: => Any): Int = {
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    val started = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet()
        ()
      }
    }
    sc.addSparkListener(l)
    try {
      f
      ListenerBusBridge.drain(sc)
      started.get
    } finally sc.removeSparkListener(l)
  }

  test("CREATE TABLE runs no job; INSERT and CTAS run one each") {
    val (cat, root) = freshCatalog()
    assert(jobs(spark.sql(
      s"CREATE TABLE $cat.t (k BIGINT, s STRING, v DOUBLE)")) === 0)
    assert(jobs(spark.sql(s"CREATE TABLE $cat.p (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")) === 0)
    assert(jobs(spark.sql(s"INSERT INTO $cat.t SELECT id, " +
      "concat('s', id), id * 1.5 FROM range(0, 300)")) === 1)
    assert(jobs(spark.sql(s"INSERT INTO $cat.t SELECT id, " +
      "concat('s', id), id * 1.5 FROM range(300, 600)")) === 1)
    assert(jobs(spark.sql(s"CREATE TABLE $cat.c AS SELECT id AS k, " +
      "id * 2 AS v FROM range(0, 100)")) === 1)
    // version 0 of a created table is manifest-only: no data dir
    assert(!new java.io.File(s"$root/t").list().exists(
      _.startsWith("files-v0-")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect().head
      .getLong(0) === 600L)
  }

  test("UPDATE, DELETE and MERGE run no schema-read job") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, s STRING, v DOUBLE)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('s', id), " +
      "id * 1.5 FROM range(0, 600)")
    assert(jobs(spark.sql(
      s"DELETE FROM $cat.t WHERE s = 's3' AND k % 3 = 0")) === 3)
    assert(jobs(spark.sql(s"DELETE FROM $cat.t WHERE k IN " +
      "(SELECT id FROM range(10, 20))")) === 4)
    assert(jobs(spark.sql(
      s"UPDATE $cat.t SET v = v + 1 WHERE k % 7 = 1")) === 3)
    spark.range(0, 50).selectExpr("id * 20 AS k", "'m' AS s", "1.0D AS v")
      .createOrReplaceTempView("glj_merge_src")
    assert(jobs(spark.sql(
      s"""MERGE INTO $cat.t AS t USING glj_merge_src AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)) === 6)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect().head
      .getLong(0) === 600L - 1L - 10L + 20L) // deletes, then 20 new keys
  }

  test("a stream runs one job per non-empty epoch") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.s (k BIGINT, v DOUBLE)")
    withTempDir("graft_jobs_src") { src =>
      (0 until 3).foreach(i => spark.range(i * 10, i * 10 + 10)
        .selectExpr("id AS k", "id * 1.0D AS v").coalesce(1)
        .write.parquet(s"$src/f$i"))
      new java.io.File(s"$src/in").mkdirs()
      (0 until 3).foreach { i =>
        val f = new java.io.File(s"$src/f$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(s"$src/in/p$i.parquet").toPath)
      }
      val epochs = jobs {
        spark.readStream.schema("k BIGINT, v DOUBLE")
          .option("maxFilesPerTrigger", "1").parquet(s"$src/in")
          .writeStream.option("checkpointLocation", s"$src/ckpt")
          .trigger(Trigger.AvailableNow()).toTable(s"$cat.s")
          .awaitTermination()
      }
      assert(epochs === 3)
    }
    assert(VersionedTable.latestVersion(spark, s"$root/s") === Some(3))
    assert(spark.sql(s"SELECT count(*) FROM $cat.s").collect().head
      .getLong(0) === 30L)
  }
}
