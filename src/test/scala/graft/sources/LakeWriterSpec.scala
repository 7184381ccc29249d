package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** The task-side lake writer ([[LakeWriter]]): every commit path
  * publishes what its tasks report — each file's path and the stats
  * built from the writer's own footer, the schema the writer wrote —
  * and nothing else. Pins that those reports equal what reading the
  * files back returns, and that only the committed attempt's files
  * reach a manifest. */
class LakeWriterSpec extends SparkSpec {

  private val n = new AtomicInteger(0)

  private def freshCatalog(): (String, String) = {
    val cat = s"glw_${n.incrementAndGet()}"
    val root = s"/tmp/graft_lake_writer_${java.util.UUID.randomUUID()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  private def assertStatsIdentity(
      written: Seq[(String, LakeFileStats.FileStats)]): Unit = {
    assert(written.nonEmpty)
    written.foreach { case (p, st) =>
      assert(st === LakeFileStats.read(p, conf), s"stats of $p")
    }
  }

  private def footer(p: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p), conf))
    try r.getFooter finally r.close()
  }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every column type the stats normalize, strings longer than the
    * manifest's bound truncation and past parquet's statistics size
    * limit, nulls and an all-null column. */
  private def typed(rows: Long) = spark.range(0, rows).selectExpr(
    "id AS l", "CAST(id % 97 AS INT) AS i", "id * 0.5D AS d",
    "id % 2 = 0 AS b", "date_add(DATE'2020-01-01', CAST(id AS INT)) AS dt",
    "timestamp_seconds(id * 3600) AS ts",
    "concat(repeat('x', 80), CAST(id AS STRING)) AS s80",
    "repeat(CAST(id % 10 AS STRING), 5000) AS s5k",
    "CASE WHEN id % 3 = 0 THEN NULL ELSE id END AS some_null",
    "CAST(NULL AS STRING) AS all_null", "CAST(id % 4 AS INT) AS part")

  test("writer-footer stats equal a footer read: every type, long " +
      "strings, nulls, an all-null column") {
    withTempDir("graft_lw") { d =>
      assertStatsIdentity(
        LakeWriter.write(typed(300).repartition(3), s"$d/t", None))
    }
  }

  test("writer-footer stats equal a footer read over several row groups") {
    withTempDir("graft_lw") { d =>
      val written = withConf("parquet.block.size" -> "8192") {
        LakeWriter.write(typed(2000).drop("s5k").coalesce(1), s"$d/t", None)
      }
      assert(written.map(w => footer(w._1).getBlocks.size).max > 1,
        "want a multi-row-group file")
      assertStatsIdentity(written)
    }
  }

  test("writer-footer stats equal a footer read on partitioned writes") {
    withTempDir("graft_lw") { d =>
      val written = LakeWriter.write(typed(400).repartition(2), s"$d/t",
        Some(Seq(LakePartitioning.IdentitySpec("part"))))
      assert(written.map(_._1).forall(_.contains("/__graft_part=")))
      assert(written.size >= 4)
      assertStatsIdentity(written)
    }
  }

  test("writer-footer stats equal a footer read on lineage-widened " +
      "rewrites") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.row.lineage'='true')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(0, 50)")
    spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k % 5 = 0")
    val dir = s"$root/t"
    val before = VersionedTable.snapshotOf(spark, dir, 1).dataFiles.toSet
    val after = VersionedTable.snapshotOf(spark, dir, 2)
    val fresh = after.dataFiles.filterNot(before.contains)
    assert(fresh.nonEmpty && fresh.forall(p =>
      after.stats(p).cols.contains(LakeRowLineage.PhysRowId)))
    // the manifest adds the lineage id base; numeric bounds round-trip
    // the manifest exactly
    assertStatsIdentity(fresh.map(p =>
      p -> after.stats(p).copy(firstRowId = None)))
  }

  /** The reference: a `mergeSchema` read of a commit's fresh files
    * (routing columns are paths, not file columns). */
  private def footerMerge(files: Seq[String]): StructType =
    StructType(spark.read.option("mergeSchema", "true")
      .parquet(files: _*).schema.fields
      .filterNot(_.name.toLowerCase.startsWith(
        LakePartitioning.PartColPrefix)))

  private def assertSchemaIdentity(dir: String): Unit = {
    val v = VersionedTable.latestVersion(spark, dir).get
    val prev = VersionedTable.snapshotOf(spark, dir, v - 1)
    val cur = VersionedTable.snapshotOf(spark, dir, v)
    val fresh = cur.dataFiles.filterNot(prev.dataFiles.toSet)
    assert(fresh.nonEmpty, s"version $v landed no file")
    assert(LakeSchema.fromMeta(cur.meta) === Some(LakeSchema.merge(
      LakeSchema.fromMeta(prev.meta), footerMerge(fresh))),
      s"recorded schema of version $v")
  }

  test("recorded schema equals the footer-merge read: INSERT, UPDATE " +
      "with lineage, MERGE, shredded JSON, partitioned") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.row.lineage'='true')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('v', id) " +
      "FROM range(0, 40)")
    assertSchemaIdentity(s"$root/t")
    spark.sql(s"UPDATE $cat.t SET v = 'u' WHERE k % 4 = 0")
    assertSchemaIdentity(s"$root/t")
    spark.range(30, 50).selectExpr("id AS k", "'m' AS v")
      .createOrReplaceTempView("glw_merge_src")
    spark.sql(s"""MERGE INTO $cat.t AS t USING glw_merge_src AS s
                 |ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assertSchemaIdentity(s"$root/t")
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, props STRING) " +
      "TBLPROPERTIES('graft.json.shred'='props:$.k')")
    spark.sql(s"""INSERT INTO $cat.e VALUES (1, '{"k": "a"}')""")
    assertSchemaIdentity(s"$root/e")
    assert(LakeSchema.fromMeta(VersionedTable.snapshotOf(spark,
      s"$root/e", 1).meta).get.fieldNames.exists(LakeJsonShred.isShredCol))
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT, d STRING) " +
      "PARTITIONED BY (bucket(3, k))")
    spark.sql(s"INSERT INTO $cat.p SELECT id, 'x' FROM range(0, 30)")
    assertSchemaIdentity(s"$root/p")
    spark.sql(s"UPDATE $cat.p SET d = 'y' WHERE k < 5")
    assertSchemaIdentity(s"$root/p")
  }

  test("recorded schema equals the footer-merge read after a stream " +
      "epoch") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.s (k BIGINT, v DOUBLE)")
    withTempDir("graft_lw_src") { src =>
      spark.range(0, 20).selectExpr("id AS k", "id * 1.0D AS v")
        .coalesce(1).write.parquet(s"$src/in")
      val q = spark.readStream.schema("k BIGINT, v DOUBLE")
        .parquet(s"$src/in").writeStream
        .option("checkpointLocation", s"$src/ckpt")
        .trigger(Trigger.AvailableNow()).toTable(s"$cat.s")
      q.awaitTermination()
    }
    assertSchemaIdentity(s"$root/s")
    assert(spark.table(s"$cat.s").count() === 20L)
  }

  test("a failed write task's files never reach a manifest") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(0, 10)")
    spark.udf.register("glw_boom", (k: Long) =>
      if (k == 15L) throw new IllegalStateException("injected") else k)
    // the task holding k = 15 opens its file, writes, then fails: its
    // attempt aborts and the job fails before any publish
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t SELECT glw_boom(id) " +
        "FROM range(10, 20)")
    }
    val dir = s"$root/t"
    assert(VersionedTable.latestVersion(spark, dir) === Some(1))
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(10, 20)")
    val snap = VersionedTable.snapshotOf(spark, dir, 2)
    val fresh = snap.dataFiles.filterNot(
      VersionedTable.snapshotOf(spark, dir, 1).dataFiles.toSet)
    // the retry references only its own data dir, and every file exists
    assert(fresh.map(p => new Path(p).getParent.getName).distinct.size === 1)
    val fs = new Path(dir).getFileSystem(conf)
    assert(snap.dataFiles.forall(p => fs.exists(new Path(p))))
    assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.t").collect()
      .head.toSeq === Seq(20L, 190L))
  }

  test("a duplicate task attempt's file never reaches the manifest") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
      override def queryId(): String = "glw-dup-query"
      override def schema(): StructType = new StructType().add("k", LongType)
    }
    val write = new GraftLakeStreamingWrite(s"$root/t", info)
    val factory = write.createStreamingWriterFactory(null)
    // two attempts of partition 0 (a retried or speculative task): both
    // land a file in the epoch's data dir, Spark commits one of them
    def attempt(taskId: Long) = {
      val w = factory.createWriter(0, taskId, 0L)
      w.write(InternalRow(1L))
      w.write(InternalRow(2L))
      try w.commit() finally w.close()
    }
    val first = LakeWriter.files(Seq(attempt(1L)))
    val committed = attempt(2L)
    assert(first.forall(f =>
      new Path(f._1).getFileSystem(conf).exists(new Path(f._1))))
    write.commit(0L, Array(committed))
    val snap = VersionedTable.snapshotOf(spark, s"$root/t", 1)
    assert(snap.dataFiles === LakeWriter.files(Seq(committed)).map(_._1))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect().head
      .getLong(0) === 2L)
  }

  private def codecsOf(files: Seq[String]): Set[CompressionCodecName] =
    files.flatMap(p => footer(p).getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec))).toSet

  /** Files the newest version of `dir` added. */
  private def freshFiles(dir: String): Seq[String] = {
    val v = VersionedTable.latestVersion(spark, dir).get
    VersionedTable.snapshotOf(spark, dir, v).dataFiles.filterNot(
      VersionedTable.snapshotOf(spark, dir, v - 1).dataFiles.toSet)
  }

  test("the session parquet codec reaches batch, row-level and stream " +
      "files; the default stays snappy") {
    val (cat, root) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 'a' FROM range(0, 10)")
    assert(codecsOf(freshFiles(s"$root/t")) ===
      Set(CompressionCodecName.SNAPPY))
    withConf("spark.sql.parquet.compression.codec" -> "zstd") {
      spark.sql(s"INSERT INTO $cat.t SELECT id, 'b' FROM range(10, 20)")
      assert(codecsOf(freshFiles(s"$root/t")) ===
        Set(CompressionCodecName.ZSTD), "batch commit")
      spark.sql(s"UPDATE $cat.t SET v = 'c' WHERE k = 3")
      assert(codecsOf(freshFiles(s"$root/t")) ===
        Set(CompressionCodecName.ZSTD), "row-level rewrite")
      withTempDir("graft_lw_src") { src =>
        spark.range(0, 5).selectExpr("id AS k", "'s' AS v").coalesce(1)
          .write.parquet(s"$src/in")
        spark.readStream.schema("k BIGINT, v STRING").parquet(s"$src/in")
          .writeStream.option("checkpointLocation", s"$src/ckpt")
          .trigger(Trigger.AvailableNow()).toTable(s"$cat.t")
          .awaitTermination()
      }
      assert(codecsOf(freshFiles(s"$root/t")) ===
        Set(CompressionCodecName.ZSTD), "stream epoch")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect().head
      .getLong(0) === 25L)
  }
}
