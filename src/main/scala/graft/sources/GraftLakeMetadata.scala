package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Iceberg-style METADATA TABLE over a lake table's commit log:
  * `SELECT * FROM <catalog>.<table>.versions` returns one row per
  * published snapshot — `(version, n_files, total_rows, operation)` —
  * computed entirely from the manifests plus parquet FOOTER record
  * counts. `operation` is the commit's recorded label
  * ([[VersionedTable.OpMetaKey]]: create/append/overwrite/delete/
  * update/merge/compact/truncate/restore/clone/add-column/
  * stream-append — Delta's DESCRIBE HISTORY discipline; NULL on
  * manifests published before labels existed). No
  * data byte is scanned: on a 100 TB table the query costs one footer
  * read per listed file (manifest-sized driver IO, the same planning
  * cost any scan of that snapshot would pay), which is why lakehouse
  * observability ships as metadata tables instead of `count(*)` jobs.
  * Footer counts are exact parquet metadata, so `total_rows` equals
  * `count(*)` of the snapshot bit-for-bit and the q179 oracle can gate
  * it against the raw source.
  *
  * The rows are computed DRIVER-side at scan build (there are
  * #versions of them) and shipped as one input partition — the shape
  * every catalog metadata table uses (Iceberg's `.snapshots`, Delta's
  * `DESCRIBE HISTORY`). */
final class GraftLakeVersionsTable(tableName: String, dir: String)
    extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"$tableName.versions"

  override def schema(): StructType = GraftLakeVersionsTable.Schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType = GraftLakeVersionsTable.Schema
      override def description(): String = s"GraftLakeVersions($dir)"
      override def toBatch: Batch = {
        val s = spark
        val conf = s.sparkContext.hadoopConfiguration
        val latest = VersionedTable.latestVersion(s, dir)
        // fallback routes through LakeFileStats so its footerReads
        // counter audits ALL footer IO this table performs
        def footerRows(p: String): Long =
          LakeFileStats.read(p, conf).rowCount
        val rows: Array[(Int, Int, Long, String, String)] =
          (0 to latest.getOrElse(-1)).flatMap { v =>
            // vacuum may have retired low versions; skip gaps
            val snap = try VersionedTable.snapshotOf(s, dir, v) catch {
              case _: IllegalArgumentException => null
            }
            Option(snap).map { sn =>
              // live rows = data row counts minus merge-on-read masks
              // (positions never duplicate: the MoR delete records
              // only still-live rows). Counts come from the MANIFEST's
              // embedded stats — zero footer IO on stats-bearing
              // snapshots; only pre-stats manifests pay a footer read
              // per uncovered file.
              def rowsOf(p: String): Long =
                sn.stats.get(p).map(_.rowCount).getOrElse(footerRows(p))
              val n = sn.dataFiles.map(rowsOf).sum -
                sn.deleteFiles.map(rowsOf).sum
              (v, sn.dataFiles.size, n,
                sn.meta.getOrElse(VersionedTable.OpMetaKey, null),
                sn.meta.getOrElse(VersionedTable.BranchMetaKey, null))
            }
          }.toArray
        new GraftLakeVersionsBatch(rows)
      }
    }
  }
}

object GraftLakeVersionsTable {
  val Schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("total_rows", LongType, nullable = false),
    StructField("operation", org.apache.spark.sql.types.StringType,
      nullable = true),
    // NULL on main-line commits; the staging branch's name on
    // branch-labeled manifests — history shows WHAT each numbered
    // version was staged on
    StructField("branch", org.apache.spark.sql.types.StringType,
      nullable = true)))

  /** `<cat>.<table>.versions` / `.refs` / `.files` resolve here when
    * the parent directory is a table and the child is not itself one. */
  val MetadataTableNames: Set[String] =
    Set("versions", "refs", "files", "partitions")
}

/** `SELECT * FROM <catalog>.<table>.partitions` — one row per
  * partition VALUE of the head snapshot (Iceberg's `partitions`
  * metadata table): `(partition, file_count, row_count, size_bytes)`.
  * The layout-health surface for declared-partitioned tables
  * ([[LakePartitioning]]): skewed buckets, missing values, and
  * unrouted debt show up as rows. Files landed by non-routing writers
  * (row-level rewrites before a compaction) group under partition =
  * NULL — a non-empty NULL row is exactly "this table has layout debt,
  * compact it". Driver-computed from manifest claims + stats: zero
  * data IO. Refuses on an unpartitioned table (the row shape would be
  * a lie). */
final class GraftLakePartitionsTable(tableName: String, dir: String)
    extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"$tableName.partitions"

  override def schema(): StructType = GraftLakePartitionsTable.Schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = {
      import org.apache.spark.unsafe.types.UTF8String
      val s = spark
      val specs = LakePartitioning.specOf(s, dir).getOrElse(
        throw new UnsupportedOperationException(
          s"$tableName is not partitioned — `.partitions` only " +
            "applies to PARTITIONED BY tables"))
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val v = VersionedTable.headVersion(s, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version at $dir"))
      val snap = VersionedTable.snapshotOf(s, dir, v)
      // SPEC EVOLUTION: each file reports under ITS generation's spec
      // (per-file binding via birth version), so an evolved table's
      // layout reads per generation instead of as unrouted debt
      val history = Option(GraftLakeTable.readProperties(s, dir)
          .get(LakePartitioning.HistoryProp))
        .map(LakePartitioning.parseHistory).getOrElse(Seq.empty)
      def genOf(p: String): Option[Seq[LakePartitioning.Spec]] =
        if (history.isEmpty) Some(specs)
        else LakePartitioning.fileVersionOfPath(p).flatMap(fv =>
          LakePartitioning.specForFileVersion(history, Some(specs), fv))
      def claim(p: String): Option[String] =
        genOf(p).flatMap(g =>
          LakePartitioning.rawValuesOfPath(p, g.size)
            .map(_.mkString("/")))
      def specLabel(p: String): String =
        genOf(p).map(_.map(_.serialized).mkString(","))
          .getOrElse("unpartitioned")
      val grouped = snap.dataFiles
        // a 0-row unclaimed file (an older CREATE's empty schema
        // file) has no rows to report
        .filterNot(p => snap.stats.get(p).exists(_.rowCount == 0L) &&
          claim(p).isEmpty)
        .groupBy(p => (specLabel(p), claim(p)))
      val out = grouped.toSeq
        .sortBy { case ((sp, k), _) => (sp, k.getOrElse("￿")) }
        .map { case ((sp, value), paths) =>
          val rc = paths.map(p => snap.stats.get(p).map(_.rowCount))
          val bytes = paths.map { p =>
            try f.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen
            catch { case _: java.io.FileNotFoundException => 0L }
          }.sum
          InternalRow(
            value.map(UTF8String.fromString).orNull,
            UTF8String.fromString(sp),
            paths.size,
            if (rc.exists(_.isEmpty)) null
            else java.lang.Long.valueOf(rc.flatten.sum),
            bytes)
        }.toArray
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType =
          GraftLakePartitionsTable.Schema
        override def description(): String =
          s"GraftLakePartitions($dir@v$v)"
      }
    }
  }
}

object GraftLakePartitionsTable {
  val Schema: StructType = StructType(Seq(
    StructField("partition", org.apache.spark.sql.types.StringType,
      nullable = true),
    StructField("spec", org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField("file_count", IntegerType, nullable = false),
    StructField("row_count", LongType, nullable = true),
    StructField("size_bytes", LongType, nullable = false)))
}

/** `SELECT * FROM <catalog>.<table>.refs` — one row per named ref
  * (tag), `(name, version)`; Iceberg's `.refs` metadata table.
  * Driver-computed from the `_refs` directory, like `.versions`. */
final class GraftLakeRefsTable(tableName: String, dir: String)
    extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"$tableName.refs"

  override def schema(): StructType = GraftLakeRefsTable.Schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = {
      val refRows =
        (VersionedTable.tags(spark, dir).toSeq.map {
          case (n, v) => (n, v, "tag") } ++
          VersionedTable.branches(spark, dir).toSeq.map {
            case (n, v) => (n, v, "branch") })
        .sortBy(_._1)
        .map { case (n, v, kind) =>
          InternalRow(org.apache.spark.unsafe.types.UTF8String
            .fromString(n), v,
            org.apache.spark.unsafe.types.UTF8String.fromString(kind))
        }.toArray
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] = refRows
        override def readSchema(): StructType = GraftLakeRefsTable.Schema
        override def description(): String = s"GraftLakeRefs($dir)"
      }
    }
  }
}

object GraftLakeRefsTable {
  val Schema: StructType = StructType(Seq(
    StructField("name", org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField("version", IntegerType, nullable = false),
    StructField("kind", org.apache.spark.sql.types.StringType,
      nullable = false)))
}

/** `SELECT * FROM <catalog>.<table>.files` — one row per file of the
  * HEAD snapshot (Iceberg's `files` metadata table): content
  * ('data' | 'delete'), path, on-disk bytes, manifest row count, and
  * the per-column (min, max, nulls) bounds as a JSON string — the
  * layout-audit surface ("are my file sizes right? are key ranges
  * disjoint?") that otherwise takes a footer-crawling job. Row counts
  * and bounds come from the MANIFEST's embedded stats (zero data/
  * footer IO on stats-bearing snapshots; NULL where a pre-stats
  * manifest lacks them); sizes are one driver `getFileStatus` per
  * file — manifest-sized metadata IO, the same cost planning any scan
  * of the snapshot pays. */
final class GraftLakeFilesTable(tableName: String, dir: String)
    extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"$tableName.files"

  override def schema(): StructType = GraftLakeFilesTable.Schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = {
      import org.apache.spark.unsafe.types.UTF8String
      val s = spark
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val v = VersionedTable.headVersion(s, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version at $dir"))
      val snap = VersionedTable.snapshotOf(s, dir, v)
      def rowsFor(paths: Seq[String], content: String) =
        paths.map { p =>
          val size =
            try f.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen
            catch { case _: java.io.FileNotFoundException => -1L }
          val st = snap.stats.get(p)
          InternalRow(
            UTF8String.fromString(content),
            UTF8String.fromString(p),
            size,
            st.map(x => java.lang.Long.valueOf(x.rowCount)).orNull,
            st.map(x => UTF8String.fromString(
              LakeFileStats.toJson(x))).orNull)
        }
      val (eqDel, posDel) = snap.deleteFiles
        .partition(VersionedTable.isEqualityDelete)
      val all = (rowsFor(snap.dataFiles, "data") ++
        rowsFor(posDel, "position-delete") ++
        rowsFor(eqDel, "equality-delete")).toArray
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] = all
        override def readSchema(): StructType =
          GraftLakeFilesTable.Schema
        override def description(): String = s"GraftLakeFiles($dir@v$v)"
      }
    }
  }
}

object GraftLakeFilesTable {
  val Schema: StructType = StructType(Seq(
    StructField("content", org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField("file_path", org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("row_count", LongType, nullable = true),
    StructField("column_stats", org.apache.spark.sql.types.StringType,
      nullable = true)))
}

private final class GraftLakeVersionsBatch(
    rows: Array[(Int, Int, Long, String, String)]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    Array(new GraftLakeVersionsPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] = {
        val data = p.asInstanceOf[GraftLakeVersionsPartition].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < data.length }
          override def get(): InternalRow = {
            val (v, nf, nr, op, br) = data(i)
            InternalRow(v, nf, nr,
              Option(op).map(org.apache.spark.unsafe.types.UTF8String
                .fromString).orNull,
              Option(br).map(org.apache.spark.unsafe.types.UTF8String
                .fromString).orNull)
          }
          override def close(): Unit = ()
        }
      }
    }
}

private final class GraftLakeVersionsPartition(
    val rows: Array[(Int, Int, Long, String, String)]) extends InputPartition
