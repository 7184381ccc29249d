package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** SCHEMA IN THE MANIFEST (the Iceberg/Delta discipline: schema is
  * table METADATA, not something re-derived from data files): every
  * data-landing commit records the snapshot's PHYSICAL file-union
  * schema as one JSON value in the manifest meta, and every plan-time
  * consumer — the catalog's parquet delegate, `table_changes`, the
  * streaming source — serves it from there.
  *
  * Why it matters at 100 TB: without the record, resolving a table's
  * schema costs a `mergeSchema` read over EVERY live data file —
  * O(files) driver footer IO before a single task launches, on every
  * query. With it, schema resolution is one manifest read that was
  * happening anyway, and it stays version-exact under time travel by
  * construction (each snapshot's meta carries the schema its files
  * were written under).
  *
  * The recorded schema is PHYSICAL: column-mapping, type-widening
  * overrides, default-column enrichment and the internal-column
  * filters apply on top at serve time, exactly as they did over the
  * inferred schema. Legacy snapshots without the key keep the
  * inference path — the record is an upgrade, not a requirement. */
private[graft] object LakeSchema {

  /** Manifest meta key; the value is `StructType.json` (single line —
    * manifest meta values must be newline-free). */
  val Key = "graft.schema"

  def fromMeta(meta: Map[String, String]): Option[StructType] =
    meta.get(Key).flatMap(j =>
      scala.util.Try(DataType.fromJson(j) match {
        case s: StructType => s
      }).toOption)

  def toMeta(schema: StructType): (String, String) = Key -> schema.json

  /** Name-based union of the carried schema with a freshly written
    * one: carried field order is preserved, new fields append, and on
    * a type conflict the NEWEST write wins (the same newest-file
    * discipline the widened-table delegate uses — widen overrides
    * re-apply on top at serve time, so a widened append lands the
    * wide type here and narrow files upcast at read). */
  def merge(prior: Option[StructType], written: StructType)
      : StructType = prior match {
    case None => written
    case Some(p) =>
      val byName = written.fields
        .map(f => f.name.toLowerCase -> f).toMap
      val updated = p.fields.map(f =>
        byName.getOrElse(f.name.toLowerCase, f))
      val fresh = written.fields.filterNot(f =>
        p.fields.exists(_.name.equalsIgnoreCase(f.name)))
      StructType(updated ++ fresh)
  }

  /** The schema a data-landing commit records for the files its
    * writer wrote: the writer's schema as a parquet read of those files
    * reports it (every field nullable) — no footer read needed. */
  def written(schema: StructType): StructType =
    org.apache.spark.sql.graftbridge.ParquetRowWriterBridge.asRead(schema)

  /** The snapshot's physical file-union schema: from the manifest
    * when recorded (ZERO footer IO), else [[inferred]]. Widening
    * overrides apply in BOTH branches: the recorded schema holds what
    * was physically written, overrides are serve-time. */
  def physicalSchema(spark: SparkSession,
      snap: VersionedTable.Snapshot): StructType =
    LakeTypeWidening.widen(fromMeta(snap.meta).getOrElse(
      inferred(spark, snap)), LakeTypeWidening.fromMeta(snap.meta))

  /** A legacy snapshot's (no recorded schema) physical schema inferred
    * from its files — `mergeSchema` over all files, or the newest
    * file on widened tables (schema merging refuses an int/long mix;
    * every commit writes the full current schema). */
  def inferred(spark: SparkSession,
      snap: VersionedTable.Snapshot): StructType =
    if (LakeTypeWidening.fromMeta(snap.meta).isEmpty)
      StructType(spark.read.option("mergeSchema", "true")
        .parquet(snap.dataFiles: _*).schema.fields)
    else spark.read.parquet(snap.dataFiles.maxBy(p =>
      LakePartitioning.fileVersionOfPath(p).getOrElse(-1))).schema
}
