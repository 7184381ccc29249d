package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Executor-side single-file parquet `InternalRow` writer — what the
  * lake's task-side writer lands every data file with (batch commits,
  * row-level rewrites, streaming epochs), so each task can report its
  * files and their footers itself instead of going through Spark's
  * output committer and a driver-side listing. This bridge reuses
  * Spark's [[ParquetWriteSupport]] (the exact row-to-parquet encoder
  * every batch write uses — same physical layout, timestamps, rebase
  * handling) under parquet-hadoop's plain `ParquetWriter`, with the
  * session confs its `init` requires and the session compression codec
  * pinned at driver time into a serializable Configuration. Row-group,
  * page and dictionary sizing follow the same `parquet.*` keys
  * `ParquetOutputFormat` reads. Lives under the sql package for the
  * `private[sql]` SQLConf access — the [[ColumnBridge]] technique; no
  * other internal API is touched. */
object ParquetRowWriterBridge {

  /** Capture schema + write confs on the DRIVER; the result ships to
    * executors and opens one writer per output file. */
  def prepare(spark: SparkSession, schema: StructType): Prepared = {
    val conf = new Configuration(
      spark.sessionState.newHadoopConf())
    ParquetWriteSupport.setSchema(schema, conf)
    val sql = spark.sessionState.conf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    // the session codec (`spark.sql.parquet.compression.codec`),
    // resolved exactly as a batch `df.write.parquet` resolves it
    conf.set(ParquetOutputFormat.COMPRESSION,
      new ParquetOptions(Map.empty[String, String], sql)
        .compressionCodecClassName)
    new Prepared(new SerializableConfiguration(conf))
  }

  /** The schema a parquet read of written files reports: every field
    * nullable (file sources read all columns as nullable). */
  def asRead(schema: StructType): StructType = schema.asNullable

  final class Prepared(sc: SerializableConfiguration)
      extends Serializable {
    def open(path: String): ParquetWriter[InternalRow] = {
      val conf = sc.value
      new RowBuilder(new Path(path), conf)
        .withConf(conf)
        .withCompressionCodec(ParquetOutputFormat.getCompression(conf))
        .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
        .withPageSize(ParquetOutputFormat.getPageSize(conf))
        .withDictionaryPageSize(
          ParquetOutputFormat.getDictionaryPageSize(conf))
        .withDictionaryEncoding(
          ParquetOutputFormat.getEnableDictionary(conf))
        .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
        .build()
    }

    /** The captured session Hadoop conf — task-side cleanup (abort
      * paths) must resolve filesystems with the SAME conf the writer
      * opened them with (`spark.hadoop.*` credentials included), not
      * a bare `new Configuration()`. */
    def hadoopConf: Configuration = sc.value
  }

  private final class RowBuilder(path: Path, conf: Configuration)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](
        HadoopOutputFile.fromPath(path, conf)) {
    override def self(): RowBuilder = this
    override def getWriteSupport(
        conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
