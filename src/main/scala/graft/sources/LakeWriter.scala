package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftbridge.ParquetRowWriterBridge
import org.apache.spark.sql.types.StructType

/** What one write task landed: each file's fully qualified path with
  * the [[LakeFileStats]] built from the writer's own footer. The
  * driver publishes a manifest from these messages alone — no listing,
  * no footer re-read — so a file only ever enters a manifest through
  * the message of the task attempt that Spark committed; a failed or
  * duplicate attempt's files are referenced by nothing (vacuum sweeps
  * them). */
private[sources] final case class LakeFileMessage(
    files: Seq[(String, LakeFileStats.FileStats)])
    extends WriterCommitMessage

/** The one task-side lake data writer, shared by every commit path:
  * batch commits ([[LakeWriter.write]]), row-level rewrites and
  * streaming epochs (as a connector `DataWriterFactory` /
  * `StreamingDataWriterFactory`). Each task opens its parquet files
  * lazily under `dataDir` (the `files-v<N>-<nonce>/` layout): one file
  * unrouted, or one per partition value the task sees when `router`
  * maps rows to `__graft_part*=<v>/` claim dirs. An empty task lands
  * nothing. `dataDir` must be fully qualified — the reported paths are
  * manifest entries. */
private[sources] final case class LakeWriterFactory(dataDir: String,
    prepared: ParquetRowWriterBridge.Prepared,
    router: Option[InternalRow => String])
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(this, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

private final class LakeDataWriter(f: LakeWriterFactory,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  private val route = f.router.orNull
  private val open = scala.collection.mutable.LinkedHashMap
    .empty[String, (String, ParquetWriter[InternalRow])]
  private var lastSub: String = _
  private var last: ParquetWriter[InternalRow] = _

  override def write(row: InternalRow): Unit = {
    val sub = if (route == null) "" else route(row)
    if (last == null || sub != lastSub) {
      last = open.getOrElseUpdate(sub, {
        val p = new Path(s"${f.dataDir}/${sub}part-$partitionId-" +
          s"$taskId-${java.util.UUID.randomUUID().toString.take(8)}" +
          ".parquet").toString
        (p, f.prepared.open(p))
      })._2
      lastSub = sub
    }
    last.write(row)
  }

  override def commit(): WriterCommitMessage =
    LakeFileMessage(open.values.toSeq.map { case (p, w) =>
      w.close()
      p -> LakeFileStats.ofWritten(w.getFooter)
    })

  override def abort(): Unit =
    open.values.foreach { case (path, w) =>
      try w.close() catch { case NonFatal(_) => () }
      // task-side cleanup with the SAME captured session conf the
      // writer opened the file with (spark.hadoop.* intact)
      val p = new Path(path)
      p.getFileSystem(f.prepared.hadoopConf).delete(p, false)
    }

  override def close(): Unit = ()
}

private[sources] object LakeWriter {

  /** A writer factory for rows of `schema` landing under `dataDir`,
    * routed into claim dirs when the table declares partitioning. */
  def factory(spark: org.apache.spark.sql.SparkSession, dataDir: String,
      schema: StructType,
      partSpec: Option[Seq[LakePartitioning.Spec]]): LakeWriterFactory = {
    val p = new Path(dataDir)
    LakeWriterFactory(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString,
      ParquetRowWriterBridge.prepare(spark, schema),
      partSpec.map(LakePartitioning.rowRouter(_, schema)))
  }

  /** The written files of a finished write, in manifest form. */
  def files(msgs: Seq[WriterCommitMessage])
      : Seq[(String, LakeFileStats.FileStats)] =
    msgs.flatMap { case LakeFileMessage(fs) => fs }

  /** Run `df` through the task writer as ONE Spark job and return what
    * the tasks report. A plan that provably yields no row (CREATE's
    * empty relation, an empty repartitioned one) or has no partitions
    * runs no job and lands nothing. On failure the data dir is removed
    * before rethrowing (no manifest references it either way). */
  def write(df: DataFrame, dataDir: String,
      partSpec: Option[Seq[LakePartitioning.Spec]])
      : Seq[(String, LakeFileStats.FileStats)] = {
    val spark = df.sparkSession
    val f = factory(spark, dataDir, df.schema, partSpec)
    val qe = df.queryExecution
    if (qe.optimizedPlan.maxRows.contains(0L)) return Seq.empty
    SQLExecution.withNewExecutionId(qe, Some("lake write")) {
      val rdd = qe.toRdd
      if (rdd.getNumPartitions == 0) Seq.empty
      else try files(spark.sparkContext.runJob(rdd,
          (ctx: TaskContext, rows: Iterator[InternalRow]) =>
            runTask(f, ctx, rows)).toSeq)
      catch {
        case NonFatal(e) =>
          val p = new Path(f.dataDir)
          try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
          catch { case NonFatal(s) => e.addSuppressed(s) }
          throw e
      }
    }
  }

  private def runTask(f: LakeWriterFactory, ctx: TaskContext,
      rows: Iterator[InternalRow]): WriterCommitMessage = {
    val w = f.createWriter(ctx.partitionId(), ctx.taskAttemptId())
    try {
      while (rows.hasNext) w.write(rows.next())
      w.commit()
    } catch {
      case t: Throwable =>
        try w.abort() catch { case NonFatal(s) => t.addSuppressed(s) }
        throw t
    } finally w.close()
  }
}
