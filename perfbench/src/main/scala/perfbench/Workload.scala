package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload needs from the run: the session, the span recorder,
  * its seed and its own directories inside the run root. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val inputs: String, val out: String) {
  def passDir(p: Int): String = s"$out/pass-$p"

  /** One call into a layer, timed from outside the engine. A failure is
    * counted and the pass goes on with its next operation. */
  def op[A](name: String)(body: => A): Option[A] =
    try Some(rec.span(name)(body))
    catch { case e: Exception =>
      failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      None
    }

  val failures = ArrayBuffer.empty[String]
}

/** Outcome of one output check, made outside the timed interval. */
final case class Check(name: String, ok: Boolean, detail: String = "")

trait Workload {
  def name: String

  /** Typical warm-pass time on four cores, which sets how many passes a
    * run of given length makes. */
  def nominalPassS: Double

  /** Generate this workload's inputs from the seed into `ctx.inputs`.
    * Timed as part of set-up. */
  def generate(ctx: Ctx): Unit

  /** Raw bytes (8 per number, UTF-8 length per string, 2 per uint16
    * pixel) of the data one pass consumes. */
  def inputBytes(ctx: Ctx): Long

  /** One pass: the workload's fixed list of operations. */
  def pass(ctx: Ctx, p: Int): Unit

  /** Bytes and files pass `p` left on disk, counted outside the timed
    * interval. */
  def stored(ctx: Ctx, p: Int): (Long, Long)

  /** Called before the next pass starts: free what pass `p` left that the
    * output checks do not need. */
  def release(ctx: Ctx, p: Int): Unit = ()

  /** Output checks after the measured loop. */
  def checks(ctx: Ctx, lastPass: Int): Seq[Check]

  /** Per-layer values this workload adds beyond the span timings. */
  def layerExtras(ctx: Ctx, passes: Seq[Int]): Map[String, Double] = Map.empty
}

/** Its parts one after the other on one session, as one workload. */
final class Sequence(val name: String, parts: Workload*) extends Workload {
  def nominalPassS: Double = parts.map(_.nominalPassS).sum
  def generate(ctx: Ctx): Unit = parts.foreach(_.generate(ctx))
  def inputBytes(ctx: Ctx): Long = parts.map(_.inputBytes(ctx)).sum
  def pass(ctx: Ctx, p: Int): Unit = parts.foreach(_.pass(ctx, p))
  def stored(ctx: Ctx, p: Int): (Long, Long) = parts.map(_.stored(ctx, p))
    .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
  override def release(ctx: Ctx, p: Int): Unit = parts.foreach(_.release(ctx, p))
  def checks(ctx: Ctx, last: Int): Seq[Check] = parts.flatMap(_.checks(ctx, last))
  override def layerExtras(ctx: Ctx, passes: Seq[Int]): Map[String, Double] =
    parts.flatMap(_.layerExtras(ctx, passes)).toMap
}

object Files {
  /** (bytes, regular files) under `f`. */
  def usage(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(usage)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def delete(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }
}

object Frames {
  /** Run every operator of `df` through the noop sink. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Raw bytes of a frame's rows: 8 per number or timestamp, UTF-8 length
    * per string, 4 per float array element. */
  def rawBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.types._
    val parts = df.schema.fields.map { f =>
      f.dataType match {
        case StringType => coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case ArrayType(FloatType, _) => coalesce(size(col(f.name)).cast("long") * 4, lit(0L))
        case IntegerType => lit(4L)
        case _ => lit(8L)
      }
    }
    val total = df.select(parts.reduce(_ + _).as("b")).agg(sum(col("b"))).head()
    if (total.isNullAt(0)) 0L else total.getLong(0)
  }
}
