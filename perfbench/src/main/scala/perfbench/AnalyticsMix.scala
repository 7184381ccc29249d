package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import graft.SparkEntry

/** A read-only pass over three inventory keys through the noop sink:
  * relational, LLM-pipeline and graph operators. Catalyst planning,
  * shuffles and the native functions do most of the work; nothing is
  * committed or decoded. The seed sets the data and the key order.
  *
  * Outputs are checked against each key's DuckDB oracle after the run.
  * The cold pass, like a one-shot job, keeps its answers: it writes each
  * key's result as parquet, where measured passes use the noop sink. The
  * checks write the oracle SQL beside them and the launcher compares the
  * two. The keys read `lineitem` and `documents` only, so only those are
  * generated. */
final class AnalyticsMix(sizes: Inputs.Sizes) extends Workload {
  import AnalyticsMix.keys
  val name = "analytics_mix"
  val nominalPassS = 3.0
  private var order: Seq[String] = keys

  val tables: Seq[String] = Seq("lineitem", "documents")
  private def oracleDir(ctx: Ctx) = s"${ctx.out}/oracle"

  def generate(ctx: Ctx): Unit = {
    Inputs.writeTables(ctx.spark, ctx.seed, sizes, ctx.inputs, tables)
    order = new scala.util.Random(ctx.seed).shuffle(keys)
  }

  def inputBytes(ctx: Ctx): Long = tables.map(n =>
    Frames.rawBytes(ctx.spark.read.parquet(s"${ctx.inputs}/$n.parquet"))).sum

  /** A pass only reads. */
  def stored(ctx: Ctx, p: Int): (Long, Long) = (0L, 0L)

  def pass(ctx: Ctx, p: Int): Unit = order.foreach { k =>
    ctx.op(s"ops.$k") {
      val df = SparkEntry.queries(k)(ctx.spark, ctx.inputs)
      if (p == 0) df.coalesce(1).write.parquet(s"${oracleDir(ctx)}/$k")
      else Frames.materialize(df)
    }
    // no key may hand cached state to the next one
    ctx.spark.catalog.clearCache()
  }

  /** Each key's comparison is one check, counted by the launcher. */
  def checks(ctx: Ctx, last: Int): Seq[Check] = {
    val sql = keys.map(k => s"${Json.str(k)}: ${Json.str(SparkEntry.oracleSql(k))}")
      .mkString("{", ", ", "}")
    new File(oracleDir(ctx)).mkdirs()
    java.nio.file.Files.write(new File(s"${oracleDir(ctx)}/oracle_sql.json").toPath,
      sql.getBytes(StandardCharsets.UTF_8))
    Nil
  }
}

object AnalyticsMix {
  /** One key per family: relational, LLM pipeline, graph. */
  val keys: Seq[String] = Seq("q01_pricing_summary", "q40_minhash_lsh", "q76_pagerank")
}
