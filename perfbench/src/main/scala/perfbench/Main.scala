package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as Python's statistics module does for
    * the inclusive method. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }

  /** The slowest value that still has ten samples above it: the highest
    * percentile with at least ten samples beyond it, as (percentile,
    * value); None below twenty samples, where it would not lie above the
    * median. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else Some((100.0 * (xs.size - 11) / (xs.size - 1)).toInt -> xs.sorted.apply(xs.size - 11))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** One benchmark run: set up several times, one cold pass, measured warm
  * passes for about the given seconds, output checks, then metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --root <dir> --result <file> --cores <n>
  *
  * With --trace 1 every second measured pass collects listener counts; the
  * others do not, so the run measures its own tracing overhead. */
object Main {
  val Setups = 3
  /** Fewest measured passes: each operation type then has three samples
    * or more, so the tail statistic (the 11th slowest operation) falls
    * among the slow types of a pass. */
  val MinMeasuredPasses = 3

  /** The metrics of each mode, with units, in print order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "first_pass_s" -> "s", "pass_s" -> "s", "input_mb_per_s" -> "MB/s",
    "op_p50_s" -> "s", "op_tail_s" -> "s", "stored_bytes_per_input_byte" -> "ratio")

  /** Per-layer metrics; a `<span name>_s` metric is the median self time
    * of the spans of that name. */
  val PerLayer: Seq[(String, String)] = Seq(
    "plugins.open_s" -> "s",
    "readers.tiff_decode_s" -> "s", "readers.tiff_decode_mpx_per_s" -> "Mpx/s",
    "readers.zarr_decode_s" -> "s", "readers.store_read_s" -> "s",
    "core.pool_half_s" -> "s", "core.pool_half_mpx_per_s" -> "Mpx/s",
    "writers.store_save_s" -> "s", "writers.zarr_save_s" -> "s",
    "writers.ometiff_save_s" -> "s", "writers.bytes_written" -> "B",
    "writers.files_written" -> "count",
    "image.get_image_data_s" -> "s", "image.pixels_in_range_s" -> "s",
    "sources.ctas_s" -> "s", "sources.commit_s" -> "s",
    "sources.commit_tail_s" -> "s", "sources.rowlevel_s" -> "s",
    "sources.read_s" -> "s", "sources.files_per_commit" -> "count",
    "sources.manifest_bytes_per_commit" -> "B",
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.bookkeeping_s" -> "s", "streaming.triggers" -> "count") ++
    AnalyticsMix.keys.map(k => s"ops.${k}_s" -> "s") ++ Seq(
    "session.planning_s" -> "s", "session.jobs" -> "count",
    "session.stages" -> "count", "session.tasks" -> "count",
    "session.task_busy_s" -> "s", "session.core_utilization" -> "ratio",
    "session.shuffle_write_bytes" -> "B", "session.shuffle_read_bytes" -> "B",
    "session.spill_bytes" -> "B", "session.gc_s" -> "s",
    "session.tmp_files_left" -> "count",
    "trace.pass_s" -> "s", "trace.overhead_s" -> "s",
    "trace.top_self_s" -> "s", "trace.unattributed_s" -> "s")

  /** Measured passes of a run: a fixed count per workload and --seconds,
    * from the workload's nominal warm-pass time, so that a run measures
    * for about --seconds and every run's statistics cover the same number
    * of samples. Traced runs add one pass, to alternate traced and
    * untraced passes. */
  def measuredPasses(w: Workload, seconds: Double, traced: Boolean): Int =
    math.max(MinMeasuredPasses, math.round(seconds / w.nominalPassS).toInt) +
      (if (traced) 1 else 0)

  /** Measured passes alternate untraced and traced, starting untraced. */
  def isTraced(traced: Boolean, p: Int): Boolean = traced && p > 0 && p % 2 == 0

  def workload(name: String): Workload = name match {
    case "image_ingest" => new ImageIngest(Inputs.ImageShape(c = 2, z = 4, y = 272, x = 272))
    case "lake_analytics" => new Sequence(name,
      new LakeCommits(Inputs.Sizes(orders = 15000, documents = 0),
        inserts = 20, streamFiles = 2),
      new AnalyticsMix(Inputs.Sizes(orders = 1500, documents = 500)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def session(cores: Int, root: String): SparkSession = {
    val s = GraftSession.builder("perfbench").master(s"local[$cores]")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workload(opts("workload"))
    val seed = opts("seed").toLong
    val traced = opts("trace") == "1"
    val root = opts("root")
    val cores = opts("cores").toInt
    val tmpDir = new File(sys.env.getOrElse("TMPDIR", "/tmp"))
    def graftTmp(): Set[String] = Option(tmpDir.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("graft")).toSet
    val tmpBefore = graftTmp()
    val phase = ArrayBuffer.empty[(String, Double)]
    var mark = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime()
      phase += name -> (now - mark) / 1e9
      mark = now
    }

    // set-up: session start plus input generation, several times
    var spark: SparkSession = null
    val setupTimes = (0 until Setups).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, root)
      w.generate(new Ctx(spark, new Recorder, seed, s"$root/inputs-$k", s"$root/out"))
      val dt = (System.nanoTime() - t0) / 1e9
      if (k > 0) Files.delete(new File(s"$root/inputs-${k - 1}"))
      dt
    }
    lap("set-up")
    val rec = new Recorder
    val ctx = new Ctx(spark, rec, seed, s"$root/inputs-${Setups - 1}", s"$root/out")
    val inputBytes = w.inputBytes(ctx)
    val probe = new Probe(rec)
    if (traced) probe.register(spark)

    // one cold pass, then the measured passes; each pass's stored bytes
    // are counted outside its span
    val stored = ArrayBuffer.empty[(Long, Long)]
    val last = measuredPasses(w, opts("seconds").toDouble, traced)
    (0 to last).foreach { p =>
      if (p > 0) w.release(ctx, p - 1)
      rec.tracing = isTraced(traced, p)
      rec.span("pass", p)(w.pass(ctx, p))
      if (rec.tracing) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      rec.tracing = false
      stored += w.stored(ctx, p)
    }
    lap("passes")
    val checks = try w.checks(ctx, last)
      catch { case e: Exception => Seq(Check("checks ran", ok = false, e.toString)) }
    lap("checks")

    val passes = rec.passes
    val measured = passes.filter(_.pass > 0)
    val untraced = measured.filterNot(_.traced)
    val tracedPasses = measured.filter(_.traced)
    val opTimes = untraced.flatMap(rec.children).map(rec.durS)
    val tail = Stats.tail(opTimes)
    val passS = Stats.median(untraced.map(rec.durS))
    val e2e = Map(
      "setup_s" -> Stats.median(setupTimes),
      "first_pass_s" -> rec.durS(passes.head),
      "pass_s" -> passS,
      "input_mb_per_s" -> inputBytes / 1e6 / passS,
      "op_p50_s" -> Stats.median(opTimes),
      "op_tail_s" -> tail.map(_._2).getOrElse(Stats.quantile(opTimes, 0.9)),
      "stored_bytes_per_input_byte" -> stored.last._1.toDouble / inputBytes)
    val layer = perLayer(w, ctx, rec, probe, if (traced) tracedPasses else untraced,
      stored.last, inputBytes, cores) ++
      (if (traced && tracedPasses.nonEmpty) {
        val tracedPassS = Stats.median(tracedPasses.map(rec.durS))
        Map("trace.pass_s" -> tracedPassS,
          "trace.overhead_s" -> (tracedPassS - passS),
          "trace.top_self_s" ->
            Stats.median(tracedPasses.map(s => rec.within(s).map(rec.selfS).sum)),
          "trace.unattributed_s" -> Stats.median(tracedPasses.map(rec.selfS)))
      } else Map.empty)

    spark.stop()
    val tmpLeft = (graftTmp() -- tmpBefore).size +
      Option(new File(System.getProperty("java.io.tmpdir")).list()).getOrElse(Array.empty[String])
        .count(_.startsWith("graft"))
    lap("metrics and stop")

    // ---- report
    val failures = ctx.failures.toSeq
    val attempted = passes.map(p => rec.children(p).size).sum + checks.size
    val failed = failures.size + checks.count(!_.ok)
    val untracedTimes = untraced.map(rec.durS)
    val lines = ArrayBuffer(
      f"workload ${w.name}: seed $seed, ${measured.size} measured passes " +
        f"(${untraced.size} untraced) after 1 cold pass, $cores cores, " +
        f"${inputBytes / 1e6}%.3f MB raw input per pass",
      f"pass_s quartiles: ${Stats.quantile(untracedTimes, 0.25)}%.4f $passS%.4f " +
        f"${Stats.quantile(untracedTimes, 0.75)}%.4f over ${untraced.size} passes",
      passes.map(s => f"${rec.durS(s)}%.3f").mkString("all passes, cold first (s): ", " ", ""),
      phase.map { case (k, v) => f"$k $v%.1f s" }.mkString("run phases: ", ", ", "") +
        setupTimes.map(t => f"$t%.2f").mkString(" (set-ups ", ", ", " s)"),
      untraced.flatMap(rec.children).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ss) => f"$n ${Stats.median(ss.map(rec.durS))}%.3f" }
        .mkString("measured operation medians (s): ", ", ", ""),
      tail match {
        case Some((pct, v)) =>
          f"op_tail_s is p$pct = $v%.4f s, the 11th slowest of ${opTimes.size} operations"
        case None =>
          f"op_tail_s is p90 = ${e2e("op_tail_s")}%.4f s over only ${opTimes.size} operations"
      },
      f"fail_ratio ${failed.toDouble / math.max(1, attempted)}%.4f " +
        s"($failed of $attempted operations and output checks)")
    failures.foreach(f => lines += s"FAILED operation $f")
    checks.foreach(c => lines += s"${if (c.ok) "ok" else "FAILED"} check ${c.name}" +
      (if (c.detail.nonEmpty) s" (${c.detail})" else ""))
    val values = e2e ++ layer + ("session.tmp_files_left" -> tmpLeft.toDouble)
    val metrics = (if (traced) PerLayer else EndToEnd).map { case (k, u) =>
      (k, values.getOrElse(k, 0.0), u)
    }
    metrics.foreach { case (k, v, u) => lines += f"metric $k%-36s $v%16.6f $u" }

    val spanJson = rec.spans.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""pass":${s.pass},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"traced":${s.traced}}""")
    val oracle = new File(s"$root/out/oracle")
    val result =
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": ${metrics.map { case (k, v, u) =>
          s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
        }.mkString("{", ", ", "}")}, """ +
        s""""report": ${lines.map(Json.str).mkString("[", ", ", "]")}, """ +
        s""""inputs": ${Json.str(ctx.inputs)}, """ +
        (if (oracle.isDirectory) s""""oracle": ${Json.str(oracle.getPath)}, """ else "") +
        s""""spans": ${spanJson.mkString("[", ", ", "]")}}"""
    java.nio.file.Files.write(new File(opts("result")).toPath,
      result.getBytes(StandardCharsets.UTF_8))
  }

  /** Per-layer values from the given passes' spans (self times), the
    * workload's own extras and, in traced passes, the listener counts. */
  private def perLayer(w: Workload, ctx: Ctx, rec: Recorder, probe: Probe,
      passes: Seq[Span], stored: (Long, Long), inputBytes: Long,
      cores: Int): Map[String, Double] = {
    val spans = passes.flatMap(rec.within)
    def med(name: String) = Stats.median(spans.filter(_.name == name).map(rec.selfS))
    val out = scala.collection.mutable.Map.empty[String, Double]
    spans.map(_.name).distinct.foreach(n => out(s"${n}_s") = med(n))
    w match {
      case _: ImageIngest =>
        val mpx = inputBytes / 2 / 1e6 // uint16 source
        out("readers.tiff_decode_mpx_per_s") = mpx / out("readers.tiff_decode_s")
        out("core.pool_half_mpx_per_s") = mpx / out("core.pool_half_s")
        out("writers.bytes_written") = stored._1.toDouble
        out("writers.files_written") = stored._2.toDouble
      case _ =>
    }
    val commits = spans.filter(_.name == "sources.commit").map(rec.durS)
    if (commits.nonEmpty)
      out("sources.commit_tail_s") = Stats.tail(commits).map(_._2)
        .getOrElse(Stats.quantile(commits, 0.9))
    out ++= w.layerExtras(ctx, passes.map(_.pass))

    val traced = passes.filter(_.traced)
    if (traced.nonEmpty) {
      val byspan = probe.bySpan()
      def sumOver(ss: Seq[Span], k: String) =
        ss.map(s => byspan.get(s.id).flatMap(_.get(k)).getOrElse(0.0)).sum
      def perPass(k: String) = traced.map(p => sumOver(p +: rec.within(p), k)).sum / traced.size
      Seq("planning_s", "jobs", "stages", "tasks", "task_busy_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "gc_s").foreach(k => out(s"session.$k") = perPass(k))
      out("session.core_utilization") =
        perPass("task_busy_s") / (Stats.median(traced.map(rec.durS)) * cores)
      val streams = spans.filter(s => s.name == "streaming.available_now" && s.traced)
      val triggers = sumOver(streams, "triggers")
      if (streams.nonEmpty && triggers > 0) {
        out("streaming.triggers") = triggers / streams.size
        out("streaming.trigger_s") = sumOver(streams, "trigger_s") / triggers
        out("streaming.add_batch_s") = sumOver(streams, "add_batch_s") / triggers
        out("streaming.bookkeeping_s") =
          (sumOver(streams, "trigger_s") - sumOver(streams, "add_batch_s")) / triggers
      }
    }
    out.toMap
  }
}
