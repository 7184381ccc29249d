package perfbench

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The write path of the `sources` lake through a `GraftLakeCatalog`:
  * per pass a CTAS, single-slice INSERT commits, DELETE/UPDATE/MERGE, three
  * reads and a `Trigger.AvailableNow` file stream into a lake table. The
  * data is small, so per-commit fixed cost dominates; no pixels are
  * decoded.
  *
  * `orders` is split into 100 slices by `o_orderkey % 100`: the CTAS takes
  * slices 0-9, the INSERTs take `inserts` of the other slices in a seeded
  * order, and the MERGE source is one inserted and one new slice with
  * doubled prices. `events` is split into `streamFiles` files by a seeded
  * hash, one file per trigger. */
final class LakeCommits(sizes: Inputs.Sizes, inserts: Int, streamFiles: Int)
    extends Workload {
  val name = "lake_commits"
  val nominalPassS = 5.5
  private val ctasSlices = 0 until 10
  private var insertSlices: Seq[Int] = Nil
  private var mergeSlices: Seq[Int] = Nil
  private var lookupKey = 0L
  private var catalog = ""
  private var root = ""
  private def table(p: Int) = s"$catalog.t$p"
  private def stream(p: Int) = s"$catalog.s$p"
  private def ingest(ctx: Ctx) = s"${ctx.inputs}/events_in"

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Inputs.writeTables(spark, ctx.seed, sizes, ctx.inputs, Seq("orders"))
    val ev = Inputs.tables(spark, ctx.seed, sizes)("events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        pmod(xxhash64(lit(ctx.seed), lit(60), col("event_id")), lit(streamFiles)).as("f"))
    // one parquet file per trigger, all in one directory
    val staged = s"${ctx.inputs}/events_staged"
    ev.repartition(streamFiles, col("f")).write.partitionBy("f").parquet(staged)
    new File(ingest(ctx)).mkdirs()
    (0 until streamFiles).foreach { f =>
      val parts = new File(s"$staged/f=$f").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"events file $f staged as ${parts.length} files")
      parts.head.renameTo(new File(f"${ingest(ctx)}/part-$f%03d.parquet"))
    }
    Files.delete(new File(staged))
    val rnd = new scala.util.Random(ctx.seed)
    val order = rnd.shuffle((10 until 100).toList)
    insertSlices = order.take(inserts)
    mergeSlices = Seq(insertSlices.head, order(inserts))
    lookupKey = ctasSlices(rnd.nextInt(ctasSlices.size)) + 100L * rnd.nextInt(
      (sizes.orders / 100).toInt)
  }

  private def source(ctx: Ctx) = ctx.spark.read.parquet(s"${ctx.inputs}/orders.parquet")

  def inputBytes(ctx: Ctx): Long = {
    val slices = ctasSlices ++ insertSlices ++ mergeSlices
    Frames.rawBytes(source(ctx).filter(col("o_orderkey") % 100 isin (slices: _*))) +
      Frames.rawBytes(ctx.spark.read.parquet(ingest(ctx)))
  }

  /** Register the run's catalog (its own name and root) and the views the
    * SQL reads. Called once per session. */
  private def open(ctx: Ctx, name: String): Unit = {
    catalog = name
    root = s"${ctx.out}/lake"
    ctx.spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftLakeCatalog")
    ctx.spark.conf.set(s"spark.sql.catalog.$name.root", root)
    source(ctx).createOrReplaceTempView("perfbench_orders")
    source(ctx).filter(col("o_orderkey") % 100 isin (mergeSlices: _*))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("perfbench_merge_src")
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    import ctx.op
    val spark = ctx.spark
    if (p == 0) open(ctx, s"perfbench_lake_${ctx.seed}_${ProcessHandle.current().pid()}")
    val t = table(p)
    op("sources.ctas")(spark.sql(s"CREATE TABLE $t AS SELECT * FROM perfbench_orders " +
      s"WHERE o_orderkey % 100 < ${ctasSlices.size}"))
    insertSlices.foreach { s =>
      op("sources.commit")(spark.sql(
        s"INSERT INTO $t SELECT * FROM perfbench_orders WHERE o_orderkey % 100 = $s"))
    }
    op("sources.rowlevel")(spark.sql(
      s"DELETE FROM $t WHERE o_orderstatus = 'P' AND o_orderkey % 3 = 0"))
    op("sources.rowlevel")(spark.sql(
      s"UPDATE $t SET o_totalprice = o_totalprice + 1.5 WHERE o_orderkey % 7 = 1"))
    op("sources.rowlevel")(spark.sql(
      s"""MERGE INTO $t AS t USING perfbench_merge_src AS s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    val agg = "count(*), sum(o_orderkey), sum(o_totalprice)"
    op("sources.read")(spark.sql(s"SELECT $agg FROM $t").collect())
    op("sources.read")(spark.sql(s"SELECT $agg FROM $t VERSION AS OF 1").collect())
    op("sources.read")(spark.sql(s"SELECT * FROM $t WHERE o_orderkey = $lookupKey").collect())
    op("sources.create")(spark.sql(
      s"CREATE TABLE ${stream(p)} (event_id BIGINT, user_id BIGINT, " +
        "event_type STRING, value DOUBLE)"))
    op("streaming.available_now") {
      val schema = spark.read.parquet(ingest(ctx)).schema
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(ingest(ctx))
        .writeStream.option("checkpointLocation", s"${ctx.passDir(p)}/ckpt")
        .trigger(Trigger.AvailableNow())
        .toTable(stream(p))
      q.awaitTermination()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches == streamFiles, s"$batches triggers for $streamFiles files")
    }
  }

  def stored(ctx: Ctx, p: Int): (Long, Long) = {
    val (b1, f1) = Files.usage(new File(s"$root/t$p"))
    val (b2, f2) = Files.usage(new File(s"$root/s$p"))
    (b1 + b2, f1 + f2)
  }

  /** Commits one pass makes to its main table: CTAS, INSERTs, DML. */
  private def commits = 1 + inserts + 3

  override def layerExtras(ctx: Ctx, passes: Seq[Int]): Map[String, Double] = {
    val per = passes.map { p =>
      val (_, files) = Files.usage(new File(s"$root/t$p"))
      val (mBytes, _) = Files.usage(new File(s"$root/t$p/_manifest"))
      (files.toDouble / commits, mBytes.toDouble / commits)
    }
    if (per.isEmpty) Map.empty
    else Map("sources.files_per_commit" -> Stats.median(per.map(_._1)),
      "sources.manifest_bytes_per_commit" -> Stats.median(per.map(_._2)))
  }

  /** (count, key sum, price sum) after each commit of a pass, from the
    * same DML applied to plain rows. */
  private def expected(ctx: Ctx): Seq[(Long, Long, Double)] = {
    final case class O(key: Long, status: String, price: Double)
    val rows = source(ctx).select("o_orderkey", "o_orderstatus", "o_totalprice")
      .collect().map(r => O(r.getLong(0), r.getString(1), r.getDouble(2)))
    def slice(s: Int) = rows.filter(_.key % 100 == s)
    var t: Vector[O] = rows.filter(_.key % 100 < ctasSlices.size).toVector
    val out = Vector.newBuilder[(Long, Long, Double)]
    def snap(): Unit = out += ((t.size.toLong, t.map(_.key).sum, t.map(_.price).sum))
    snap()
    insertSlices.foreach { s => t = t ++ slice(s); snap() }
    t = t.filterNot(o => o.status == "P" && o.key % 3 == 0); snap()
    t = t.map(o => if (o.key % 7 == 1) o.copy(price = o.price + 1.5) else o); snap()
    val m = mergeSlices.flatMap(slice).map(o => o.key -> o.copy(price = o.price * 2)).toMap
    val keys = t.map(_.key).toSet
    t = t.map(o => m.get(o.key).map(s => o.copy(price = s.price)).getOrElse(o)) ++
      m.values.filterNot(o => keys(o.key)).toVector.sortBy(_.key)
    snap()
    out.result()
  }

  def checks(ctx: Ctx, last: Int): Seq[Check] = {
    val spark = ctx.spark
    // a fresh catalog instance over the same root: every acknowledged
    // commit must still be readable
    val fresh = s"${catalog}_fresh"
    spark.conf.set(s"spark.sql.catalog.$fresh", "graft.sources.GraftLakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$fresh.root", root)
    val want = expected(ctx)
    def close(a: (Long, Long, Double), b: (Long, Long, Double)) =
      a._1 == b._1 && a._2 == b._2 && math.abs(a._3 - b._3) <= 1e-6 * math.abs(b._3).max(1.0)
    def fp(tbl: String, v: Option[Int]) =
      s"""SELECT ${v.getOrElse(-1)} AS v, count(*) AS n,
         |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS k,
         |  coalesce(sum(o_totalprice), 0D) AS s
         |FROM $tbl${v.map(x => s" VERSION AS OF $x").getOrElse("")}""".stripMargin
    val versions = spark.sql(s"SELECT version FROM $fresh.t$last.versions ORDER BY version")
      .collect().map(_.get(0).asInstanceOf[Number].intValue).toSeq
    val lastPassVersions = {
      val mine = versions.takeRight(want.size)
      val got = spark.sql(mine.map(v => fp(s"$fresh.t$last", Some(v)))
        .mkString(" UNION ALL ")).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val bad = mine.zip(want).filterNot { case (v, w) => got.get(v).exists(close(_, w)) }
      Check(s"all ${want.size} versions of the last pass match the plain-row DML",
        mine.size == want.size && bad.isEmpty,
        s"versions ${versions.mkString(",")}; mismatched ${bad.map(_._1).mkString(",")}")
    }
    val heads = (0 to last).map { p =>
      val r = spark.sql(fp(s"$fresh.t$p", None)).head()
      val got = (r.getLong(1), r.getLong(2), r.getDouble(3))
      Check(s"head of pass $p table matches", close(got, want.last), s"$got vs ${want.last}")
    }
    val ev = spark.read.parquet(ingest(ctx))
      .agg(count(lit(1)), sum(col("event_id"))).head()
    val streams = (0 to last).map { p =>
      val r = spark.sql(s"SELECT count(*), sum(event_id) FROM $fresh.s$p").head()
      Check(s"stream table of pass $p holds every event",
        r.getLong(0) == ev.getLong(0) && r.getLong(1) == ev.getLong(1),
        s"${r.getLong(0)} rows, expected ${ev.getLong(0)}")
    }
    Check("CTAS is version 1", versions.headOption.exists(_ <= 1) &&
      versions.contains(1), versions.mkString(",")) +: lastPassVersions +:
      (heads ++ streams)
  }
}
