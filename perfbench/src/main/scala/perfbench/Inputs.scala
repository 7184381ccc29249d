package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{NDArray, PixelType}
import graft.image.BioImage
import graft.plugins.{BioReader, SceneMeta}
import graft.readers.ArrayLikeReader
import graft.writers.{OmeTiffWriter, TiffOptions}
import graft.formats.TiffFormat

/** Seeded input generation. Every value is a hash of (seed, salt, row id),
  * so the same seed gives the same tables however Spark partitions the
  * work; the engine only ever sees the files written here.
  *
  * The tables follow the schemas of the star-schema tables the engine's
  * queries are written against (orders, lineitem, events, documents), at
  * a size set by `orders` rows; foreign keys range over the
  * customer, supplier and part key spaces of the same size.
  */
object Inputs {
  final case class Sizes(orders: Long, documents: Long) {
    def customers: Long = orders / 10
    def suppliers: Long = math.max(10L, orders / 150)
    def parts: Long = orders * 2 / 15
    def lineitems: Long = orders * 4
    def events: Long = orders * 2 / 3
  }

  /** Uniform integer in [0, n) from (seed, salt, extra columns). */
  private def u(seed: Long, salt: Int, n: Long, on: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: on): _*), lit(n))
  private def pick(seed: Long, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, salt, xs.size, col("id")) + 1).cast("int"))
  private def day(seed: Long, salt: Int, from: String, days: Int): Column =
    date_add(to_date(lit(from)), u(seed, salt, days, col("id")).cast("int"))
      .cast("timestamp_ntz")

  val Vocab: Seq[String] = Seq("a", "the", "spark", "table", "query", "scan",
    "join", "filter", "group", "agg", "sort", "hash", "key", "value", "row",
    "column", "data", "stream", "batch", "window", "order", "part", "line",
    "customer", "vector", "fast", "slow", "big", "small", "merge", "index")

  def tables(spark: SparkSession, seed: Long, z: Sizes): Map[String, DataFrame] = {
    def ids(n: Long) = spark.range(n)
    def idc(salt: Int, n: Long) = u(seed, salt, n, col("id"))
    val orders = ids(z.orders).select(col("id").as("o_orderkey"),
      idc(11, z.customers).as("o_custkey"),
      pick(seed, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      (idc(13, 49000000) / 100.0 + 1000.0).as("o_totalprice"),
      day(seed, 14, "1995-01-01", 2404).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = ids(z.lineitems).select(
      idc(16, z.orders).as("l_orderkey"),
      idc(17, z.parts).as("l_partkey"),
      idc(18, z.suppliers).as("l_suppkey"),
      (idc(19, 7) + 1).cast("int").as("l_linenumber"),
      (idc(20, 50) + 1).cast("double").as("l_quantity"),
      (idc(21, 10409606) / 100.0 + 901.82).as("l_extendedprice"),
      (idc(22, 11) / 100.0).as("l_discount"),
      (idc(23, 9) / 100.0).as("l_tax"),
      pick(seed, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 25, Seq("O", "F")).as("l_linestatus"),
      day(seed, 26, "1995-01-02", 2498).as("l_shipdate"))
    val events = ids(z.events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + idc(27, 2592000000000L))
        .cast("timestamp_ntz").as("ts"),
      idc(28, 150).as("user_id"),
      pick(seed, 29, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      (idc(30, 49001) / 100.0 + 0.01).as("value"),
      format_string("{\"k\": %d}", idc(31, 100)).as("props"))
    // documents: one in five copies an earlier document's word sequence
    // with about one word in eight replaced, so near-duplicate clusters
    // exist for the dedup operators to find
    val vocab = array(Vocab.map(lit): _*)
    val nv = Vocab.size.toLong
    val isDup = col("id") >= 10 && idc(32, 5) === 0
    val base = when(isDup, greatest(lit(0L), col("id") - 1 - idc(33, 40)))
      .otherwise(col("id"))
    def word(h: Column): Column = element_at(vocab, (h + 1).cast("int"))
    val documents = ids(z.documents)
      .withColumn("base", base)
      .withColumn("dup", isDup)
      .withColumn("n", (u(seed, 34, 53, col("base")) + 8).cast("int"))
      .withColumn("text", array_join(transform(sequence(lit(0), col("n") - 1), i =>
        when(col("dup") && u(seed, 35, 8, col("id"), i) === 0,
          word(u(seed, 36, nv, col("id"), i)))
          .otherwise(word(u(seed, 37, nv, col("base"), i)))), " "))
      .select(col("id").as("doc_id"), col("text"),
        pick(seed, 38, Seq("en", "de", "fr", "es", "zh")).as("lang"),
        concat(lit("src"), idc(39, 20)).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    Map("orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents)
  }

  /** Write the named tables as single-file parquet under `dir`, the layout
    * the engine's table loaders read (`<dir>/<name>.parquet`). */
  def writeTables(spark: SparkSession, seed: Long, z: Sizes, dir: String,
      names: Seq[String]): Unit = {
    val all = tables(spark, seed, z)
    names.foreach(n => all(n).coalesce(1).write.parquet(s"$dir/$n.parquet"))
  }

  /** Shape of the synthetic image: one scene, C channels, Z planes of Y×X. */
  final case class ImageShape(c: Int, z: Int, y: Int, x: Int) {
    def pixels: Long = c.toLong * z * y * x
  }

  /** Seeded 12-bit pixel data, CZYX row-major: a smooth gradient (so the
    * codecs see realistic redundancy) plus seeded noise. */
  def pixels(seed: Long, s: ImageShape): Array[Double] = {
    val rnd = new java.util.SplittableRandom(seed)
    val out = new Array[Double](s.pixels.toInt)
    var i = 0
    for (c <- 0 until s.c; z <- 0 until s.z; y <- 0 until s.y; x <- 0 until s.x) {
      out(i) = ((x * 3 + y * 5 + z * 37 + c * 997) % 3072 + rnd.nextInt(1024)).toDouble
      i += 1
    }
    out
  }

  /** A uint16 view of an in-memory array, so the engine's OME-TIFF writer
    * emits 16-bit samples as microscopes do. */
  private final class UInt16Source(inner: ArrayLikeReader) extends BioReader {
    override def name: String = "perfbench-uint16"
    override def supportedExtensions: Seq[String] = Seq.empty
    override def isSupportedImage(spark: SparkSession, path: String): Boolean = false
    override def scenes: Seq[String] = inner.scenes
    override def sceneMeta(i: Int): SceneMeta =
      inner.sceneMeta(i).copy(pixelType = PixelType.UInt16)
    override def readDelayed(spark: SparkSession, i: Int): DataFrame =
      inner.readDelayed(spark, i)
    override def localPlaneRows(i: Int, level: Int): Seq[graft.core.PlaneRow] =
      inner.localPlaneRows(i, level)
  }

  /** Write the seeded image as a Deflate-compressed OME-TIFF. */
  def writeOmeTiff(spark: SparkSession, px: Array[Double], s: ImageShape,
      path: String): Unit = {
    val reader = new UInt16Source(ArrayLikeReader(
      NDArray(Seq(s.c, s.z, s.y, s.x), px), Some("CZYX"),
      Some((0 until s.c).map(c => s"ch$c"))))
    OmeTiffWriter.save(new BioImage(spark, reader), path, None,
      TiffOptions(compression = TiffFormat.CompressionDeflate))
  }
}
