package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.BioSpark
import graft.core.Plane
import graft.formats.TiffFormat
import graft.image.{BioImage, Sel}
import graft.writers.{OmeTiffWriter, ParquetPlaneStore, TiffOptions, ZarrWriter}

/** The bioio path: open a seeded OME-TIFF, decode it, build a pyramid in
  * the parquet plane store, export Zarr and LZW OME-TIFF, then reopen the
  * store for a Z-slice, a value scan and a Zarr read-back. Codecs, the
  * pool kernel and the image writers do most of the work; the lake and
  * the query operators are not touched. */
final class ImageIngest(shape: Inputs.ImageShape) extends Workload {
  val name = "image_ingest"
  val nominalPassS = 2.5
  private var source: Array[Double] = Array.empty
  private def tiff(ctx: Ctx) = s"${ctx.inputs}/source.ome.tiff"
  private def store(ctx: Ctx, p: Int) = s"${ctx.passDir(p)}/image.graft"
  private def zarr(ctx: Ctx, p: Int) = s"${ctx.passDir(p)}/image.zarr"
  private def exported(ctx: Ctx, p: Int) = s"${ctx.passDir(p)}/export.ome.tiff"
  private val zSlice = shape.z / 2
  // value window of the scan: about a quarter of the pixels fall inside
  private val (lo, hi) = (1000.0, 1800.0)
  private var slice: Option[graft.core.NDArray] = None

  def generate(ctx: Ctx): Unit = {
    source = Inputs.pixels(ctx.seed, shape)
    Inputs.writeOmeTiff(ctx.spark, source, shape, tiff(ctx))
  }

  def inputBytes(ctx: Ctx): Long = shape.pixels * 2

  /** Each open is a child span of the read it starts, so the pass has nine
    * operations and their median falls inside one type. */
  def pass(ctx: Ctx, p: Int): Unit = {
    import ctx.op
    val spark = ctx.spark
    def open(path: String) = ctx.rec.span("plugins.open")(BioSpark.open(spark, path))
    op("readers.tiff_decode") {
      val img = open(tiff(ctx))
      Frames.materialize(img.planes)
      img
    }.foreach { img =>
      op("core.pool_half")(Frames.materialize(Plane.poolHalf(img.planes)))
      op("writers.store_save")(ParquetPlaneStore.save(img, store(ctx, p), levels = 2))
      op("writers.zarr_save")(ZarrWriter.save(img, zarr(ctx, p), None, 1, Some("gzip")))
      op("writers.ometiff_save")(OmeTiffWriter.save(img, exported(ctx, p), None,
        TiffOptions(compression = TiffFormat.CompressionLZW)))
    }
    op("readers.store_read") {
      val st = open(store(ctx, p))
      Frames.materialize(st.planes)
      st
    }.foreach { st =>
      slice = op("image.get_image_data")(
        st.getImageData("CYX", Map('Z' -> Sel.Index(zSlice))).array)
      op("image.pixels_in_range")(Frames.materialize(
        ParquetPlaneStore.pixelsInRange(spark, store(ctx, p), 0, 0, lo, hi)))
    }
    op("readers.zarr_decode")(Frames.materialize(open(zarr(ctx, p)).planes))
  }

  def stored(ctx: Ctx, p: Int): (Long, Long) = Files.usage(new java.io.File(ctx.passDir(p)))

  override def release(ctx: Ctx, p: Int): Unit =
    Files.delete(new java.io.File(ctx.passDir(p)))

  /** Level-`level` planes of an image as a CZYX array. */
  private def collect(img: BioImage, level: Int): Array[Double] = {
    img.setResolutionLevel(level)
    val (h, w) = ((shape.y + (1 << level) - 1) >> level, (shape.x + (1 << level) - 1) >> level)
    val out = Array.fill(shape.c * shape.z * h * w)(Double.NaN)
    img.planes.select(col("c"), col("z"), col("pixels")).collect().foreach {
      case Row(c: Int, z: Int, px: scala.collection.Seq[_]) =>
        val base = (c * shape.z + z) * h * w
        var i = 0
        px.foreach { v => out(base + i) = v.asInstanceOf[Number].doubleValue; i += 1 }
    }
    out
  }

  /** 2× mean pool of the source, each edge block averaging the pixels
    * that exist. */
  private def pooled: Array[Double] = {
    val (h2, w2) = ((shape.y + 1) / 2, (shape.x + 1) / 2)
    val out = new Array[Double](shape.c * shape.z * h2 * w2)
    for (pl <- 0 until shape.c * shape.z; y <- 0 until h2; x <- 0 until w2) {
      var (s, n) = (0.0, 0)
      for (dy <- 0 to 1; dx <- 0 to 1) {
        val (yy, xx) = (2 * y + dy, 2 * x + dx)
        if (yy < shape.y && xx < shape.x) {
          s += source((pl * shape.y + yy) * shape.x + xx); n += 1
        }
      }
      out((pl * h2 + y) * w2 + x) = s / n
    }
    out
  }

  private def same(name: String, got: Array[Double], want: Array[Double],
      tol: Double = 0.0): Check = {
    val bad = if (got.length != want.length) -1
      else got.indices.count(i => !(math.abs(got(i) - want(i)) <= tol))
    Check(name, bad == 0,
      if (bad < 0) s"${got.length} values, expected ${want.length}"
      else s"$bad of ${want.length} values differ")
  }

  def checks(ctx: Ctx, last: Int): Seq[Check] = {
    val spark = ctx.spark
    def open(path: String) = BioSpark.open(spark, path)
    val st = open(store(ctx, last))
    val inRange = source.count(v => v >= lo && v <= hi).toLong
    val want = {
      val plane = shape.y * shape.x
      (0 until shape.c).flatMap(c => source.slice((c * shape.z + zSlice) * plane,
        (c * shape.z + zSlice + 1) * plane)).toArray
    }
    Seq(
      same("store level 0 equals source", collect(st, 0), source),
      same("store level 1 equals 2x mean pool", collect(st, 1), pooled, 1e-9),
      same("zarr equals source", collect(open(zarr(ctx, last)), 0), source),
      same("exported tiff equals source", collect(open(exported(ctx, last)), 0), source),
      slice.map(s => same("z-slice equals source", s.data, want))
        .getOrElse(Check("z-slice equals source", ok = false, "no slice read")),
      {
        val n = ParquetPlaneStore.pixelsInRange(spark, store(ctx, last), 0, 0, lo, hi).count()
        Check("pixelsInRange count", n == inRange, s"$n, expected $inRange")
      })
  }
}
