package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

/** One row per 2D Y×X plane — the engine's canonical distributed image
  * representation (SURVEY.md §1.5). A 5D–7D TCZYX[+M][+S] scene becomes a
  * long-form table keyed by (scene_idx, level, m, t, c, z, s); the plane
  * payload is a row-major Array[Double].
  *
  * Scale design: planes parquet is partitioned by (scene_idx, level) and
  * sorted by (t, c, z) so scene/level selection is partition pruning and
  * T/C/Z selection is row-group pruning; Y/X slicing operates on the array
  * payload inside codegen without touching other planes.
  */
final case class PlaneRow(
    scene_idx: Int,
    scene_id: String,
    level: Int,
    m: Int, // mosaic tile index (0 when non-mosaic)
    t: Int,
    c: Int,
    z: Int,
    s: Int, // sample index (0 when no S dim)
    y0: Int, // mosaic tile top offset in stitched space
    x0: Int, // mosaic tile left offset in stitched space
    h: Int,
    w: Int,
    pixels: Array[Double])

object Plane {
  /** Long-form pixel view of a plane table: one row per pixel with LOCAL
    * (per-tile) y/x coordinates. `keep` passes extra input columns (e.g.
    * the store's px_min/px_max stats) through the explode. */
  def pixels(planes: DataFrame, keep: Seq[String] = Seq.empty): DataFrame =
    planes.select(Seq(col("scene_idx"), col("level"), col("m"), col("t"),
        col("c"), col("z"), col("s"), col("w"), col("y0"), col("x0")) ++
        keep.map(col) :+
        posexplode(col("pixels")).as(Seq("pos", "v")): _*)
      .withColumn("y", (col("pos") / col("w")).cast("int"))
      .withColumn("x", pmod(col("pos"), col("w")).cast("int"))
      .drop("pos", "w")

  /** Pixel view in STITCHED mosaic space (y/x shifted by tile offsets). */
  def stitchedPixels(planes: DataFrame, keep: Seq[String] = Seq.empty): DataFrame =
    pixels(planes, keep)
      .withColumn("y", col("y") + col("y0"))
      .withColumn("x", col("x") + col("x0"))
      .drop("y0", "x0")

  /** The plane table's columns ([[PlaneRow]]) and, among them, the ones a
    * pyramid level changes. */
  private val Columns = Seq("scene_idx", "scene_id", "level", "m", "t", "c",
    "z", "s", "y0", "x0", "h", "w", "pixels")
  private val Geometry = Seq("level", "y0", "x0", "h", "w", "pixels")

  /** The plane columns, geometry taken from `geometry` (by name). */
  private def planeColumns(geometry: Map[String, Column]): Seq[Column] =
    Columns.map(n => geometry.getOrElse(n, col(n)).as(n))

  /** Next-level geometry of the plane whose level/y0/x0/h/w/pixels live in
    * the columns `g` (in [[Geometry]] order): level + 1, halved offsets,
    * ceil-halved extents and the [[graft.functions.PoolHalf]] payload. */
  private def halfGeometry(g: Seq[String]): Seq[Column] = {
    val Seq(level, y0, x0, h, w, pixels) = g
    Seq(s"$level + 1", s"$y0 div 2", s"$x0 div 2", s"($h + 1) div 2",
      s"($w + 1) div 2").map(e => expr(e).cast("int")) :+
      graft.functions.PoolHalf(col(pixels), col(h), col(w))
  }

  /** 2× mean-pool of a plane table (the pyramid step shared by the
    * parquet plane store and the zarr writer): each (t,c,z,s,m) plane
    * pools independently inside its own row through [[meanPool2x]]; edge
    * blocks average the pixels that exist (ceil semantics); tile offsets
    * halve with the geometry (`y0 div 2`); the level column increments.
    * A plane with a null or empty payload yields no row. One projection,
    * no shuffle. */
  def poolHalf(planes: DataFrame): DataFrame =
    planes.filter(size(col("pixels")) > 0)
      .select(planeColumns(Geometry.zip(halfGeometry(Geometry)).toMap): _*)

  /** Levels 0 until `levels` of every plane row from ONE scan of `planes`
    * (level k = `poolHalf` applied k times): each level is computed from
    * the previous one in its own projected column, then the levels are
    * exploded into rows. Planes with a null or empty payload keep only
    * level 0, as iterated `poolHalf` would. `levels` = 1 returns `planes`
    * unchanged. */
  def pyramid(planes: DataFrame, levels: Int): DataFrame = {
    require(levels >= 1, s"levels must be >= 1, got $levels")
    if (levels == 1) return planes
    val names = (0 until levels).map(k =>
      if (k == 0) Geometry else Geometry.map(g => s"_l${k}_$g"))
    val withLevels = (1 until levels).foldLeft(planes) { (df, k) =>
      df.select(col("*") +: halfGeometry(names(k - 1)).zip(names(k)).map {
        case (c, n) => c.as(n) }: _*)
    }
    def level(k: Int): Column =
      struct(names(k).zip(Geometry).map { case (n, g) => col(n).as(g) }: _*)
    withLevels
      .withColumn("_lvl", explode(concat(array(level(0)),
        filter(array((1 until levels).map(level): _*),
          l => l.getField("pixels").isNotNull))))
      .select(planeColumns(Geometry.map(g => g -> col(s"_lvl.$g")).toMap): _*)
  }

  /** The 2× mean-pool kernel behind every pyramid (plane store, Zarr and
    * OME-TIFF): `px` is a row-major h×w plane of `nS` interleaved samples.
    * The result is ceil-halved; each output value is the mean of the
    * pixels of its 2×2 block that exist (edge blocks average fewer) and
    * are present (`present` null = all present). Sums run in row-major
    * block order, so every caller gets the same bits. Returns the output
    * presence (a block without a present pixel is absent) when `present`
    * is given, else null. */
  private def meanPool2x(px: Array[Double], present: Array[Boolean], h: Int,
      w: Int, nS: Int, out: Array[Double]): Array[Boolean] = {
    val (h2, w2) = ((h + 1) / 2, (w + 1) / 2)
    val outPresent =
      if (present == null) null else new Array[Boolean](out.length)
    var o = 0
    var y = 0
    while (y < h2) {
      val yEnd = math.min(y * 2 + 2, h)
      var x = 0
      while (x < w2) {
        val xEnd = math.min(x * 2 + 2, w)
        var si = 0
        while (si < nS) {
          var sum = 0.0
          var cnt = 0
          var yy = y * 2
          while (yy < yEnd) {
            var xx = x * 2
            while (xx < xEnd) {
              val i = (yy * w + xx) * nS + si
              if (present == null || present(i)) {
                sum += px(i)
                cnt += 1
              }
              xx += 1
            }
            yy += 1
          }
          if (cnt > 0) {
            out(o) = sum / cnt
            if (outPresent != null) outPresent(o) = true
          }
          o += 1
          si += 1
        }
        x += 1
      }
      y += 1
    }
    outPresent
  }

  /** [[meanPool2x]] over a dense plane: (pooled, h2, w2). */
  def meanPool2x(px: Array[Double], h: Int, w: Int,
      nS: Int): (Array[Double], Int, Int) = {
    val (h2, w2) = ((h + 1) / 2, (w + 1) / 2)
    val out = new Array[Double](h2 * w2 * nS)
    meanPool2x(px, null, h, w, nS, out)
    (out, h2, w2)
  }

  /** [[meanPool2x]] over one plane payload, the body of
    * [[graft.functions.PoolHalf]]: null elements are skipped the way `avg`
    * skips them, and a block of only nulls pools to null. An empty payload
    * pools to null (no row downstream, as `posexplode` gave none). */
  def meanPool2x(pixels: ArrayData, h: Int, w: Int): ArrayData = {
    val n = pixels.numElements()
    if (n == 0) return null
    require(h > 0 && w > 0 && n.toLong == h.toLong * w,
      s"pool_half: plane has $n pixels, expected ${h}x$w")
    var present: Array[Boolean] = null
    var i = 0
    while (i < n) {
      if (pixels.isNullAt(i)) {
        if (present == null) present = Array.fill(n)(true)
        present(i) = false
      }
      i += 1
    }
    val px =
      if (present == null) pixels.toDoubleArray()
      else Array.tabulate(n)(j => if (present(j)) pixels.getDouble(j) else 0.0)
    val out = new Array[Double](((h + 1) / 2) * ((w + 1) / 2))
    val outPresent = meanPool2x(px, present, h, w, 1, out)
    if (outPresent == null) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(Array.tabulate[Any](out.length)(j =>
      if (outPresent(j)) out(j) else null))
  }
}
