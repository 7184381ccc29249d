package graft.writers

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dimensions, PixelType}
import graft.image.BioImage
import graft.plugins.{BioReader, PluginEntry, SceneMeta}

/** The engine's canonical interchange format (SURVEY.md §2.1 S16): a
  * directory holding
  *   planes/   parquet, partitioned by (scene_idx, level) → scene/level
  *             selection is pure partition pruning; sorted by (t,c,z)
  *             within partitions for row-group pruning
  *   catalog/  parquet, one row per scene: dims, channel names, pixel
  *             sizes, pixel type, tile positions, per-level pyramid dims
  *
  * This is the OME-TIFF/OME-ZARR role in the reference (save
  * bio_image.py:1229-1301), re-expressed as a Spark-native columnar store.
  * Resolution pyramids (bio_image.py:548-604) are materialized as extra
  * `level` partitions: level l is a 2× mean-pool of level l-1, computed
  * inside each plane row (`Plane.pyramid`: one scan of the source, every
  * level from the one before it, no shuffle).
  */
object ParquetPlaneStore {
  val Extension = ".graft"

  /** Writer contract (Writer.save analog, mock_writer.py:63-75): scene IDs
    * are regenerated ("Image:{i}"), order preserved (bio_image.py:1252-57).
    * Unknown scene ids (and an empty selection) raise, matching the
    * reference save's behavior on invalid scene selection. `levels` > 1
    * materializes a mean-pool pyramid (level l = 2^l downsample). */
  def save(img: BioImage, uri: String, selectScenes: Option[Seq[String]] = None,
      levels: Int = 1): Unit = {
    val spark = img.spark
    val sel = Writers.validateSelection(img, selectScenes)
    require(levels >= 1, s"levels must be >= 1, got $levels")
    val idxs = sel.map(img.scenes.indexOf)
    val level0 = idxs.zipWithIndex.map { case (orig, renum) =>
      val saved = img.currentSceneIndex
      img.setScene(orig)
      val df = img.planes
        .withColumn("scene_idx", lit(renum))
        .withColumn("scene_id", lit(s"Image:$renum"))
      img.setScene(saved)
      df
    }.reduce(_ unionByName _)
    // pyramid: every level from one decode of the source, level l pooled
    // from level l-1 in the same row
    val all = graft.core.Plane.pyramid(level0, levels)
    // Repartition includes (t,c,z) so a single huge scene/level fans out
    // across many writer tasks instead of serializing through one; the
    // directory layout (partitionBy) is unchanged.
    all
      // per-plane value stats: parquet keeps min/max column statistics
      // per row group, so a pixel-VALUE predicate rewritten against
      // px_min/px_max prunes row groups without touching the arrays —
      // the S16 analog of the reference's chunk-level lazy loading
      .withColumn("px_min", array_min(col("pixels")))
      .withColumn("px_max", array_max(col("pixels")))
      .repartition(col("scene_idx"), col("level"), col("t"), col("c"), col("z"))
      .sortWithinPartitions(col("t"), col("c"), col("z"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("scene_idx", "level")
      .parquet(s"$uri/planes")

    import spark.implicits._
    val catalog = idxs.zipWithIndex.map { case (orig, renum) =>
      val saved = img.currentSceneIndex
      img.setScene(orig)
      val m = img.meta
      img.setScene(saved)
      // per-level Y/X via iterated ceil-halving (matches poolHalf edges)
      val hs = Iterator.iterate(m.dims('Y'))(h => (h + 1) / 2)
        .take(levels).toSeq
      val ws = Iterator.iterate(m.dims('X'))(w => (w + 1) / 2)
        .take(levels).toSeq
      CatalogRow(renum, s"Image:$renum", m.dims.order, m.dims.sizes,
        m.channelNames, m.physicalPixelSizes.map(_._1),
        m.physicalPixelSizes.map(_._2), m.physicalPixelSizes.map(_._3),
        m.pixelType.toString, m.tilePositions.map(_._1),
        m.tilePositions.map(_._2),
        levels = (0 until levels).toSeq, level_h = hs, level_w = ws,
        time_interval = m.timeInterval)
    }
    spark.createDataset(catalog).write.mode(SaveMode.Overwrite)
      .parquet(s"$uri/catalog")
  }

  /** Pixel rows of one scene/level with value in [lo, hi], in STITCHED
    * coordinates (tile y0/x0 folded into y/x). The plane-level
    * px_min/px_max bounds are applied explicitly — null-safe, so rows
    * from pre-stats parquet files in a mixed-schema store survive — and
    * the parquet scan answers them from row-group statistics
    * (`PushedFilters`): planes that cannot match are skipped without
    * reading their pixel arrays. (In sessions with GraftExtensions
    * installed, the PushPixelValueFilter rule derives the same bounds for
    * ANY naturally-written explode-then-filter query; this helper carries
    * them itself so it prunes in bare sessions too.) */
  def pixelsInRange(spark: SparkSession, uri: String, sceneIdx: Int,
      level: Int, lo: Double, hi: Double): DataFrame = {
    var df = spark.read.parquet(s"$uri/planes")
      .filter(col("scene_idx") === sceneIdx && col("level") === level)
      .withColumn("scene_idx", col("scene_idx").cast("int"))
      .withColumn("level", col("level").cast("int"))
    if (df.columns.contains("px_max"))
      df = df.filter(
        (col("px_max").isNull || col("px_max") >= lo) &&
          (col("px_min").isNull || col("px_min") <= hi))
    graft.core.Plane.stitchedPixels(df)
      .filter(col("v") >= lo && col("v") <= hi)
  }
}

final case class CatalogRow(
    scene_idx: Int,
    scene_id: String,
    dims_order: String,
    dims_sizes: Seq[Long],
    channel_names: Seq[String],
    pps_z: Option[Double],
    pps_y: Option[Double],
    pps_x: Option[Double],
    pixel_type: String,
    tile_tops: Seq[Int],
    tile_lefts: Seq[Int],
    levels: Seq[Int],
    level_h: Seq[Long],
    level_w: Seq[Long],
    time_interval: Option[Double])

/** Reader side of the plane store — a full BioReader plugin. */
final class ParquetPlaneReader(spark: SparkSession, uri: String) extends BioReader {
  import spark.implicits._

  private lazy val catalog: Seq[CatalogRow] = {
    // tolerant read: stores written before the pyramid/time-interval
    // columns existed fill them with compatible defaults
    var df = spark.read.parquet(s"$uri/catalog")
    def ensure(name: String, default: org.apache.spark.sql.Column): Unit =
      if (!df.columns.contains(name)) df = df.withColumn(name, default)
    ensure("levels", typedLit(Seq(0)))
    ensure("level_h", typedLit(Seq.empty[Long]))
    ensure("level_w", typedLit(Seq.empty[Long]))
    ensure("time_interval", lit(null).cast("double"))
    df.as[CatalogRow].collect().sortBy(_.scene_idx).toSeq
  }

  override def name: String = "ParquetPlaneReader"
  override def supportedExtensions: Seq[String] = Seq(ParquetPlaneStore.Extension)
  override def isSupportedImage(spark: SparkSession, path: String): Boolean =
    try { catalog.nonEmpty } catch { case _: Throwable => false }
  override def scenes: Seq[String] = catalog.map(_.scene_id)

  override def sceneMeta(i: Int): SceneMeta = {
    val c = catalog(i)
    SceneMeta(i, c.scene_id, Dimensions(c.dims_order, c.dims_sizes),
      c.channel_names,
      for { z <- c.pps_z; y <- c.pps_y; x <- c.pps_x } yield (z, y, x),
      PixelType.parse(c.pixel_type), c.tile_tops.zip(c.tile_lefts), None,
      timeInterval = c.time_interval)
  }

  /** Pyramid levels straight from the catalog — no data scan. */
  override def resolutionLevels(sceneIdx: Int): Seq[Int] = {
    val ls = catalog(sceneIdx).levels
    if (ls.isEmpty) Seq(0) else ls
  }

  /** Per-level dims: Y/X from the catalog's pyramid columns, other dims
    * unchanged (bio_image.py:548-604 semantics). */
  override def levelDims(sceneIdx: Int, level: Int): Dimensions = {
    val c = catalog(sceneIdx)
    val li = resolutionLevels(sceneIdx).indexOf(level)
    if (li < 0)
      throw new IndexOutOfBoundsException(s"resolution level $level")
    if (li == 0) Dimensions(c.dims_order, c.dims_sizes)
    else Dimensions(c.dims_order, c.dims_order.zip(c.dims_sizes).map {
      case ('Y', _) => c.level_h(li)
      case ('X', _) => c.level_w(li)
      case (_, s)   => s
    })
  }

  override def readDelayed(spark: SparkSession, sceneIdx: Int): DataFrame =
    readDelayedAtLevel(spark, sceneIdx, 0)

  /** Partition-pruned scan: scene_idx and level are partition columns. */
  override def readDelayedAtLevel(spark: SparkSession, sceneIdx: Int,
      level: Int): DataFrame =
    spark.read.parquet(s"$uri/planes")
      .filter(col("scene_idx") === sceneIdx && col("level") === level)
      .withColumn("scene_idx", col("scene_idx").cast("int"))
      .withColumn("level", col("level").cast("int"))
      .select("scene_idx", "scene_id", "level", "m", "t", "c", "z", "s",
        "y0", "x0", "h", "w", "pixels")
}

object ParquetPlaneReader {
  val plugin: PluginEntry = PluginEntry(
    name = "ParquetPlaneReader",
    extensions = Seq(ParquetPlaneStore.Extension),
    open = (spark, path, _) => new ParquetPlaneReader(spark, path))
}
