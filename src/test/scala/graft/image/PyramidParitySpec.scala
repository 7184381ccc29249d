package graft.image

import graft.{BioSpark, SparkSpec}
import graft.core.NDArray
import graft.writers.{OmeTiffWriter, ParquetPlaneStore, TiffOptions, ZarrWriter}

/** P6 cross-format drift guard: OME-TIFF `pyramidLevels` (SubIFDs), zarr
  * `levels` (NGFF multiscale) and the parquet plane store's `levels` all
  * build coarse levels with the one 2x mean-pool kernel. This spec pins
  * that the sinks agree level by level — dims AND pixels — for the same
  * image, including odd (ceil-halved, ragged-pool) extents, so the
  * pooling paths cannot drift apart silently. */
class PyramidParitySpec extends SparkSpec {

  private val expectDims = Seq((9L, 11L), (5L, 6L), (3L, 3L))

  /** Asserts that `a` and `b` hold the same 3-level pyramid, comparing
    * pixels by their bits. */
  private def assertSameLevels(a: BioImage, b: BioImage, what: String): Unit = {
    assert(a.resolutionLevels == Seq(0, 1, 2))
    assert(b.resolutionLevels == Seq(0, 1, 2))
    for (k <- 0 until 3) {
      a.setResolutionLevel(k)
      b.setResolutionLevel(k)
      assert((a.dims('Y'), a.dims('X')) == expectDims(k), s"$what L$k")
      assert((b.dims('Y'), b.dims('X')) == expectDims(k), s"$what L$k")
      val x = a.getImageData("YX")
      val y = b.getImageData("YX")
      val (h, w) = (expectDims(k)._1.toInt, expectDims(k)._2.toInt)
      for (r <- 0 until h; c <- 0 until w)
        assert(java.lang.Double.doubleToRawLongBits(x.array(r, c)) ==
          java.lang.Double.doubleToRawLongBits(y.array(r, c)),
          s"$what L$k ($r,$c): ${x.array(r, c)} vs ${y.array(r, c)}")
    }
  }

  test("TIFF pyramidLevels and zarr levels agree on level-k dims and " +
      "pixels (odd extents, 3 levels)") {
    // odd dims: 9x11 → 5x6 → 3x3 (ceil halving, ragged pool windows)
    val arr = NDArray.tabulate(Seq(9, 11))(idx => idx(0) * 20.0 + idx(1))
    val img = BioSpark.fromArray(spark, arr)
    withTempDir("graft-pyr") { dir =>
      val tiff = s"$dir/p.ome.tiff"
      OmeTiffWriter.save(img, tiff, None, TiffOptions(pyramidLevels = 3))
      val zarr = s"$dir/p.ome.zarr"
      ZarrWriter.save(img, zarr, None, levels = 3)
      assertSameLevels(BioSpark.open(spark, tiff), BioSpark.open(spark, zarr),
        "tiff/zarr")
    }
  }

  test("parquet plane store levels and TIFF pyramidLevels agree bit for " +
      "bit on non-integer float pixels (odd extents, 3 levels)") {
    // tenths and thirds are not exactly representable: sums of a 2x2
    // block depend on their order, so only one kernel summing in one
    // order gives equal bits
    val arr = NDArray.tabulate(Seq(9, 11))(idx => idx(0) * 0.1 + idx(1) / 3.0)
    val img = BioSpark.fromArray(spark, arr)
    withTempDir("graft-pyr") { dir =>
      val tiff = s"$dir/p.ome.tiff"
      OmeTiffWriter.save(img, tiff, None, TiffOptions(pyramidLevels = 3))
      val store = s"$dir/p.graft"
      ParquetPlaneStore.save(img, store, levels = 3)
      assertSameLevels(BioSpark.open(spark, tiff), BioSpark.open(spark, store),
        "tiff/store")
    }
  }
}
