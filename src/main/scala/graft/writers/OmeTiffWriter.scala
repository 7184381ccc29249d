package graft.writers

import java.io.BufferedOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col

import graft.core.{PixelType, Plane}
import graft.formats.TiffFormat
import graft.image.BioImage
import graft.meta.{OME, OmeChannel, OmeImage, OmePixels, OmeXml}

/** Write-side layout options: Compression tag value (none/LZW/deflate),
  * optional tile organization as (tileWidth, tileLength) — both must be
  * multiples of 16 per TIFF 6.0 — BigTIFF (version 43, 8-byte offsets),
  * which lifts the classic 4 GiB file ceiling, and `pyramidLevels`: when
  * > 1, each plane additionally stores that many ceil-halved 2×-mean-pool
  * reduced resolutions as SubIFDs (tag 330, NewSubfileType=1) — the
  * pyramidal OME-TIFF convention bioformats/QuPath read. */
final case class TiffOptions(
    compression: Int = TiffFormat.CompressionNone,
    tile: Option[(Int, Int)] = None,
    bigTiff: Boolean = false,
    pyramidLevels: Int = 1)

/** OME-TIFF sink — the reference's canonical `BioImage.save` target
  * (/root/reference/bioio/bio_image.py:1229-1301): selected scenes are
  * renumbered ("Image:{i}"), order preserved, per-scene channel names and
  * physical pixel sizes carried into the OME-XML, which lives in the first
  * IFD's ImageDescription.
  *
  * Layout streams in one sequential pass with per-plane interleaving:
  * header | OME-XML | IFD₀ data₀ | IFD₁ data₁ | … Each plane's segment
  * sizes (compressed strips or tiles) are known the moment the plane is
  * encoded, so every offset is computed just-in-time — no seeks, so any
  * Hadoop FileSystem target works (file:, hdfs:, s3a:). Plane data is
  * pulled scene-by-scene through `toLocalIterator` in (t,c,z) order
  * matching DimensionOrder XYZCT — the driver is a streaming conduit, one
  * plane in memory at a time, the same single-file serialization boundary
  * as the reference's dask → tifffile write. The Parquet plane store is
  * the parallel-writer scale path; OME-TIFF is the interchange sink.
  */
object OmeTiffWriter extends BioWriter {

  override def name: String = "OmeTiffWriter"
  override def supportedExtensions: Seq[String] =
    Seq(".ome.tiff", ".ome.tif", ".tiff", ".tif")

  override def save(img: BioImage, uri: String,
      selectScenes: Option[Seq[String]]): Unit =
    save(img, uri, selectScenes, TiffOptions())

  /** Facade options (BioImage.save / Writers dispatch): "compression"
    * (none|lzw|deflate), "tile" ("HxW" — height-first like the zarr
    * writers' chunk/shardInner options, multiples of 16), "bigTiff"
    * (true|false), "pyramidLevels" — the TiffOptions surface, reachable
    * through extension dispatch. */
  override def save(img: BioImage, uri: String,
      selectScenes: Option[Seq[String]],
      options: Map[String, String]): Unit = {
    WriterOptions.unknown(options,
      Set("compression", "tile", "bigTiff", "pyramidLevels"), name)
    val comp = options.get("compression").map(_.trim.toLowerCase) match {
      case None | Some("none") => TiffFormat.CompressionNone
      case Some("lzw")         => TiffFormat.CompressionLZW
      case Some("deflate")     => TiffFormat.CompressionDeflate
      case Some(other) => throw new IllegalArgumentException(
        s"$name: unsupported compression '$other' (none, lzw, deflate)")
    }
    save(img, uri, selectScenes, TiffOptions(
      compression = comp,
      // options syntax is HxW everywhere; TiffOptions.tile is
      // (tileWidth, tileLength), so swap here, not at the user
      tile = WriterOptions.dims(options, "tile").map { case (h, w) => (w, h) },
      bigTiff = WriterOptions.bool(options, "bigTiff").getOrElse(false),
      pyramidLevels =
        WriterOptions.int(options, "pyramidLevels").getOrElse(1)))
  }

  def save(img: BioImage, uri: String, selectScenes: Option[Seq[String]],
      opts: TiffOptions): Unit = {
    require(TiffFormat.compressionSupported(opts.compression),
      s"unsupported TIFF compression ${opts.compression}")
    opts.tile.foreach { case (tw, tl) =>
      require(tw > 0 && tl > 0 && tw % 16 == 0 && tl % 16 == 0,
        s"TIFF tile dims must be positive multiples of 16, got ${tw}x$tl")
    }
    require(opts.pyramidLevels >= 1,
      s"pyramidLevels must be >= 1, got ${opts.pyramidLevels}")
    val sel = Writers.validateSelection(img, selectScenes)

    val saved = img.currentSceneIndex
    // per-scene layout facts from the catalog (no data scan)
    case class SceneLayout(origIdx: Int, t: Int, c: Int, z: Int, h: Int,
        w: Int, nS: Int, pt: PixelType.Value, channelNames: Seq[String],
        pps: Option[(Double, Double, Double)], timeInterval: Option[Double])
    val layouts = sel.zipWithIndex.map { case (sid, renum) =>
      img.setScene(sid)
      val m = img.meta
      val d = img.dims
      val nS = if (d.order.contains('S')) d('S').toInt else 1
      if (nS != 1 && nS != 3)
        throw new UnsupportedOperationException(
          s"TIFF supports 1 (gray) or 3 (RGB chunky) samples, got S=$nS")
      SceneLayout(img.currentSceneIndex, d('T').toInt, d('C').toInt,
        d('Z').toInt, d('Y').toInt, d('X').toInt, nS, m.pixelType,
        img.channelNames, m.physicalPixelSizes, m.timeInterval)
    }
    img.setScene(saved)

    // OME-XML with regenerated ids, order preserved
    val ome = OME(layouts.zipWithIndex.map { case (s, i) =>
      OmeImage(s"Image:$i", sel(i), OmePixels(
        id = s"Pixels:$i", dimensionOrder = "XYZCT",
        pixelType = OmeXml.omeTypeOf(s.pt),
        sizeX = s.w, sizeY = s.h, sizeZ = s.z, sizeC = s.c, sizeT = s.t,
        physicalSizeX = s.pps.map(_._3), physicalSizeY = s.pps.map(_._2),
        physicalSizeZ = s.pps.map(_._1), timeIncrement = s.timeInterval,
        channels = s.channelNames.zipWithIndex.map { case (cn, ci) =>
          OmeChannel(s"Channel:$i:$ci", Some(cn))
        }))
    })
    // ASCII field payload: XML + NUL terminator
    val xmlBytes =
      OmeXml.toXml(ome).getBytes(StandardCharsets.UTF_8) :+ 0.toByte
    val xmlPadded = xmlBytes.length + (xmlBytes.length & 1)
    val big = opts.bigTiff
    val offType = if (big) TiffFormat.TypeLong8 else TiffFormat.TypeLong
    val offSize = if (big) 8 else 4
    val xmlOffset = if (big) 16L else 8L

    val planeCounts = layouts.map(s => s.t * s.c * s.z)
    val totalPlanes = planeCounts.sum

    // uncompressed classic-TIFF sizes are exactly computable up front —
    // reject oversized saves BEFORE truncating the destination (the
    // in-loop guard still covers compressed writes, whose sizes are only
    // known as planes stream)
    if (!big && opts.compression == TiffFormat.CompressionNone) {
      val estimate = xmlOffset + xmlPadded + layouts.zip(planeCounts).map {
        case (s, n) =>
          // all pyramid levels' raw bytes (ceil-halving per level)
          val raw = Iterator.iterate((s.h.toLong, s.w.toLong)) {
            case (h, w) => ((h + 1) / 2, (w + 1) / 2)
          }.take(opts.pyramidLevels).map { case (h, w) =>
            val r = h * w * s.nS * TiffFormat.bytesPerSample(s.pt)
            r + r % 2 + 16L * ((h / 16 + 1) * (w / 16 + 1)) // tile-array slack
          }.sum
          n.toLong * (opts.pyramidLevels.toLong *
            (TiffFormat.ifdSize(13) + 2L * 2 * s.nS + 8L * opts.pyramidLevels) +
            raw)
      }.sum
      require(estimate < (1L << 32),
        "image exceeds classic TIFF 4 GiB limit — write with " +
          "TiffOptions(bigTiff = true) or use the parquet plane store")
    }

    val dest = new Path(uri)
    val fs = FileSystem.get(dest.toUri,
      img.spark.sparkContext.hadoopConfiguration)
    // stream into a temporary sibling and promote on success: the in-loop
    // 4 GiB guard (or any mid-write failure) must never leave a truncated
    // partial at the destination or destroy an existing file there
    val tmp = new Path(Option(dest.getParent).getOrElse(new Path("/")),
      "." + dest.getName + ".tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
    val out = new BufferedOutputStream(fs.create(tmp, true), 1 << 20)
    try {
      try {
      var pos = 0L
      def write(b: Array[Byte]): Unit = { out.write(b); pos += b.length }

      write(TiffFormat.headerBytes(xmlOffset + xmlPadded, big))
      write(xmlBytes)
      if (xmlPadded > xmlBytes.length) write(Array[Byte](0))

      var planeIdx = 0
      layouts.zipWithIndex.foreach { case (s, i) =>
        img.setScene(s.origIdx)
        val bps = TiffFormat.bytesPerSample(s.pt)
        val nS = s.nS
        val it = img.stitchedPlanes
          .select(col("t"), col("c"), col("z"), col("s"), col("pixels"))
          .orderBy(col("t"), col("c"), col("z"), col("s"))
          .toLocalIterator()
        var seen = 0
        while (it.hasNext) {
          // one output IFD = nS consecutive sample rows of one (t,c,z),
          // interleaved chunky (RGBRGB…) per TIFF PlanarConfiguration=1
          val px = new Array[Double](s.h * s.w * nS)
          var si = 0
          var tcz: (Int, Int, Int) = null
          while (si < nS) {
            require(it.hasNext,
              s"scene ${sel(i)}: plane rows ended mid-sample-group " +
                s"(after $seen complete planes, sample $si of $nS)")
            val row = it.next()
            val key = (row.getInt(0), row.getInt(1), row.getInt(2))
            if (tcz == null) tcz = key
            else require(key == tcz,
              s"scene ${sel(i)}: sample rows out of order at $key vs $tcz")
            require(row.getInt(3) == si,
              s"scene ${sel(i)}: expected sample $si, got ${row.getInt(3)}")
            val band = row.getSeq[Double](4)
            require(band.length == s.h * s.w,
              s"scene ${sel(i)}: plane has ${band.length} pixels, " +
                s"expected ${s.h}x${s.w}")
            var k = 0
            while (k < band.length) {
              px(k * nS + si) = band(k)
              k += 1
            }
            si += 1
          }

          // pyramid: level 0 = full res, each further level the ceil-halved
          // 2× mean pool of Plane.meanPool2x (the kernel behind the plane
          // store's and Zarr's pyramids, so their levels agree bit for
          // bit); stops early at 1×1
          val levelPx: Seq[(Array[Double], Int, Int)] = {
            val b = Seq.newBuilder[(Array[Double], Int, Int)]
            var cur = (px, s.h, s.w)
            b += cur
            var k = 1
            while (k < opts.pyramidLevels && (cur._2 > 1 || cur._3 > 1)) {
              cur = Plane.meanPool2x(cur._1, cur._2, cur._3, nS)
              b += cur
              k += 1
            }
            b.result()
          }
          val nLevels = levelPx.length

          // encode + compress each level's segments: ~256 KiB strips (so
          // strip-streaming readers never buffer a whole plane), or tiles
          case class Lvl(h: Int, w: Int, rps: Int,
              segments: Seq[Array[Byte]], segPadded: Seq[Long])
          val lvls: Seq[Lvl] = levelPx.map { case (lpx, lh, lw) =>
            val rowBytes = math.max(1, lw * nS * bps)
            val rps = math.max(1, math.min(lh, (256 * 1024) / rowBytes))
            val segments: Seq[Array[Byte]] = opts.tile match {
              case None =>
                val nStrips = (lh + rps - 1) / rps
                (0 until nStrips).map { si =>
                  val r0 = si * rps
                  val rN = math.min(rps, lh - r0)
                  val slice = java.util.Arrays.copyOfRange(lpx,
                    r0 * lw * nS, (r0 + rN) * lw * nS)
                  TiffFormat.compress(
                    TiffFormat.encodePlane(slice, s.pt), opts.compression,
                    rowBytes = rowBytes)
                }
              case Some((tw, tl)) =>
                val nx = (lw + tw - 1) / tw
                val ny = (lh + tl - 1) / tl
                val rowSamples = lw * nS
                for { yi <- 0 until ny; xi <- 0 until nx } yield {
                  // tiles are stored at full tile size, zero-padded at edges
                  val tile = new Array[Double](tl * tw * nS)
                  val hEff = math.min(tl, lh - yi * tl)
                  val wEff = math.min(tw, lw - xi * tw)
                  var r = 0
                  while (r < hEff) {
                    System.arraycopy(lpx,
                      (yi * tl + r) * rowSamples + xi * tw * nS,
                      tile, r * tw * nS, wEff * nS)
                    r += 1
                  }
                  TiffFormat.compress(
                    TiffFormat.encodePlane(tile, s.pt), opts.compression,
                    rowBytes = tw * nS * bps)
                }
            }
            Lvl(lh, lw, rps, segments,
              segments.map(b => (b.length + (b.length & 1)).toLong))
          }

          // ---- layout: [IFD_0 + its arrays][subIFD_1 + arrays]…[data_0][data_1]…
          // entries minus the data-offset values, to size each IFD; when
          // nS > 1 the BitsPerSample/SampleFormat value arrays (3 shorts)
          // live out-of-line right after the IFD
          val layoutEntryCount = opts.tile match {
            case None    => 3 // StripOffsets, RowsPerStrip, StripByteCounts
            case Some(_) => 4 // TileWidth, TileLength, TileOffsets, TileByteCounts
          }
          def entryCount(k: Int): Int =
            if (k == 0)
              7 + (if (planeIdx == 0) 1 else 0) +
                (if (nLevels > 1) 1 else 0) + layoutEntryCount
            else 8 + layoutEntryCount // + NewSubfileType, no description
          val ifdSizes = (0 until nLevels).map(k =>
            TiffFormat.ifdSize(entryCount(k), big))
          // BigTIFF's 8-byte value slot holds 3 shorts INLINE (BigTIFF
          // requires inline when the data fits); classic TIFF's 4-byte
          // slot cannot, so the arrays go out-of-line after the IFD
          val shortOol = if (nS > 1 && !big) 2 * 2 * nS else 0
          // SubIFDs offset array (>1 sub-level): out-of-line in the main
          // IFD's region on both variants (one offset always fits inline)
          val subArrOol = if (nLevels > 2) offSize * (nLevels - 1) else 0
          // offset/bytecount arrays (strips or tiles) when >1 segment
          def tileOol(k: Int): Int =
            if (lvls(k).segments.length > 1)
              2 * offSize * lvls(k).segments.length
            else 0
          def hdrSize(k: Int): Long =
            ifdSizes(k) + shortOol + (if (k == 0) subArrOol else 0) + tileOol(k)
          val ifdOffs = (0 until nLevels).scanLeft(pos)(_ + hdrSize(_))
          val dataStart = ifdOffs(nLevels)
          // per-level segment offsets, levels laid out consecutively
          val dataSizes = lvls.map(_.segPadded.sum)
          val levelDataStart = dataSizes.scanLeft(dataStart)(_ + _)
          val segOffsets = (0 until nLevels).map(k =>
            lvls(k).segPadded.scanLeft(levelDataStart(k))(_ + _))
          val endPos = levelDataStart(nLevels)
          require(big || endPos < (1L << 32),
            "image exceeds classic TIFF 4 GiB limit — write with " +
              "TiffOptions(bigTiff = true) or use the parquet plane store")
          val nextIfd = if (planeIdx == totalPlanes - 1) 0L else endPos

          // little-endian shorts packed into the inline value slot
          def packedShorts(v: Long): Long =
            (0 until nS).map(i => (v & 0xffffL) << (16 * i)).reduce(_ | _)

          def entriesFor(k: Int): Seq[TiffFormat.Entry] = {
            val lvl = lvls(k)
            val n = lvl.segments.length
            val ifdOff = ifdOffs(k)
            val bitsArrOff = ifdOff + ifdSizes(k)
            val sfArrOff = bitsArrOff + 2L * nS
            val subArrOff = ifdOff + ifdSizes(k) + shortOol
            val offArrOff = ifdOff + ifdSizes(k) + shortOol +
              (if (k == 0) subArrOol else 0)
            val cntArrOff = offArrOff + offSize.toLong * n
            val baseEntries = Seq(
              TiffFormat.Entry(TiffFormat.TagImageWidth, TiffFormat.TypeLong, 1, lvl.w),
              TiffFormat.Entry(TiffFormat.TagImageLength, TiffFormat.TypeLong, 1, lvl.h),
              TiffFormat.Entry(TiffFormat.TagBitsPerSample, TiffFormat.TypeShort, nS,
                if (nS == 1) bps * 8L
                else if (big) packedShorts(bps * 8L)
                else bitsArrOff),
              TiffFormat.Entry(TiffFormat.TagCompression, TiffFormat.TypeShort, 1, opts.compression),
              TiffFormat.Entry(TiffFormat.TagPhotometric, TiffFormat.TypeShort, 1,
                if (nS == 3) 2 else 1), // RGB vs BlackIsZero
              TiffFormat.Entry(TiffFormat.TagSamplesPerPixel, TiffFormat.TypeShort, 1, nS),
              TiffFormat.Entry(TiffFormat.TagSampleFormat, TiffFormat.TypeShort, nS,
                if (nS == 1) TiffFormat.sampleFormat(s.pt)
                else if (big) packedShorts(TiffFormat.sampleFormat(s.pt))
                else sfArrOff)) ++
              (if (k == 0 && planeIdx == 0)
                Seq(TiffFormat.Entry(TiffFormat.TagImageDescription,
                  TiffFormat.TypeAscii, xmlBytes.length, xmlOffset))
              else Seq.empty) ++
              (if (k == 0 && nLevels > 1)
                Seq(TiffFormat.Entry(TiffFormat.TagSubIFDs, offType, nLevels - 1,
                  if (nLevels == 2) ifdOffs(1) else subArrOff))
              else Seq.empty) ++
              (if (k > 0) // reduced-resolution page marker
                Seq(TiffFormat.Entry(TiffFormat.TagNewSubfileType,
                  TiffFormat.TypeLong, 1, 1))
              else Seq.empty)
            val layoutEntries = opts.tile match {
              case None => Seq(
                TiffFormat.Entry(TiffFormat.TagStripOffsets, offType, n,
                  if (n == 1) segOffsets(k)(0) else offArrOff),
                TiffFormat.Entry(TiffFormat.TagRowsPerStrip, TiffFormat.TypeLong, 1, lvl.rps),
                TiffFormat.Entry(TiffFormat.TagStripByteCounts, offType, n,
                  if (n == 1) lvl.segments(0).length else cntArrOff))
              case Some((tw, tl)) =>
                Seq(
                  TiffFormat.Entry(TiffFormat.TagTileWidth, TiffFormat.TypeLong, 1, tw),
                  TiffFormat.Entry(TiffFormat.TagTileLength, TiffFormat.TypeLong, 1, tl),
                  TiffFormat.Entry(TiffFormat.TagTileOffsets, offType, n,
                    if (n == 1) segOffsets(k)(0) else offArrOff),
                  TiffFormat.Entry(TiffFormat.TagTileByteCounts, offType, n,
                    if (n == 1) lvl.segments(0).length else cntArrOff))
            }
            baseEntries ++ layoutEntries
          }

          (0 until nLevels).foreach { k =>
            val lvl = lvls(k)
            val n = lvl.segments.length
            // sub-IFDs are reached via tag 330, not the main chain
            write(TiffFormat.ifdBytes(entriesFor(k),
              if (k == 0) nextIfd else 0L, big))
            if (shortOol > 0) {
              val b = ByteBuffer.allocate(shortOol).order(ByteOrder.LITTLE_ENDIAN)
              (0 until nS).foreach(_ => b.putShort((bps * 8).toShort))
              (0 until nS).foreach(_ =>
                b.putShort(TiffFormat.sampleFormat(s.pt).toShort))
              write(b.array())
            }
            if (k == 0 && subArrOol > 0) {
              val b = ByteBuffer.allocate(subArrOol)
                .order(ByteOrder.LITTLE_ENDIAN)
              if (big) (1 until nLevels).foreach(j => b.putLong(ifdOffs(j)))
              else (1 until nLevels).foreach(j => b.putInt(ifdOffs(j).toInt))
              write(b.array())
            }
            if (tileOol(k) > 0) {
              val b = ByteBuffer.allocate(tileOol(k))
                .order(ByteOrder.LITTLE_ENDIAN)
              if (big) {
                segOffsets(k).init.foreach(b.putLong)
                lvl.segments.foreach(sg => b.putLong(sg.length.toLong))
              } else {
                segOffsets(k).init.foreach(o => b.putInt(o.toInt))
                lvl.segments.foreach(sg => b.putInt(sg.length))
              }
              write(b.array())
            }
          }
          lvls.foreach(_.segments.foreach { sg =>
            write(sg)
            if ((sg.length & 1) == 1) write(Array[Byte](0)) // word alignment
          })
          seen += 1
          planeIdx += 1
        }
        require(seen == planeCounts(i),
          s"scene ${sel(i)}: expected ${planeCounts(i)} planes, saw $seen")
      }
        img.setScene(saved)
      } finally out.close()
      // promote: replace any existing destination only after a full write
      if (fs.exists(dest)) fs.delete(dest, false)
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(s"failed to rename $tmp to $uri")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
  }
}
