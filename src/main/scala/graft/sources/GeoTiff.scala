package graft.sources

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.{Deflater, Inflater}

import graft.model.Raster

/**
 * Pure-Scala GeoTIFF codec (S1/S9 made real — no GeoTools): baseline
 * TIFF 6.0 + the GeoTIFF 1.1 tags, from the published specifications.
 *
 * Writer: IEEE-float (32 or 64 bit) GeoTIFF, little-endian, single- or
 * multi-band (chunky PlanarConfiguration=1 or planar =2), stripped or tiled
 * (TileWidth/TileLength multiples of 16 per TIFF 6.0 §15), optional DEFLATE
 * (compression 8, java.util.zip) or LZW (compression 5, [[lzwEncode]] —
 * the flavor GDAL/libtiff read), with ModelPixelScale + ModelTiepoint
 * georeferencing, a GeoKeyDirectory carrying the EPSG code (geographic 2048 /
 * projected 3072 per CRS kind), the GDAL_NODATA ascii tag ("nan" — the
 * engine's nodata is NaN), and optional OVERVIEW IFDs (the COG shape:
 * reduced-resolution subfiles chained after IFD0, NewSubfileType=1,
 * nearest top-left decimation — GDAL's overview convention).
 *
 * Both sides lay pixels out on ONE chunk grid: a strip is a tile as wide
 * as the image and RowsPerStrip tall, except that strips carry no padding
 * and the last one may be short.
 *
 * Reader: either byte order, strips or tiles, chunky or planar interleave,
 * any SamplesPerPixel (the multi-band COG shape the reference selects bands
 * from — adapters/raster/RasterEncoder.java:107-113,
 * adapters/stac/StacResource.java:433-437), uncompressed, LZW or DEFLATE,
 * sample formats IEEE-float 32/64 and signed/unsigned int 8/16/32 (ints are
 * widened to the double plane; a GDAL_NODATA value maps to NaN). Two decode
 * entries: [[parse]] decodes a whole subfile, [[parseWindow]] only the
 * chunks under a world-coordinate window. Both select bands AT DECODE (with
 * planar interleave the unselected planes' chunks are never even inflated)
 * and, given a target cell width, walk the IFD chain and decode the
 * COARSEST subfile that still resolves it — the GeoTools/GDAL
 * read-with-subsampling-hints behavior the reference gets from its
 * GridCoverage readers. A chunk, image or cell count past what a byte or
 * double array can hold fails with an IllegalArgumentException, as does an
 * uncompressed chunk shorter than its rows. Both classic TIFF (version 42)
 * and BigTIFF (version 43: 8-byte IFD offsets/counts, LONG8 offset arrays —
 * what GDAL emits for large COGs, and what the reference accepts
 * transparently through GeoTools' TIFFImageReader) are read; the writer
 * emits either via `bigTiff = true`. The ingest unit is a single byte
 * array, so the per-file PAYLOAD limit is 2 GiB regardless of format
 * (offsets past the array fail with a clear diagnostic) — the tiling
 * discipline keeps per-file sizes far below that.
 *
 * Pixel order: TIFF rows are top-down; [[Raster]] is column-major with row 0
 * at the south edge (D2_XY) — the codec transposes on both paths, and the
 * tiepoint anchors raster (0,0) at (minX, maxY).
 */
object GeoTiff {

  // TIFF tag codes
  private val TNewSubfileType = 254
  private val TImageWidth = 256
  private val TImageLength = 257
  private val TBitsPerSample = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TStripOffsets = 273
  private val TSamplesPerPixel = 277
  private val TRowsPerStrip = 278
  private val TStripByteCounts = 279
  private val TPlanarConfig = 284
  private val TPredictor = 317
  private val TTileWidth = 322
  private val TTileLength = 323
  private val TTileOffsets = 324
  private val TTileByteCounts = 325
  private val TSampleFormat = 339
  private val TColorMap = 320
  private val TModelPixelScale = 33550
  private val TModelTiepoint = 33922
  private val TGeoKeyDirectory = 34735
  private val TGdalNodata = 42113

  // field types
  private val FtShort = 3
  private val FtLong = 4
  private val FtAscii = 2
  private val FtDouble = 12
  // BigTIFF (TIFF version 43) 8-byte types: LONG8 / SLONG8 / IFD8
  private val FtLong8 = 16
  private val FtSlong8 = 17
  private val FtIfd8 = 18

  /** Write `band` of the raster as a single-band stripped GeoTIFF. */
  def write(r: Raster, file: File, band: Int = 0, bits: Int = 64,
            deflate: Boolean = false): Unit =
    writeFull(Raster(r.item_id, r.ts, r.width, r.height,
                     r.minX, r.maxX, r.minY, r.maxY, r.epsg, Seq(r.bands(band))),
              file, bits, deflate)

  /**
   * Write ALL bands of the raster as a GeoTIFF.
   * @param bits      32 | 64 (IEEE float samples)
   * @param deflate   DEFLATE-compress every strip/tile independently
   * @param tile      Some((tileW, tileH)) writes a tiled TIFF (dims must be
   *                  multiples of 16, TIFF 6.0 §15); None writes one strip
   *                  per plane
   * @param planar    1 = chunky (samples interleaved per pixel),
   *                  2 = planar (each band its own strips/tiles)
   * @param overviews decimation factors (e.g. Seq(2, 4)) appended as
   *                  reduced-resolution IFDs — nearest top-left sampling,
   *                  value(x, y) = full(x*f, y*f) clamped at edges
   */
  def writeFull(r: Raster, file: File, bits: Int = 64, deflate: Boolean = false,
                tile: Option[(Int, Int)] = None, planar: Int = 1,
                overviews: Seq[Int] = Nil, predictor: Int = 1,
                palette: Option[Seq[(Int, Int, Int)]] = None,
                bigTiff: Boolean = false, lzw: Boolean = false): Unit =
    Files.write(Paths.get(file.getPath),
                encode(r, bits, deflate, tile, planar, overviews, predictor, palette,
                       bigTiff, lzw))

  /** Nearest top-left decimation by `f` (the GDAL NEAREST overview rule). */
  private def decimate(r: Raster, f: Int): Raster = {
    require(f >= 2, s"overview factor $f")
    val w2 = (r.width + f - 1) / f; val h2 = (r.height + f - 1) / f
    val bands = r.bands.map { b =>
      Array.tabulate(w2 * h2) { i =>
        val x2 = i / h2; val y2 = i % h2
        val x = math.min(x2 * f, r.width - 1); val y = math.min(y2 * f, r.height - 1)
        b(x * r.height + y)
      }
    }
    Raster(r.item_id, r.ts, w2, h2, r.minX, r.maxX, r.minY, r.maxY, r.epsg, bands)
  }

  /** [[writeFull]] to a byte array (the distributed-sink unit: executors
    * encode their own tiles and hand bytes to the committing writer). */
  def encode(r: Raster, bits: Int = 64, deflate: Boolean = false,
             tile: Option[(Int, Int)] = None, planar: Int = 1,
             overviews: Seq[Int] = Nil, predictor: Int = 1,
             palette: Option[Seq[(Int, Int, Int)]] = None,
             bigTiff: Boolean = false, lzw: Boolean = false): Array[Byte] = {
    require(!(deflate && lzw), "pick ONE compression: deflate or lzw")
    // palette mode (PhotometricInterpretation 3 + ColorMap, the categorical
    // landcover product shape): a single band of unsigned 8/16-bit palette
    // INDICES — the codes categorical pipelines consume (DataKey P4); the
    // ColorMap holds the 16-bit-per-component RGB triples
    palette.foreach { p =>
      require(bits == 8 || bits == 16, s"palette requires 8/16-bit indices, got $bits")
      require(r.bands.length == 1, "palette applies to a single index band")
      require(p.nonEmpty && p.length <= (1 << bits),
              s"palette size ${p.length} exceeds 2^$bits")
      // index validation: putVal truncates, so an out-of-range or
      // non-integral code would silently WRAP into a wrong palette entry —
      // fail loudly instead (NaN fails the >= 0 comparison)
      val lim = 1 << bits
      r.bands.head.foreach(v => require(
        v >= 0 && v < lim && v == math.floor(v),
        s"palette index $v is not an integer in [0, $lim)"))
    }
    require(bits == 32 || bits == 64 || palette.isDefined,
            s"unsupported float width $bits")
    require(planar == 1 || planar == 2, s"bad PlanarConfiguration $planar")
    require(predictor == 1 || predictor == 2 || predictor == 3,
            s"writer supports predictor 1 (none), 2 (int differencing) or 3 " +
              s"(floating point), got $predictor")
    require(predictor != 3 || palette.isEmpty,
            "predictor 3 applies to floating-point samples, not palette indices")
    require(predictor != 2 || palette.isDefined,
            "predictor 2 (horizontal differencing) applies to integer samples " +
              "— the writer's integer path is palette mode")
    // the reader rejects an image without cells, so the writer does too
    require(r.width > 0 && r.height > 0, s"empty raster ${r.width}x${r.height}")
    tile.foreach { case (tw, th) =>
      require(tw > 0 && th > 0 && tw % 16 == 0 && th % 16 == 0,
              s"tile dims must be positive multiples of 16: ${tw}x$th")
    }
    val bps = bits / 8
    val spp = r.bands.length

    @inline def putVal(bb: ByteBuffer, v: Double): Unit =
      if (palette.isDefined) {
        if (bits == 8) bb.put(v.toInt.toByte) else bb.putShort(v.toInt.toShort)
      } else if (bits == 64) bb.putDouble(v) else bb.putFloat(v.toFloat)

    // ---- image data chunks for one subfile, in file order: chunks
    // left-to-right, top-to-bottom, planes consecutive (planar). A strip is
    // a tile as wide and as tall as the subfile, so a stripped file holds
    // one chunk per plane; edge tiles are padded per the TIFF spec ----
    def chunksOf(s: Raster): Seq[Array[Byte]] = {
      val w = s.width; val h = s.height
      val (tw, th) = tile.getOrElse((w, h))
      val ta = (w + tw - 1) / tw; val td = (h + th - 1) / th
      val planes = if (planar == 2) spp else 1
      val sppC = if (planar == 2) 1 else spp
      val rowBytes = tw * sppC * bps
      for {
        p <- 0 until planes
        tyi <- 0 until td
        txi <- 0 until ta
      } yield {
        val bb = ByteBuffer.allocate(th * rowBytes).order(ByteOrder.LITTLE_ENDIAN)
        var rr = 0
        while (rr < th) {
          val row = tyi * th + rr // top-down rows from the south-up grid
          var xi = 0
          while (xi < tw) {
            val x = txi * tw + xi
            var b = 0
            while (b < sppC) {
              val v = if (row < h && x < w)
                s.bands(if (planar == 2) p else b)(x * h + (h - 1 - row))
              else 0.0
              putVal(bb, v); b += 1
            }
            xi += 1
          }
          rr += 1
        }
        val c =
          if (predictor == 3) fpPredictEncode(bb.array(), rowBytes, bps)
          else if (predictor == 2) intPredictEncode(bb.array(), rowBytes, bps, sppC)
          else bb.array()
        if (deflate) deflateBytes(c) else if (lzw) lzwEncode(c) else c
      }
    }

    def shorts(vs: Seq[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => b.putShort(v.toShort)); b.array()
    }
    def longsB(vs: Seq[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => b.putInt(v.toInt)); b.array()
    }
    def doublesB(vs: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putDouble); b.array()
    }
    def longs8B(vs: Seq[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putLong); b.array()
    }
    // chunk offset/byte-count arrays: BigTIFF writes LONG8 (the 8-byte
    // fields that let real files exceed 4 GiB — and what exercises a
    // reader's 64-bit offset path), classic writes LONG
    val offTpe = if (bigTiff) FtLong8 else FtLong
    def offsB(vs: Seq[Long]): Array[Byte] = if (bigTiff) longs8B(vs) else longsB(vs)
    // inline value slot width: payloads at or under it live in the entry
    val inlineLim = if (bigTiff) 8 else 4

    // subfiles: the full raster, then one reduced IFD per overview factor
    val subs: Seq[(Raster, Boolean)] =
      (r, false) +: overviews.map(f => (decimate(r, f), true))
    val subChunks = subs.map { case (s, _) => chunksOf(s) }

    // ---- layout pass 1: chunk offsets across all subfiles ----
    var cursor = if (bigTiff) 16L else 8L
    val subChunkOffsets = subChunks.map(_.map { c =>
      if (cursor % 2 == 1) cursor += 1 // values begin on a word boundary
      val off = cursor; cursor += c.length; off
    })

    // tag rows per subfile ((tag, type, count, payload), ascending per TIFF)
    val subTagData: Seq[Seq[(Int, Int, Int, Array[Byte])]] =
      subs.zip(subChunks).zip(subChunkOffsets).map { case (((s, reduced), chunks), offs) =>
        val w = s.width; val h = s.height
        val base = Seq(
          (TImageWidth, FtLong, 1, longsB(Seq(w.toLong))),
          (TImageLength, FtLong, 1, longsB(Seq(h.toLong))),
          (TBitsPerSample, FtShort, spp, shorts(Seq.fill(spp)(bits.toLong))),
          (TCompression, FtShort, 1,
           shorts(Seq(if (deflate) 8L else if (lzw) 5L else 1L))),
          (TPhotometric, FtShort, 1, shorts(Seq(if (palette.isDefined) 3L else 1L))),
          (TSamplesPerPixel, FtShort, 1, shorts(Seq(spp.toLong))),
          (TPlanarConfig, FtShort, 1, shorts(Seq(planar.toLong))),
          (TSampleFormat, FtShort, spp,
           shorts(Seq.fill(spp)(if (palette.isDefined) 1L else 3L)))) ++ // uint / IEEE float
          palette.toSeq.map { p =>
            // ColorMap: 2^bits 16-bit values per component, R plane then G
            // then B (TIFF 6.0 §5); 8-bit components scale by 257
            val n = 1 << bits
            val cm = Seq.tabulate(3 * n) { i =>
              val idx = i % n
              if (idx >= p.length) 0L
              else {
                val t = p(idx)
                val c = (i / n) match { case 0 => t._1; case 1 => t._2; case _ => t._3 }
                (c * 257).toLong
              }
            }
            (TColorMap, FtShort, 3 * n, shorts(cm))
          } ++
          (if (predictor != 1)
             Seq((TPredictor, FtShort, 1, shorts(Seq(predictor.toLong)))) else Nil) ++
          (tile match {
            case None => Seq(
              (TStripOffsets, offTpe, chunks.length, offsB(offs)),
              (TRowsPerStrip, FtLong, 1, longsB(Seq(h.toLong))),
              (TStripByteCounts, offTpe, chunks.length, offsB(chunks.map(_.length.toLong))))
            case Some((tw, th)) => Seq(
              (TTileWidth, FtLong, 1, longsB(Seq(tw.toLong))),
              (TTileLength, FtLong, 1, longsB(Seq(th.toLong))),
              (TTileOffsets, offTpe, chunks.length, offsB(offs)),
              (TTileByteCounts, offTpe, chunks.length, offsB(chunks.map(_.length.toLong))))
          })
        val extra = if (reduced) {
          // overview subfile: flagged reduced-resolution, NO geo tags — the
          // envelope is inherited from IFD0 (the GDAL overview convention)
          Seq((TNewSubfileType, FtLong, 1, longsB(Seq(1L))))
        } else {
          val cw = (r.maxX - r.minX) / w; val ch = (r.maxY - r.minY) / h
          val geographic = r.epsg == 4326 || (r.epsg >= 4000 && r.epsg < 5000)
          val geoKeys: Seq[Long] = Seq[Long](
            1, 1, 0, 2, // key directory header: version 1.1, 2 keys
            1024, 0, 1, if (geographic) 2L else 1L, // GTModelType
            if (geographic) 2048L else 3072L, 0, 1, r.epsg.toLong) // CRS code key
          // "nan" NUL-terminated; padded so older readers that only handle
          // offset-stored ASCII still see it (both storages are legal TIFF)
          val nodataAscii: Array[Byte] = Array('n', 'a', 'n', ' ', 0).map(_.toByte)
          Seq(
            (TModelPixelScale, FtDouble, 3, doublesB(Seq(cw, ch, 0.0))),
            (TModelTiepoint, FtDouble, 6, doublesB(Seq(0.0, 0.0, 0.0, r.minX, r.maxY, 0.0))),
            (TGeoKeyDirectory, FtShort, geoKeys.length, shorts(geoKeys)),
            (TGdalNodata, FtAscii, nodataAscii.length, nodataAscii))
        }
        (base ++ extra).sortBy(_._1)
      }

    // ---- layout pass 2: payload blocks, then the IFDs back to back ----
    val subBlockOffsets: Seq[Map[Int, Long]] = subTagData.map(_.collect {
      case (tag, _, _, payload) if payload.length > inlineLim =>
        if (cursor % 2 == 1) cursor += 1
        val off = cursor; cursor += payload.length
        tag -> off
    }.toMap)
    // IFD: classic = u16 count + 12-byte entries + u32 next;
    // BigTIFF  = u64 count + 20-byte entries + u64 next
    val ifdOffsets = subTagData.map { td =>
      if (cursor % 2 == 1) cursor += 1
      val off = cursor
      cursor += (if (bigTiff) 8 + td.length * 20 + 8 else 2 + td.length * 12 + 4)
      off
    }
    val total = cursor

    val buf = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    if (bigTiff)
      // version 43, offset size 8, reserved 0, u64 first-IFD pointer
      buf.put('I'.toByte).put('I'.toByte).putShort(43)
        .putShort(8).putShort(0).putLong(ifdOffsets.head)
    else
      buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffsets.head.toInt)
    subChunks.zip(subChunkOffsets).foreach { case (chunks, offs) =>
      chunks.zip(offs).foreach { case (c, off) =>
        while (buf.position() < off) buf.put(0.toByte)
        buf.put(c)
      }
    }
    subTagData.zip(subBlockOffsets).foreach { case (td, blocks) =>
      td.foreach { case (tag, _, _, payload) =>
        blocks.get(tag).foreach { off =>
          while (buf.position() < off) buf.put(0.toByte)
          buf.put(payload)
        }
      }
    }
    subTagData.indices.foreach { i =>
      while (buf.position() < ifdOffsets(i)) buf.put(0.toByte)
      val td = subTagData(i)
      if (bigTiff) buf.putLong(td.length.toLong) else buf.putShort(td.length.toShort)
      td.foreach { case (tag, tpe, count, payload) =>
        buf.putShort(tag.toShort).putShort(tpe.toShort)
        if (bigTiff) buf.putLong(count.toLong) else buf.putInt(count)
        subBlockOffsets(i).get(tag) match {
          case Some(off) => if (bigTiff) buf.putLong(off) else buf.putInt(off.toInt)
          case None => // inline values are left-justified in the value slot
            buf.put(java.util.Arrays.copyOf(payload, inlineLim))
        }
      }
      // chain: each IFD points at the next subfile, the last at 0
      val next = if (i + 1 < ifdOffsets.length) ifdOffsets(i + 1) else 0L
      if (bigTiff) buf.putLong(next) else buf.putInt(next.toInt)
    }
    buf.array()
  }

  /** TIFF predictor 3 (floating-point, TechNote 3) forward transform of one
    * chunk: per row, values' IEEE bytes are split into MSB-first byte
    * planes, then the whole row is horizontally byte-differenced. */
  private[graft] def fpPredictEncode(data: Array[Byte], rowBytes: Int, bps: Int): Array[Byte] = {
    val out = new Array[Byte](data.length)
    val nRows = data.length / rowBytes
    val nSamples = rowBytes / bps
    var r = 0
    while (r < nRows) {
      val base = r * rowBytes
      // split: plane p holds byte p (MSB first) of every sample; input rows
      // are little-endian (our writer), so value byte p-from-MSB = index
      // (bps - 1 - p)
      var s2 = 0
      while (s2 < nSamples) {
        var p = 0
        while (p < bps) {
          out(base + p * nSamples + s2) = data(base + s2 * bps + (bps - 1 - p))
          p += 1
        }
        s2 += 1
      }
      // difference (in place over the split row), right to left
      var i = rowBytes - 1
      while (i > 0) {
        out(base + i) = (out(base + i) - out(base + i - 1)).toByte
        i -= 1
      }
      r += 1
    }
    out
  }

  /** Predictor 3 inverse: per row, byte-accumulate then regroup the
    * MSB-first byte planes back into values in `order` byte order. */
  private def fpPredictDecode(data: Array[Byte], rowBytes: Int, bps: Int,
                              order: ByteOrder): Array[Byte] = {
    val nRows = data.length / rowBytes
    val nSamples = rowBytes / bps
    val out = new Array[Byte](data.length)
    var r = 0
    while (r < nRows) {
      val base = r * rowBytes
      var i = 1
      while (i < rowBytes) {
        data(base + i) = (data(base + i) + data(base + i - 1)).toByte
        i += 1
      }
      var s2 = 0
      while (s2 < nSamples) {
        var p = 0
        while (p < bps) {
          val dst = if (order == ByteOrder.LITTLE_ENDIAN) bps - 1 - p else p
          out(base + s2 * bps + dst) = data(base + p * nSamples + s2)
          p += 1
        }
        s2 += 1
      }
      r += 1
    }
    out
  }

  /** Predictor 2 (horizontal differencing) FORWARD transform — the writer
    * twin of [[intPredictDecode]] (GDAL's usual companion to LZW/DEFLATE on
    * integer rasters): per row, per channel, each sample becomes its delta
    * from the previous sample. In place, iterating BACKWARD within the row
    * so a diff never reads an already-diffed neighbor. Writer output is
    * little-endian. */
  private[graft] def intPredictEncode(data: Array[Byte], rowBytes: Int, bps: Int,
                                      sppC: Int): Array[Byte] = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val nRows = data.length / rowBytes
    val samplesPerRow = rowBytes / bps
    var r = 0
    while (r < nRows) {
      val base = r * rowBytes
      var s2 = samplesPerRow - 1
      while (s2 >= sppC) {
        val i = base + s2 * bps
        val j = base + (s2 - sppC) * bps
        bps match {
          case 1 => bb.put(i, (bb.get(i) - bb.get(j)).toByte)
          case 2 => bb.putShort(i, (bb.getShort(i) - bb.getShort(j)).toShort)
          case 4 => bb.putInt(i, bb.getInt(i) - bb.getInt(j))
          case _ => throw new IllegalArgumentException(s"predictor 2 with $bps-byte samples")
        }
        s2 -= 1
      }
      r += 1
    }
    data
  }

  /** Predictor 2 (horizontal differencing) inverse for integer samples:
    * per row, per channel, accumulate sample values modulo the sample
    * width. Operates in place through a ByteBuffer in `order`. */
  private def intPredictDecode(data: Array[Byte], rowBytes: Int, bps: Int,
                               sppC: Int, order: ByteOrder): Array[Byte] = {
    val bb = ByteBuffer.wrap(data).order(order)
    val nRows = data.length / rowBytes
    val samplesPerRow = rowBytes / bps
    var r = 0
    while (r < nRows) {
      val base = r * rowBytes
      var s2 = sppC
      while (s2 < samplesPerRow) {
        val i = base + s2 * bps
        val j = base + (s2 - sppC) * bps
        bps match {
          case 1 => bb.put(i, (bb.get(i) + bb.get(j)).toByte)
          case 2 => bb.putShort(i, (bb.getShort(i) + bb.getShort(j)).toShort)
          case 4 => bb.putInt(i, bb.getInt(i) + bb.getInt(j))
          case _ => throw new IllegalArgumentException(s"predictor 2 with $bps-byte samples")
        }
        s2 += 1
      }
      r += 1
    }
    data
  }

  /**
   * TIFF LZW decode (compression 5, TIFF 6.0 §13): MSB-first variable-width
   * codes, ClearCode 256 / EOI 257, first dictionary entry 258, EARLY
   * CHANGE code widening (the width grows one code early — at table size
   * 2^w - 1 — per the spec's LZW flavor, which GDAL/libtiff write).
   * The writer twin is [[lzwEncode]] (`lzw = true` on the encode path).
   */
  private[graft] def lzwDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    val Clear = 256; val Eoi = 257
    val out = new Array[Byte](expected)
    var outPos = 0
    // ALLOCATION-FREE inner loop (this runs once per code while ingesting
    // multi-GB LZW rasters): dictionary entries are (start, len) spans into
    // the already-decoded output — the entry for prev+firstByte(current) is
    // always the contiguous bytes [prevStart, prevStart + prevLen + 1)
    // because consecutive emissions are adjacent in `out` — so emitting is
    // one arraycopy, and codes come from a 64-bit accumulator instead of
    // per-bit array reads.
    val maxEntries = 4096
    val start = new Array[Int](maxEntries)
    val len = new Array[Int](maxEntries)
    var nextEntry = 258
    var width = 9
    var acc = 0L; var nAcc = 0; var pos = 0

    def readCode(): Int = {
      while (nAcc < width) {
        if (pos >= data.length) return Eoi // truncated stream: stop
        acc = (acc << 8) | (data(pos) & 0xffL); pos += 1; nAcc += 8
      }
      nAcc -= width
      ((acc >>> nAcc) & ((1 << width) - 1)).toInt
    }

    @inline def widen(): Unit = // early change: grow one code early
      if (width < 12 && nextEntry >= (1 << width) - 1) width += 1

    var prevStart = -1; var prevLen = 0
    var done = false
    while (!done && outPos < expected) {
      val code = readCode()
      if (code == Eoi) done = true
      else if (code == Clear) {
        nextEntry = 258; width = 9; prevStart = -1; prevLen = 0
      } else if (prevStart < 0) {
        require(code < 256, s"corrupt LZW stream: first code $code after clear")
        prevStart = outPos; prevLen = 1
        out(outPos) = code.toByte; outPos += 1
      } else {
        require(code <= nextEntry, s"corrupt LZW stream: code $code, table $nextEntry")
        val emitStart = outPos
        var emitLen = 0
        if (code < 256) {
          out(outPos) = code.toByte; outPos += 1
          emitLen = 1
        } else if (code < nextEntry) {
          val l = math.min(len(code), expected - outPos)
          System.arraycopy(out, start(code), out, outPos, l)
          outPos += l
          emitLen = len(code)
        } else {
          // KwKwK: the string is prev's string + prev's first byte
          require(nextEntry < maxEntries, "corrupt LZW stream: table overflow")
          val total = prevLen + 1
          val l = math.min(total, expected - outPos)
          System.arraycopy(out, prevStart, out, outPos, math.min(prevLen, l))
          if (l > prevLen) out(outPos + prevLen) = out(prevStart)
          outPos += l
          emitLen = total
        }
        // new entry = prev string + first byte of this emission, which sit
        // contiguously at [prevStart, prevStart + prevLen + 1)
        if (nextEntry < maxEntries) {
          start(nextEntry) = prevStart; len(nextEntry) = prevLen + 1
          nextEntry += 1
          widen()
        }
        prevStart = emitStart; prevLen = emitLen
      }
    }
    require(outPos == expected, s"short LZW decode: $outPos of $expected bytes")
    out
  }

  /**
   * TIFF LZW encode (compression 5, TIFF 6.0 §13) — the writer twin of
   * [[lzwDecode]]: MSB-first variable-width codes, ClearCode 256 / EOI 257,
   * and the encoder-side EARLY-CHANGE cadence (the encoder's table runs one
   * entry ahead of the decoder's, so widening at table size 2^w lands on
   * the same code position as the decoder's widen at 2^w - 1). When the
   * table approaches the 4096-entry ceiling a ClearCode resets both sides —
   * without it, codes past 12 bits would silently truncate on
   * low-redundancy data (the test-side encoder in GeoTiffSpec never
   * clears; this one is the production path). The dictionary is an
   * open-addressing table of packed (prefixCode << 8 | byte) keys: at most
   * 3836 live entries in 8192 slots, reset with one Arrays.fill, so the
   * per-byte loop neither boxes nor rehashes.
   */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new LzwBits(data.length / 2 + 64)
    val Slots = 8192
    val keys = new Array[Int](Slots) // key + 1; 0 = empty slot
    val codes = new Array[Short](Slots)
    var width = 9
    var next = 258
    out.put(256, width) // initial Clear per spec
    var cur = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (cur < 0) cur = b
      else {
        val key = ((cur << 8) | b) + 1
        var slot = (key * 0x9E3779B1) >>> 19
        while (keys(slot) != 0 && keys(slot) != key) slot = (slot + 1) & (Slots - 1)
        if (keys(slot) == key) cur = codes(slot)
        else {
          out.put(cur, width)
          keys(slot) = key; codes(slot) = next.toShort; next += 1
          if (width < 12 && next >= (1 << width)) width += 1
          if (next >= 4094) { // table (nearly) full: reset both sides
            out.put(256, width)
            java.util.Arrays.fill(keys, 0); next = 258; width = 9
          }
          cur = b
        }
      }
      i += 1
    }
    if (cur >= 0) out.put(cur, width)
    out.put(257, width) // EOI
    out.result()
  }

  /** MSB-first code packer for [[lzwEncode]], into a growable byte array. */
  private final class LzwBits(capacity: Int) {
    private var buf = new Array[Byte](capacity)
    private var n = 0
    private var acc = 0L
    private var nAcc = 0

    def put(code: Int, width: Int): Unit = {
      acc = (acc << width) | code; nAcc += width
      while (nAcc >= 8) {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
        buf(n) = (acc >> (nAcc - 8)).toByte; n += 1; nAcc -= 8
      }
    }

    /** The packed bytes, the last one zero-padded. */
    def result(): Array[Byte] = {
      if (nAcc > 0) put(0, 8 - nAcc)
      java.util.Arrays.copyOf(buf, n)
    }
  }

  private def deflateBytes(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  private def inflateBytes(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var off = 0
    while (!inf.finished() && off < expected) {
      val n = inf.inflate(out, off, expected - off)
      // a truncated/corrupt stream makes inflate() return 0 with
      // finished=false forever — fail instead of spinning (this runs on
      // untrusted binaryFile content inside executors)
      if (n == 0 && !inf.finished())
        throw new IllegalArgumentException("truncated or corrupt DEFLATE block")
      off += n
    }
    inf.end()
    require(off == expected, s"short inflate: $off of $expected bytes")
    out
  }

  /** Chunks actually copied+inflated since JVM start (diagnostic: the
    * window/plane-skip claims are ASSERTED against this in GeoTiffSpec, not
    * just documented). Monotonic, thread-safe; test-only consumer. */
  private[graft] val chunksDecoded = new java.util.concurrent.atomic.AtomicLong(0)

  private final case class Entry(tag: Int, tpe: Int, count: Int, valueOrOffset: Long,
                                 inline: Array[Byte])

  /** Tag accessors over one IFD's entries. `inlineLimit` is the entry value
    * slot width: 4 (classic TIFF) or 8 (BigTIFF) — payloads at or under it
    * live inline in the entry, larger ones behind an offset. */
  private final class Tags(bytes: Array[Byte], buf: ByteBuffer, order: ByteOrder,
                           val entries: Map[Int, Entry], val inlineLimit: Int = 4) {
    def scalar(tag: Int, default: Long = -1): Long =
      entries.get(tag).map(_.valueOrOffset).getOrElse(default)
    /** Out-of-line payload bounds guard: Long math end-to-end (an Int
      * product like typeSize * count wraps negative on a corrupt BigTIFF
      * count and would sneak past the inline check into a multi-GiB
      * allocation), and the offset compare is overflow-safe
      * (base <= len - sz, never base + sz <= len). */
    @inline private def checkPayload(e: Entry, sz: Long): Unit =
      require(e.count >= 0 && e.valueOrOffset >= 0 &&
              e.valueOrOffset <= bytes.length - sz,
              s"tag ${e.tag}: payload (offset ${e.valueOrOffset}, $sz bytes) " +
                s"out of bounds (${bytes.length}-byte file)")
    def longs(tag: Int): Array[Long] = entries.get(tag) match {
      case None => Array.empty
      case Some(e) =>
        if (typeSize(e.tpe).toLong * e.count <= inlineLimit) {
          // inline payload: decode ALL count values from the value slot
          // (e.g. two SHORT strip byte-counts fit inline per the TIFF spec)
          val ib = ByteBuffer.wrap(e.inline).order(order)
          Array.tabulate(e.count) { i =>
            e.tpe match {
              case FtShort                     => (ib.getShort(2 * i) & 0xffff).toLong
              case FtLong                      => ib.getInt(4 * i).toLong & 0xffffffffL
              case FtLong8 | FtSlong8 | FtIfd8 => ib.getLong(8 * i)
              case 1                           => e.inline(i).toLong & 0xff
              case other   => throw new IllegalArgumentException(s"tag ${e.tag} type $other")
            }
          }
        } else {
          checkPayload(e, typeSize(e.tpe).toLong * e.count)
          val base = e.valueOrOffset.toInt
          Array.tabulate(e.count) { i =>
            e.tpe match {
              case FtShort                     => (buf.getShort(base + 2 * i) & 0xffff).toLong
              case FtLong                      => buf.getInt(base + 4 * i).toLong & 0xffffffffL
              case FtLong8 | FtSlong8 | FtIfd8 => buf.getLong(base + 8 * i)
              case other   => throw new IllegalArgumentException(s"tag ${e.tag} type $other")
            }
          }
        }
    }
    def doubles(tag: Int): Array[Double] = entries.get(tag) match {
      case None    => Array.empty
      case Some(e) =>
        // a single DOUBLE fits inline only in BigTIFF's 8-byte slot
        if (8L * e.count <= inlineLimit)
          Array.tabulate(e.count)(i =>
            ByteBuffer.wrap(e.inline).order(order).getDouble(8 * i))
        else {
          checkPayload(e, 8L * e.count)
          val base = e.valueOrOffset.toInt
          Array.tabulate(e.count)(i => buf.getDouble(base + 8 * i))
        }
    }
    def ascii(tag: Int): Option[String] = entries.get(tag).map { e =>
      val raw = if (e.count >= 0 && e.count <= inlineLimit) e.inline.take(e.count)
                else {
                  checkPayload(e, e.count.toLong)
                  java.util.Arrays.copyOfRange(bytes, e.valueOrOffset.toInt,
                                               e.valueOrOffset.toInt + e.count)
                }
      new String(raw, "US-ASCII").takeWhile(_ != '\u0000').trim
    }
  }

  /** Read one IFD's entry table; returns the accessors + next-IFD offset
    * (0 = end of chain). `big` selects the BigTIFF (version 43) layout:
    * u64 entry count, 20-byte entries (u64 count + 8-byte value slot),
    * u64 next pointer — vs classic's u16 / 12-byte / u32. */
  private def readIfd(bytes: Array[Byte], buf: ByteBuffer, order: ByteOrder,
                      ifdOff: Long, big: Boolean): (Tags, Long) = {
    // the ingest unit is a byte array, so any offset past the array is
    // unrepresentable — reject with a diagnostic instead of letting
    // .toInt wrap negative into an ArrayIndexOutOfBounds. (BigTIFF parses
    // fine, but payloads past 2 GiB still exceed byte-array ingest.)
    // overflow-safe form (ifdOff + 8 wraps negative on a corrupt BigTIFF
    // pointer near Long.MaxValue and would pass an additive compare)
    require(ifdOff >= 0 && ifdOff <= bytes.length - (if (big) 8 else 2).toLong,
      s"IFD offset $ifdOff out of bounds (${bytes.length} bytes; " +
        "files over 2 GiB are unsupported — byte-array ingest)")
    val entrySize = if (big) 20 else 12
    val headSize = if (big) 8 else 2
    val nEntries =
      if (big) {
        val n = buf.getLong(ifdOff.toInt)
        require(n >= 0 && n <= 0xffff, s"implausible BigTIFF IFD entry count $n")
        n.toInt
      } else buf.getShort(ifdOff.toInt) & 0xffff
    val entries = (0 until nEntries).map { i =>
      val off = ifdOff.toInt + headSize + i * entrySize
      val tag = buf.getShort(off) & 0xffff
      val tpe = buf.getShort(off + 2) & 0xffff
      val count =
        if (big) {
          val c = buf.getLong(off + 4)
          require(c >= 0 && c <= Int.MaxValue, s"tag $tag count $c exceeds byte-array ingest")
          c.toInt
        } else {
          val c = buf.getInt(off + 4)
          require(c >= 0, s"tag $tag negative count $c") // corrupt u32 count
          c
        }
      val vOff = off + (if (big) 12 else 8)
      val inline = java.util.Arrays.copyOfRange(bytes, vOff, vOff + (if (big) 8 else 4))
      val v = typeSize(tpe).toLong * count match {
        case sz if sz <= (if (big) 8 else 4) => firstValue(inline, tpe, order)
        case _ =>
          if (big) buf.getLong(vOff) else buf.getInt(vOff).toLong & 0xffffffffL
      }
      Entry(tag, tpe, count, v, inline)
    }.map(e => e.tag -> e).toMap
    val nextOff = ifdOff.toInt + headSize + nEntries * entrySize
    val next = if (big) buf.getLong(nextOff)
               else buf.getInt(nextOff).toLong & 0xffffffffL
    (new Tags(bytes, buf, order, entries, if (big) 8 else 4), next)
  }

  /** Parse the TIFF header: returns (buffer, byte order, first-IFD offset,
    * isBigTiff). Dispatches on the version word: 42 = classic TIFF,
    * 43 = BigTIFF (8-byte offsets — the format GDAL writes for COGs over
    * 4 GiB or with BIGTIFF=YES; the reference accepts it transparently
    * through GeoTools' TIFFImageReader). */
  private def openTiff(bytes: Array[Byte], itemId: String): (ByteBuffer, ByteOrder, Long, Boolean) = {
    require(bytes.length > 8, s"$itemId: not a TIFF")
    val le = bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte
    val be = bytes(0) == 'M'.toByte && bytes(1) == 'M'.toByte
    require(le || be, s"$itemId: bad TIFF byte-order marker")
    val order = if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val buf = ByteBuffer.wrap(bytes).order(order)
    buf.getShort(2) match {
      case 42 => (buf, order, buf.getInt(4).toLong & 0xffffffffL, false)
      case 43 =>
        require(bytes.length >= 16, s"$itemId: truncated BigTIFF header")
        // bytesize-of-offsets (always 8) + reserved zero word
        require(buf.getShort(4) == 8 && buf.getShort(6) == 0,
                s"$itemId: bad BigTIFF header (offset size ${buf.getShort(4)})")
        (buf, order, buf.getLong(8), true)
      case m => throw new IllegalArgumentException(s"$itemId: bad TIFF magic $m")
    }
  }

  /**
   * ColorMap (tag 320) of IFD0 as 8-bit RGB triples — present on paletted
   * files (PhotometricInterpretation 3, the categorical landcover product
   * shape). [[parse]] returns the palette INDICES as band values (the codes
   * a DataKey dictionary pairs with labels); this accessor recovers the
   * colors. TIFF stores 16-bit components, R plane then G then B
   * (TIFF 6.0 §5) — downscaled here by 257 (the exact inverse of the
   * writer's upscale).
   */
  def colorMap(bytes: Array[Byte], itemId: String = "tiff"): Option[Seq[(Int, Int, Int)]] = {
    val (buf, order, first, big) = openTiff(bytes, itemId)
    val (tags, _) = readIfd(bytes, buf, order, first, big)
    if (!tags.entries.contains(TColorMap)) None
    else {
      val vs = tags.longs(TColorMap)
      require(vs.length % 3 == 0, s"$itemId: ColorMap length ${vs.length} not 3N")
      val n = vs.length / 3
      Some(Seq.tabulate(n)(i =>
        ((vs(i) / 257).toInt, (vs(n + i) / 257).toInt, (vs(2 * n + i) / 257).toInt)))
    }
  }

  /** One subfile of the IFD chain: dimensions + the reduced-resolution flag
    * (NewSubfileType bit 0). */
  final case class IfdInfo(offset: Long, width: Int, height: Int, reduced: Boolean)

  /** The IFD chain (IFD0 first). A COG carries 1 + #overviews entries. */
  def ifdChain(bytes: Array[Byte], itemId: String = "tiff"): Seq[IfdInfo] = {
    val (buf, order, first, big) = openTiff(bytes, itemId)
    walkChain(bytes, buf, order, first, big).map { case (off, tags) =>
      IfdInfo(off, tags.scalar(TImageWidth).toInt, tags.scalar(TImageLength).toInt,
              (tags.scalar(TNewSubfileType, 0) & 1L) == 1L)
    }
  }

  /** The IFDs chained from offset `from` (0 = none), as (offset, tags); at
    * most 64 of them, so a cyclic chain ends. */
  private def walkChain(bytes: Array[Byte], buf: ByteBuffer, order: ByteOrder,
                        from: Long, big: Boolean): Seq[(Long, Tags)] = {
    val out = Seq.newBuilder[(Long, Tags)]
    var off = from
    var guard = 0
    while (off != 0 && guard < 64) {
      val (tags, next) = readIfd(bytes, buf, order, off, big)
      out += off -> tags
      off = next; guard += 1
    }
    out.result()
  }

  /** Header-only metadata (no pixel decode): full envelope, EPSG, IFD0
    * dims, band count. The assignment side of a COG mosaic probes this per
    * file — O(header bytes), never the image. */
  final case class Probe(minX: Double, maxX: Double, minY: Double, maxY: Double,
                         epsg: Int, width: Int, height: Int, bands: Int)

  def probe(bytes: Array[Byte], itemId: String = "tiff"): Probe = {
    val (buf, order, first, big) = openTiff(bytes, itemId)
    val (tags, _) = readIfd(bytes, buf, order, first, big)
    val g = georef(tags, itemId)
    Probe(g.minX, g.maxX, g.minY, g.maxY, g.epsg,
          tags.scalar(TImageWidth).toInt, tags.scalar(TImageLength).toInt,
          math.max(1, tags.scalar(TSamplesPerPixel, 1).toInt))
  }

  /** IFD0's full tag-derived envelope and EPSG. */
  private final case class Georef(minX: Double, maxX: Double, minY: Double, maxY: Double,
                                  epsg: Int)

  /** Georeferencing of IFD0: tiepoint (i,j,k, X,Y,Z) + pixel scale in IFD0's
    * grid. Overview subfiles carry none; the envelope (not the cell size)
    * transfers to them. */
  private def georef(tags0: Tags, itemId: String): Georef = {
    val scale = tags0.doubles(TModelPixelScale)
    val tie = tags0.doubles(TModelTiepoint)
    require(scale.length >= 2 && tie.length >= 5,
            s"$itemId: missing GeoTIFF georeferencing tags")
    val w0 = tags0.scalar(TImageWidth).toInt
    val h0 = tags0.scalar(TImageLength).toInt
    val minX = tie(3) - tie(0) * scale(0)
    val maxY = tie(4) + tie(1) * scale(1)
    // EPSG from the GeoKeyDirectory (2048 geographic / 3072 projected)
    // projected CRS key (3072) takes precedence: projected files carry BOTH
    // a geographic datum key (2048) and the projected code, and keys are
    // sorted ascending — matching 2048 first would misread UTM as 4326
    val keys = tags0.longs(TGeoKeyDirectory)
    val keyMap = keys.grouped(4).collect { case Array(k, _, _, v) => k -> v.toInt }.toMap
    Georef(minX, minX + w0 * scale(0), maxY - h0 * scale(1), maxY,
           keyMap.get(3072L).orElse(keyMap.get(2048L)).getOrElse(4326))
  }

  /** The subfile a decode reads, and IFD0, whose georeferencing and nodata
    * every subfile inherits (overview subfiles carry none). */
  private final case class Subfile(order: ByteOrder, tags: Tags, tags0: Tags)

  /** Open `bytes` at the subfile a decode of `targetCellWidth` reads: IFD0
    * when the target is 0, else the COARSEST subfile of the chain whose
    * cell width still resolves the target (cell <= target), IFD0 when every
    * overview is coarser than requested. */
  private def openSubfile(bytes: Array[Byte], itemId: String,
                          targetCellWidth: Double): Subfile = {
    val (buf, order, first, big) = openTiff(bytes, itemId)
    val (tags0, next0) = readIfd(bytes, buf, order, first, big)
    var best = tags0
    if (targetCellWidth > 0) {
      val w0 = tags0.scalar(TImageWidth).toInt
      val scale0 = tags0.doubles(TModelPixelScale)
      require(scale0.length >= 2, s"$itemId: missing GeoTIFF georeferencing tags")
      val spanX = w0 * scale0(0)
      var bestCw = spanX / w0
      walkChain(bytes, buf, order, next0, big).foreach { case (_, t) =>
        val cw = spanX / t.scalar(TImageWidth).toInt
        if (cw <= targetCellWidth && cw > bestCw) { best = t; bestCw = cw }
      }
    }
    Subfile(order, best, tags0)
  }

  /** A subfile's width and height: positive, and small enough to index. */
  private def dims(tags: Tags, itemId: String): (Int, Int) = {
    val w = tags.scalar(TImageWidth); val h = tags.scalar(TImageLength)
    require(w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue,
            s"$itemId: bad image dimensions ${w}x$h")
    (w.toInt, h.toInt)
  }

  /** The product of `factors` as an array length, or an
    * IllegalArgumentException naming `what` when it exceeds one. */
  private def arrayLength(what: => String, factors: Long*): Int = {
    val n = factors.foldLeft(BigInt(1))(_ * _)
    require(n <= Int.MaxValue, s"$what: $n exceeds byte-array ingest")
    n.toInt
  }

  /** Read a GeoTIFF into a [[Raster]] (all bands, full resolution).
    * `item_id` defaults to the file name stem, ts to 0 (the caller owns
    * temporal metadata). */
  def read(file: File, itemId: String = null, ts: Long = 0L): Raster = {
    val id = if (itemId != null) itemId else file.getName.replaceAll("\\.tiff?$", "")
    parse(Files.readAllBytes(Paths.get(file.getPath)), id, ts)
  }

  /**
   * Parse GeoTIFF bytes into a [[Raster]] (the distributed-scan entry: pair
   * with Spark's binaryFile source — each executor decodes its own files).
   * @param select          the bands to decode, in the given order (the
   *                        reference's BAND_PARAM / selectSampleDimension
   *                        path, RasterEncoder.java:107-113,
   *                        StacResource.java:433-437); None = all. With
   *                        planar interleave the unselected planes' chunks
   *                        are skipped without decompression.
   * @param targetCellWidth 0 = IFD0 at full resolution; else the COARSEST
   *                        subfile whose cell width still resolves the
   *                        target (the COG read path: a 4x overview for a
   *                        4x-coarser mosaic touches 1/16th of the bytes).
   *                        Georeferencing and nodata always come from IFD0.
   */
  def parse(bytes: Array[Byte], itemId: String, ts: Long = 0L,
            select: Option[Seq[Int]] = None, targetCellWidth: Double = 0.0): Raster = {
    val s = openSubfile(bytes, itemId, targetCellWidth)
    decodeSubfile(bytes, s, itemId, ts, select, None)
  }

  /** A decoded window and its place in the subfile it was cut from: the
    * subfile's width and height, and the window's cell offset in the
    * Raster frame (ox columns from the left, oy rows from the bottom), so a
    * sampler can work in that subfile's full grid. */
  final case class SubfileWindow(raster: Raster, gridW: Int, gridH: Int, ox: Int, oy: Int)

  /**
   * Windowed decode (the COG partial-read shape): decode ONLY the chunks
   * intersecting the world-coordinate window — on a tiled file the bytes
   * inflated are proportional to the window, not the image (a mosaic tile
   * touching one corner of a 10^5-pixel COG must not decompress the whole
   * grid). `select` and `targetCellWidth` are [[parse]]'s: the window is
   * cut from the chosen subfile. The window's raster has its own
   * (cell-aligned, clamped) envelope. None when the window misses the
   * image, so a bulk pipeline's MISS is cheap and silent while a corrupt
   * file still throws (an ingest must never drop unreadable items as
   * "missed windows").
   */
  def parseWindow(bytes: Array[Byte], itemId: String, ts: Long,
                  wMinX: Double, wMaxX: Double, wMinY: Double, wMaxY: Double,
                  select: Option[Seq[Int]] = None,
                  targetCellWidth: Double = 0.0): Option[SubfileWindow] = {
    val s = openSubfile(bytes, itemId, targetCellWidth)
    // world window -> pixel window in the chosen subfile's grid
    val Georef(minX, maxX, minY, maxY, _) = georef(s.tags0, itemId)
    val (w, h) = dims(s.tags, itemId)
    val cw = (maxX - minX) / w; val chh = (maxY - minY) / h
    @inline def clampI(v: Int, hi: Int) = math.max(0, math.min(v, hi))
    val px0 = clampI(math.floor((wMinX - minX) / cw).toInt, w - 1)
    val px1 = clampI(math.ceil((wMaxX - minX) / cw).toInt, w)
    val row0 = clampI(math.floor((maxY - wMaxY) / chh).toInt, h - 1)
    val row1 = clampI(math.ceil((maxY - wMinY) / chh).toInt, h)
    if (wMaxX <= minX || wMinX >= maxX || wMaxY <= minY || wMinY >= maxY ||
        px1 <= px0 || row1 <= row0) None
    else Some(SubfileWindow(
      decodeSubfile(bytes, s, itemId, ts, select, Some((px0, row0, px1 - px0, row1 - row0))),
      w, h, px0, h - row1))
  }

  /** Decode one subfile's pixel grid; georeferencing, EPSG and nodata are
    * read from IFD0. `window` (col0, topRow0, width, height in this
    * subfile's pixel grid) restricts the decode: chunks outside it are
    * never read or inflated. */
  private def decodeSubfile(bytes: Array[Byte], s: Subfile, itemId: String, ts: Long,
                            select: Option[Seq[Int]],
                            window: Option[(Int, Int, Int, Int)]): Raster = {
    val tags = s.tags; val order = s.order
    val (w, h) = dims(tags, itemId)
    val (vx0, vrow0, vw, vh) = window.getOrElse((0, 0, w, h))
    val spp = math.max(1, tags.scalar(TSamplesPerPixel, 1).toInt)
    val planarCfg = tags.scalar(TPlanarConfig, 1).toInt
    require(planarCfg == 1 || planarCfg == 2, s"$itemId: bad PlanarConfiguration $planarCfg")
    val bitsAll = tags.longs(TBitsPerSample)
    require(bitsAll.isEmpty || bitsAll.forall(_ == bitsAll.head),
            s"$itemId: heterogeneous BitsPerSample unsupported")
    val bits = bitsAll.headOption.getOrElse(1L).toInt
    val sfAll = tags.longs(TSampleFormat)
    require(sfAll.isEmpty || sfAll.forall(_ == sfAll.head),
            s"$itemId: heterogeneous SampleFormat unsupported")
    val sampleFormat = sfAll.headOption.getOrElse(1L).toInt // 1 uint, 2 int, 3 float
    val compression = tags.scalar(TCompression, 1).toInt
    require(compression == 1 || compression == 5 || compression == 8,
            s"unsupported TIFF compression $compression (only none/LZW/deflate)")
    // predictor (tag 317): silently ignoring it would decode GARBAGE from
    // the GDAL COGs that pair DEFLATE with predictor 2 (ints) / 3 (floats)
    val predictor = tags.scalar(TPredictor, 1).toInt
    require(predictor >= 1 && predictor <= 3, s"$itemId: unknown predictor $predictor")
    require(predictor != 2 || sampleFormat != 3,
            s"$itemId: predictor 2 applies to integer samples")
    require(predictor != 3 || sampleFormat == 3,
            s"$itemId: predictor 3 applies to floating-point samples")
    val bps = (bits + 7) / 8

    // the chunk grid: tiles (tags 322-325) left-to-right, top-to-bottom,
    // planes consecutive, edge tiles padded to the full tile size. A strip
    // is a tile as wide as the image and RowsPerStrip tall (TIFF 6.0's
    // default, 2^32-1, means one strip), unpadded, so the last may be short
    val planes = if (planarCfg == 2) spp else 1
    val sppC = if (planarCfg == 2) 1 else spp
    val tiled = tags.entries.contains(TTileOffsets)
    val (cwL, chL) =
      if (tiled) (tags.scalar(TTileWidth), tags.scalar(TTileLength))
      else (w.toLong, math.min(tags.scalar(TRowsPerStrip, h), h.toLong))
    require(cwL > 0 && chL > 0, s"$itemId: bad chunk dimensions ${cwL}x$chL")
    arrayLength(s"$itemId: bytes in a ${cwL}x$chL chunk", cwL, chL, sppC, bps)
    val cw = cwL.toInt; val ch = chL.toInt
    val rowBytes = cw * sppC * bps
    val across = ((w + cwL - 1) / cwL).toInt; val down = (h + chL - 1) / chL
    val offsets = tags.longs(if (tiled) TTileOffsets else TStripOffsets)
    val counts = tags.longs(if (tiled) TTileByteCounts else TStripByteCounts)
    require(offsets.length == across * down * planes && counts.length == offsets.length,
            s"$itemId: ${offsets.length} chunk offsets and ${counts.length} byte counts, " +
              s"expected ${across * down * planes}")
    val perPlane = offsets.length / planes

    // band selection: plane -> output slot (-1 = skip)
    val sel = select.getOrElse(0 until spp)
    sel.foreach(b => require(b >= 0 && b < spp, s"$itemId: band $b of $spp"))
    val destOf = Array.fill(spp)(-1)
    sel.zipWithIndex.foreach { case (b, i) => destOf(b) = i }
    val bands = Array.fill(sel.length)(
      new Array[Double](arrayLength(s"$itemId: ${vw}x$vh cells", vw, vh)))

    // GDAL_NODATA; a NaN nodata (or none) never equals a sample, so one
    // compare per sample tests it
    val nd = s.tags0.ascii(TGdalNodata).flatMap { txt =>
      val t = txt.trim
      if (t.equalsIgnoreCase("nan")) None else t.toDoubleOption
    }.getOrElse(Double.NaN)
    // the sample reader, picked once per subfile; an unsupported format
    // fails when a sample is read, so a decode that reads none succeeds
    val sampleAt: SampleReader = (sampleFormat, bits) match {
      case (3, 32) => (bb, idx) => bb.getFloat(idx).toDouble
      case (3, 64) => (bb, idx) => bb.getDouble(idx)
      case (2, 16) => (bb, idx) => bb.getShort(idx).toDouble
      case (2, 32) => (bb, idx) => bb.getInt(idx).toDouble
      case (1, 8)  => (bb, idx) => (bb.get(idx) & 0xff).toDouble
      case (1, 16) => (bb, idx) => (bb.getShort(idx) & 0xffff).toDouble
      case (1, 32) => (bb, idx) => (bb.getInt(idx).toLong & 0xffffffffL).toDouble
      case other   => (_, _) => throw new IllegalArgumentException(
        s"unsupported sample format/bits $other")
    }

    // decode chunk i, whose top-left cell is (x0, top-down row0); `plane`
    // >= 0 pins the band (planar config), else the sppC interleaved samples
    // map to bands 0..sppC-1 (chunky)
    def decodeChunk(i: Int, x0: Int, row0: Int, plane: Int): Unit = {
      val rows = if (tiled) ch else math.min(ch, h - row0)
      // window skip: a chunk wholly outside the decode window is never
      // copied or inflated (the COG partial-read property)
      if (x0 >= vx0 + vw || vx0 - x0 >= cw || row0 >= vrow0 + vh || vrow0 - row0 >= rows)
        return
      chunksDecoded.incrementAndGet()
      val off = offsets(i); val cnt = counts(i); val expected = rows * rowBytes
      // overflow-safe bounds guard (ADVICE r5): a corrupt BigTIFF LONG8
      // offset would otherwise alias through off.toInt (2^32+100 -> 100)
      // and decode the wrong bytes into pixel values instead of failing
      // with a diagnostic — mirror Tags.checkPayload for the chunk values
      require(off >= 0 && cnt >= 0 && off <= bytes.length.toLong - cnt,
        s"chunk offset/count out of range: off=$off cnt=$cnt file=${bytes.length}B")
      require(compression != 1 || cnt >= expected,
              s"$itemId: uncompressed chunk $i holds $cnt bytes, its $rows rows need $expected")
      val raw = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + cnt).toInt)
      val data0 = compression match {
        case 8 => inflateBytes(raw, expected)
        case 5 => lzwDecode(raw, expected)
        case _ => raw
      }
      val data = predictor match {
        case 3 => fpPredictDecode(data0, rowBytes, bps, order)
        case 2 => intPredictDecode(data0, rowBytes, bps, sppC, order)
        case _ => data0
      }
      val bb = ByteBuffer.wrap(data).order(order)
      // the chunk's rows and columns inside the window (and the image: edge
      // tiles are padded), clamped once per chunk
      val rrEnd = math.min(rows, math.min(vrow0 + vh, h) - row0)
      val xiLo = math.max(0, vx0 - x0); val xiEnd = math.min(cw, math.min(vx0 + vw, w) - x0)
      // output band of each interleaved sample (-1 = not selected)
      val dsts = if (plane >= 0) Array(destOf(plane)) else destOf
      var rr = math.max(0, vrow0 - row0)
      while (rr < rrEnd) {
        val y = vh - 1 - (row0 + rr - vrow0)
        var b = 0
        while (b < sppC) {
          val dst = dsts(b)
          if (dst >= 0) {
            val band = bands(dst)
            var xi = xiLo
            while (xi < xiEnd) {
              val v = sampleAt(bb, ((rr * cw + xi) * sppC + b) * bps)
              band((x0 + xi - vx0) * vh + y) = if (v == nd) Double.NaN else v
              xi += 1
            }
          }
          b += 1
        }
        rr += 1
      }
    }

    var p = 0
    while (p < planes) {
      if (planarCfg != 2 || destOf(p) >= 0) { // skip unselected planes wholesale
        var c = 0
        while (c < perPlane) {
          decodeChunk(p * perPlane + c, (c % across) * cw, (c / across) * ch,
                      if (planarCfg == 2) p else -1)
          c += 1
        }
      }
      p += 1
    }

    val Georef(minX, maxX, minY, maxY, epsg) = georef(s.tags0, itemId)

    // window envelope: cut from the full envelope along this subfile's
    // grid. Edges that coincide with the image keep the ORIGINAL bound
    // bitwise — a full decode must reproduce the exact tag-derived
    // envelope, not minX + w*((maxX-minX)/w) a last-ulp away.
    val cwSub = (maxX - minX) / w; val chSub = (maxY - minY) / h
    Raster(itemId, ts, vw, vh,
           if (vx0 == 0) minX else minX + vx0 * cwSub,
           if (vx0 + vw == w) maxX else minX + (vx0 + vw) * cwSub,
           if (vrow0 + vh == h) minY else maxY - (vrow0 + vh) * chSub,
           if (vrow0 == 0) maxY else maxY - vrow0 * chSub,
           epsg, bands.toSeq)
  }

  /** Reads the sample at a byte offset of a decoded chunk. */
  private abstract class SampleReader {
    def apply(bb: ByteBuffer, idx: Int): Double
  }

  private def firstValue(inline: Array[Byte], tpe: Int, order: ByteOrder): Long = {
    val b = ByteBuffer.wrap(inline).order(order)
    tpe match {
      case FtShort                     => (b.getShort(0) & 0xffff).toLong
      case FtAscii | 1                 => inline(0).toLong & 0xff
      case FtLong8 | FtSlong8 | FtIfd8 => b.getLong(0) // 8-byte slot (BigTIFF only)
      case _                           => b.getInt(0).toLong & 0xffffffffL
    }
  }

  private def typeSize(tpe: Int): Int = tpe match {
    case 1 | FtAscii | 6 | 7           => 1
    case FtShort | 8                   => 2
    case FtLong | 9 | 11               => 4
    case 5 | 10 | FtDouble             => 8
    case FtLong8 | FtSlong8 | FtIfd8   => 8
    case _                             => 4
  }
}
