package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Raster
import graft.sources.{GeoTiff, GeodataIO}

/** The pure-Scala GeoTIFF codec: bit-exact float64 round-trips, float32
  * narrowing, DEFLATE strips, NaN nodata, envelope/EPSG fidelity for
  * geographic and projected CRS, and the GeodataIO format dispatch. */
class GeoTiffSpec extends AnyFunSuite {

  private def tmp(suffix: String): File = {
    val f = File.createTempFile("graft_gtiff", suffix)
    f.deleteOnExit(); f
  }

  private def mkRaster(epsg: Int): Raster = {
    val w = 17; val h = 11
    val vals = Array.tabulate(w * h) { i =>
      if (i % 13 == 0) Double.NaN else (i * 31 % 97) + 0.25
    }
    Raster("t1", 42L, w, h, 10.0, 27.0, -5.0, 6.0, epsg, Seq(vals))
  }

  private def sameValues(a: Array[Double], b: Array[Double], tol: Double = 0.0): Unit = {
    assert(a.length == b.length)
    a.indices.foreach { i =>
      val ok = (a(i).isNaN && b(i).isNaN) || math.abs(a(i) - b(i)) <= tol
      assert(ok, s"cell $i: ${a(i)} vs ${b(i)}")
    }
  }

  test("float64 uncompressed round-trip is bit-exact incl. NaN") {
    val r = mkRaster(4326)
    val f = tmp(".tif")
    GeoTiff.write(r, f, bits = 64)
    val back = GeoTiff.read(f)
    assert((back.width, back.height) == (r.width, r.height))
    assert((back.minX, back.maxX, back.minY, back.maxY) == (10.0, 27.0, -5.0, 6.0))
    assert(back.epsg == 4326)
    sameValues(r.bands.head, back.bands.head)
  }

  test("float32 round-trip (values exact at float precision); projected epsg key") {
    val r = mkRaster(32618)
    val f = tmp(".tif")
    GeoTiff.write(r, f, bits = 32)
    val back = GeoTiff.read(f)
    assert(back.epsg == 32618)
    sameValues(r.bands.head.map(v => if (v.isNaN) v else v.toFloat.toDouble),
               back.bands.head)
  }

  test("deflate-compressed strip round-trips and is smaller on constant data") {
    val w = 64; val h = 64
    val flat = Raster("c", 0L, w, h, 0, 64, 0, 64, 3857,
      Seq(Array.fill(w * h)(7.5)))
    val fNone = tmp(".tif"); val fZip = tmp(".tif")
    GeoTiff.write(flat, fNone, deflate = false)
    GeoTiff.write(flat, fZip, deflate = true)
    assert(fZip.length < fNone.length / 4, s"${fZip.length} vs ${fNone.length}")
    sameValues(flat.bands.head, GeoTiff.read(fZip).bands.head)
    assert(GeoTiff.read(fZip).epsg == 3857)
  }

  test("numeric GDAL_NODATA maps to NaN on read") {
    // craft: write with a sentinel value, then patch the nodata tag is
    // overkill — instead write values containing -9999 and read through a
    // reader-path check by building the file with the public writer (writer
    // emits "nan"), so here we check the nan path explicitly
    val r = mkRaster(4326)
    val f = tmp(".tif")
    GeoTiff.write(r, f)
    val back = GeoTiff.read(f)
    assert(back.bands.head.count(_.isNaN) == r.bands.head.count(_.isNaN))
  }

  test("GeodataIO dispatches by extension; tif files resolve as primary") {
    val r = mkRaster(4326)
    val tif = tmp(".tif"); val container = tmp(".graster")
    GeodataIO.writeRaster(r, tif)
    GeodataIO.writeRaster(r, container)
    sameValues(GeodataIO.readRaster(tif).bands.head, r.bands.head)
    val cBack = GeodataIO.readRaster(container)
    assert(cBack.item_id == "t1" && cBack.ts == 42L) // container keeps identity
    sameValues(cBack.bands.head, r.bands.head)
    assert(GeodataIO.resolvePrimaryFile(Seq(tif)).contains(tif))
  }

  test("JDK ImageIO (independent TIFF implementation) reads our files bit-exactly") {
    for (deflate <- Seq(false, true)) {
      val w = 7; val h = 5
      val r = Raster("x", 0L, w, h, 0, 7, 0, 5, 4326,
        Seq(Array.tabulate(w * h)(i => i * 1.5)))
      val f = tmp(".tif")
      GeoTiff.write(r, f, bits = 32, deflate = deflate)
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("TIFF")
      assert(readers.hasNext, "JDK TIFF plugin missing")
      val reader = readers.next()
      reader.setInput(javax.imageio.ImageIO.createImageInputStream(f))
      val img = reader.read(0).getRaster
      assert((img.getWidth, img.getHeight) == (w, h))
      for (row <- 0 until h; x <- 0 until w) {
        val want = r.bands.head(x * h + (h - 1 - row)).toFloat
        assert(img.getSampleFloat(x, row, 0) == want, s"deflate=$deflate ($x,$row)")
      }
      reader.dispose()
    }
  }

  test("external-writer shapes: two strips with inline SHORT counts, dual geo keys") {
    // hand-crafted little-endian TIFF the way GDAL-like writers lay it out:
    // 4x4 float32, TWO strips of 2 rows, StripOffsets/ByteCounts as SHORT
    // count=2 (inline in the value slot), GeoKeyDirectory carrying BOTH the
    // geographic datum key (2048=4326) and the projected key (3072=32633)
    import java.nio.{ByteBuffer, ByteOrder}
    val w = 4; val h = 4
    val pix = Array.tabulate(w * h)(i => (i * 3 + 1).toFloat) // rows top-down
    val strip0 = 8; val strip1 = strip0 + 2 * w * 4
    val scaleOff = strip1 + 2 * w * 4
    val tieOff = scaleOff + 24
    val keysOff = tieOff + 48
    val geoKeys = Array(1, 1, 0, 3, 1024, 0, 1, 1, 2048, 0, 1, 4326, 3072, 0, 1, 32633)
    val ifdOff = keysOff + geoKeys.length * 2
    val entries = 13
    val buf = ByteBuffer.allocate(ifdOff + 2 + entries * 12 + 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    pix.foreach(buf.putFloat)
    Array(0.5, 0.25, 0.0).foreach(buf.putDouble)           // pixel scale
    Array(0.0, 0.0, 0.0, 100.0, 50.0, 0.0).foreach(buf.putDouble) // tiepoint
    geoKeys.foreach(k => buf.putShort(k.toShort))
    def entry(tag: Int, tpe: Int, count: Int)(writeValue: ByteBuffer => Unit): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(count)
      val before = buf.position(); writeValue(buf)
      while (buf.position() < before + 4) buf.put(0.toByte)
    }
    buf.putShort(entries.toShort)
    entry(256, 4, 1)(_.putInt(w)); entry(257, 4, 1)(_.putInt(h))
    entry(258, 3, 1)(_.putShort(32)); entry(259, 3, 1)(_.putShort(1))
    entry(262, 3, 1)(_.putShort(1))
    entry(273, 3, 2)(b => { b.putShort(strip0.toShort); b.putShort(strip1.toShort) })
    entry(277, 3, 1)(_.putShort(1)); entry(278, 4, 1)(_.putInt(2))
    entry(279, 3, 2)(b => { b.putShort((2 * w * 4).toShort); b.putShort((2 * w * 4).toShort) })
    entry(339, 3, 1)(_.putShort(3))
    entry(33550, 12, 3)(_.putInt(scaleOff)); entry(33922, 12, 6)(_.putInt(tieOff))
    entry(34735, 3, geoKeys.length)(_.putInt(keysOff))
    buf.putInt(0)
    val f = tmp(".tif")
    java.nio.file.Files.write(f.toPath, buf.array())

    val r = GeoTiff.read(f)
    assert(r.epsg == 32633, "projected key must win over the geographic datum key")
    assert((r.width, r.height) == (4, 4))
    assert((r.minX, r.maxY) == (100.0, 50.0))
    assert(r.maxX == 100.0 + 4 * 0.5 && r.minY == 50.0 - 4 * 0.25)
    // both strips decoded: cell (x, y) with y south-up = pix(row * w + x)
    for (x <- 0 until 4; row <- 0 until 4)
      assert(r.bands.head(x * 4 + (3 - row)) == pix(row * 4 + x).toDouble, s"($x,$row)")
  }

  test("big-endian (MM) external files read correctly") {
    import java.nio.{ByteBuffer, ByteOrder}
    // minimal MM TIFF: 3x2 float32, one strip, scale/tiepoint georeferencing
    val w = 3; val h = 2
    val pix = Array.tabulate(w * h)(i => (i + 1) * 0.5f)
    val stripOff = 8; val scaleOff = stripOff + w * h * 4
    val tieOff = scaleOff + 24; val ifdOff = tieOff + 48
    val nE = 11
    val buf = ByteBuffer.allocate(ifdOff + 2 + nE * 12 + 4).order(ByteOrder.BIG_ENDIAN)
    buf.put('M'.toByte).put('M'.toByte).putShort(42).putInt(ifdOff)
    pix.foreach(buf.putFloat)
    Array(1.0, 2.0, 0.0).foreach(buf.putDouble)
    Array(0.0, 0.0, 0.0, 10.0, 20.0, 0.0).foreach(buf.putDouble)
    def entry(tag: Int, tpe: Int, count: Int)(wv: ByteBuffer => Unit): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(count)
      val before = buf.position(); wv(buf)
      while (buf.position() < before + 4) buf.put(0.toByte)
    }
    buf.putShort(nE.toShort)
    entry(256, 4, 1)(_.putInt(w)); entry(257, 4, 1)(_.putInt(h))
    entry(258, 3, 1)(_.putShort(32)); entry(259, 3, 1)(_.putShort(1))
    entry(262, 3, 1)(_.putShort(1)); entry(273, 4, 1)(_.putInt(stripOff))
    entry(278, 4, 1)(_.putInt(h)); entry(279, 4, 1)(_.putInt(w * h * 4))
    entry(339, 3, 1)(_.putShort(3))
    entry(33550, 12, 3)(_.putInt(scaleOff)); entry(33922, 12, 6)(_.putInt(tieOff))
    buf.putInt(0)
    val f = tmp(".tif")
    java.nio.file.Files.write(f.toPath, buf.array())
    val r = GeoTiff.read(f)
    assert((r.width, r.height) == (3, 2))
    assert((r.minX, r.maxY) == (10.0, 20.0) && r.maxX == 13.0 && r.minY == 16.0)
    assert(r.epsg == 4326) // no geo keys -> default
    for (x <- 0 until w; row <- 0 until h)
      assert(r.bands.head(x * h + (h - 1 - row)) == pix(row * w + x).toDouble, s"($x,$row)")
  }

  test("reader rejects junk and wrong magic") {
    val f = tmp(".tif")
    java.nio.file.Files.write(f.toPath, "not a tiff at all".getBytes)
    intercept[IllegalArgumentException](GeoTiff.read(f))
  }

  private def mkMulti(w: Int = 37, h: Int = 23): Raster = {
    // 3 bands; NaN sprinkled differently per band
    val bands = (0 until 3).map(b => Array.tabulate(w * h) { i =>
      if ((i + b) % 11 == 0) Double.NaN else (i * 31 + b * 7) % 97 + 0.5
    })
    Raster("m1", 7L, w, h, 0.0, w.toDouble, 0.0, h.toDouble, 32618, bands)
  }

  test("multi-band tiled round-trip: chunky/planar x deflate x float32/64") {
    val r = mkMulti()
    for {
      planar <- Seq(1, 2)
      deflate <- Seq(false, true)
      bits <- Seq(32, 64)
      tile <- Seq(None, Some((16, 16)))
    } {
      val f = tmp(".tif")
      GeoTiff.writeFull(r, f, bits = bits, deflate = deflate, tile = tile, planar = planar)
      val back = GeoTiff.read(f)
      val label = s"planar=$planar deflate=$deflate bits=$bits tile=$tile"
      assert(back.bands.length == 3, label)
      assert(back.epsg == 32618 && (back.width, back.height) == (r.width, r.height), label)
      for (b <- 0 until 3)
        sameValues(
          if (bits == 32) r.bands(b).map(v => if (v.isNaN) v else v.toFloat.toDouble)
          else r.bands(b),
          back.bands(b))
    }
  }

  test("band select decodes only requested bands, in requested order") {
    val r = mkMulti()
    for (planar <- Seq(1, 2); tile <- Seq(None, Some((16, 16)))) {
      val f = tmp(".tif")
      GeoTiff.writeFull(r, f, deflate = true, tile = tile, planar = planar)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val back = GeoTiff.parse(bytes, "m1", 7L, Some(Seq(2, 0)))
      assert(back.bands.length == 2)
      sameValues(r.bands(2), back.bands(0))
      sameValues(r.bands(0), back.bands(1))
    }
  }

  test("tiled single-band with non-multiple image dims pads edge tiles correctly") {
    val r = mkRaster(4326) // 17x11 — both dims straddle one 16x16 tile edge
    val f = tmp(".tif")
    GeoTiff.writeFull(r, f, tile = Some((16, 16)), deflate = true)
    sameValues(r.bands.head, GeoTiff.read(f).bands.head)
  }

  test("JDK ImageIO reads our tiled multi-band chunky files bit-exactly") {
    val r = mkMulti(20, 18)
    val noNaN = Raster(r.item_id, r.ts, r.width, r.height, r.minX, r.maxX,
      r.minY, r.maxY, r.epsg, r.bands.map(_.map(v => if (v.isNaN) -1.0 else v)))
    val f = tmp(".tif")
    GeoTiff.writeFull(noNaN, f, bits = 32, deflate = true, tile = Some((16, 16)))
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("TIFF")
    assert(readers.hasNext, "JDK TIFF plugin missing")
    val reader = readers.next()
    reader.setInput(javax.imageio.ImageIO.createImageInputStream(f))
    val img = reader.read(0).getRaster
    assert((img.getWidth, img.getHeight) == (r.width, r.height))
    for (b <- 0 until 3; row <- 0 until r.height; x <- 0 until r.width) {
      val want = noNaN.bands(b)(x * r.height + (r.height - 1 - row)).toFloat
      assert(img.getSampleFloat(x, row, b) == want, s"b=$b ($x,$row)")
    }
    reader.dispose()
    // and the LZW writer against the same INDEPENDENT decoder (the JDK
    // TIFF plugin implements spec LZW — any cadence/clear defect in
    // lzwEncode that our own lzwDecode happened to mirror would surface)
    val fl = tmp(".tif")
    GeoTiff.writeFull(noNaN, fl, bits = 32, tile = Some((16, 16)), lzw = true)
    val readers2 = javax.imageio.ImageIO.getImageReadersByFormatName("TIFF")
    val reader2 = readers2.next()
    reader2.setInput(javax.imageio.ImageIO.createImageInputStream(fl))
    val img2 = reader2.read(0).getRaster
    for (b <- 0 until 3; row <- 0 until r.height; x <- 0 until r.width) {
      val want = noNaN.bands(b)(x * r.height + (r.height - 1 - row)).toFloat
      assert(img2.getSampleFloat(x, row, b) == want, s"lzw b=$b ($x,$row)")
    }
    reader2.dispose()
  }

  test("overview IFDs: chain structure, decimation values, selection policy") {
    val w = 32; val h = 16
    val full = Raster("ov", 5L, w, h, 0.0, 32.0, 0.0, 16.0, 32618,
      Seq(Array.tabulate(w * h)(i => ((i / h) * 31 + (i % h) * 17) % 97 + 0.5)))
    for (tile <- Seq(None, Some((16, 16))); deflate <- Seq(false, true)) {
      val f = tmp(".tif")
      GeoTiff.writeFull(full, f, bits = 64, deflate = deflate, tile = tile,
                        overviews = Seq(2, 4))
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val label = s"tile=$tile deflate=$deflate"
      // chain: full + two reduced subfiles with halved dims
      val chain = GeoTiff.ifdChain(bytes)
      assert(chain.map(c => (c.width, c.height, c.reduced)) ==
        Seq((32, 16, false), (16, 8, true), (8, 4, true)), label)
      // IFD0 path unchanged
      sameValues(full.bands.head, GeoTiff.parse(bytes, "ov").bands.head)
      // target cell 2.0 -> factor-2 overview; values = full(2x, 2y);
      // envelope and epsg inherited from IFD0
      val ov2 = GeoTiff.parse(bytes, "ov", 5L, targetCellWidth = 2.0)
      assert((ov2.width, ov2.height) == (16, 8), label)
      assert((ov2.minX, ov2.maxX, ov2.minY, ov2.maxY) == (0.0, 32.0, 0.0, 16.0))
      assert(ov2.epsg == 32618 && ov2.ts == 5L)
      for (x <- 0 until 16; y <- 0 until 8)
        assert(ov2.bands.head(x * 8 + y) == full.bands.head(2 * x * h + 2 * y),
               s"$label ($x,$y)")
      // target cell 4.0 -> factor-4; 3.9 -> factor-2 (coarsest that still
      // resolves); 0.5 -> full resolution (no overview fine enough)
      assert(GeoTiff.parse(bytes, "ov", 5L, targetCellWidth = 4.0).width == 8, label)
      assert(GeoTiff.parse(bytes, "ov", 5L, targetCellWidth = 3.9).width == 16, label)
      assert(GeoTiff.parse(bytes, "ov", 5L, targetCellWidth = 0.5).width == 32, label)
    }
  }

  test("overviews on multi-band files respect band selection") {
    val r = mkMulti(32, 16)
    val f = tmp(".tif")
    GeoTiff.writeFull(r, f, bits = 64, deflate = true, planar = 2, overviews = Seq(2))
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val ov = GeoTiff.parse(bytes, "m1", 7L, Some(Seq(2)), 2.0)
    assert(ov.bands.length == 1 && (ov.width, ov.height) == (16, 8))
    for (x <- 0 until 16; y <- 0 until 8) {
      val want = r.bands(2)(2 * x * 16 + 2 * y)
      val got = ov.bands.head(x * 8 + y)
      assert((want.isNaN && got.isNaN) || want == got, s"($x,$y)")
    }
  }

  test("JDK ImageIO sees the overview chain as additional images") {
    val r = mkRaster(4326)
    val f = tmp(".tif")
    GeoTiff.writeFull(r, f, bits = 32, overviews = Seq(2))
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("TIFF")
    val reader = readers.next()
    reader.setInput(javax.imageio.ImageIO.createImageInputStream(f))
    assert(reader.getNumImages(true) == 2)
    assert(reader.read(1).getWidth == (r.width + 1) / 2)
    reader.dispose()
  }

  /** A hand-built uncompressed little-endian GeoTIFF of `spp` chunky
    * samples per pixel in (sampleFormat, bits), over [0, w) x [0, h) in
    * unit cells: 16x16 tiles, or strips of 5 rows. `raw(x, row, b)` is the
    * sample at column x of top-down row `row`; padding samples of edge
    * tiles are 0. `nodata` is the GDAL_NODATA tag's text. */
  private def craftTiff(w: Int, h: Int, spp: Int, sampleFormat: Int, bits: Int,
                        tiled: Boolean, nodata: String)
                       (raw: (Int, Int, Int) => Long): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val bps = bits / 8
    val (cw, ch) = if (tiled) (16, 16) else (w, 5)
    val across = (w + cw - 1) / cw; val down = (h + ch - 1) / ch
    val chunkRows = (c: Int) => if (tiled) ch else math.min(ch, h - (c / across) * ch)
    val sizes = Array.tabulate(across * down)(c => cw * chunkRows(c) * spp * bps)
    val ascii = nodata.getBytes("US-ASCII") :+ 0.toByte
    val dataOff = 8
    val scaleOff = dataOff + sizes.sum; val tieOff = scaleOff + 24
    val offsOff = tieOff + 48; val cntsOff = offsOff + 4 * sizes.length
    val ndOff = cntsOff + 4 * sizes.length
    val ifdOff = ndOff + ascii.length + 1 & ~1
    require(spp <= 2)
    val nE = if (tiled) 14 else 13
    val buf = ByteBuffer.allocate(ifdOff + 2 + nE * 12 + 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    for (c <- sizes.indices; rr <- 0 until chunkRows(c); xi <- 0 until cw; b <- 0 until spp) {
      val x = (c % across) * cw + xi; val row = (c / across) * ch + rr
      val v = if (x < w && row < h) raw(x, row, b) else 0L
      bits match {
        case 8 => buf.put(v.toByte)
        case 16 => buf.putShort(v.toShort)
        case 32 => buf.putInt(v.toInt)
        case 64 => buf.putLong(v)
      }
    }
    Array(1.0, 1.0, 0.0).foreach(buf.putDouble)
    Array(0.0, 0.0, 0.0, 0.0, h.toDouble, 0.0).foreach(buf.putDouble)
    sizes.scanLeft(dataOff)(_ + _).init.foreach(buf.putInt)
    sizes.foreach(buf.putInt)
    buf.put(ascii)
    buf.position(ifdOff)
    def entry(tag: Int, tpe: Int, count: Int)(wv: ByteBuffer => Unit): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(count)
      val before = buf.position(); wv(buf)
      while (buf.position() < before + 4) buf.put(0.toByte)
    }
    // per-sample SHORTs fit inline for spp <= 2; one chunk's LONG inline
    val perSample = (v: Int) => (bb: ByteBuffer) => (0 until spp).foreach(_ => bb.putShort(v.toShort))
    val n = sizes.length
    val offsets = (bb: ByteBuffer) => { bb.putInt(if (n == 1) dataOff else offsOff); () }
    val counts = (bb: ByteBuffer) => { bb.putInt(if (n == 1) sizes(0) else cntsOff); () }
    buf.putShort(nE.toShort)
    entry(256, 4, 1)(_.putInt(w)); entry(257, 4, 1)(_.putInt(h))
    entry(258, 3, spp)(perSample(bits)); entry(259, 3, 1)(_.putShort(1))
    entry(262, 3, 1)(_.putShort(1))
    if (!tiled) entry(273, 4, n)(offsets)
    entry(277, 3, 1)(_.putShort(spp.toShort))
    if (!tiled) { entry(278, 4, 1)(_.putInt(ch)); entry(279, 4, n)(counts) }
    if (tiled) {
      entry(322, 4, 1)(_.putInt(cw)); entry(323, 4, 1)(_.putInt(ch))
      entry(324, 4, n)(offsets); entry(325, 4, n)(counts)
    }
    entry(339, 3, spp)(perSample(sampleFormat))
    entry(33550, 12, 3)(_.putInt(scaleOff)); entry(33922, 12, 6)(_.putInt(tieOff))
    entry(42113, 2, ascii.length)(bb => if (ascii.length <= 4) bb.put(ascii) else bb.putInt(ndOff))
    buf.putInt(0)
    buf.array()
  }

  test("windowed decode equals a manual crop of the full parse") {
    def crop(bytes: Array[Byte], full: Raster, x0: Int, x1: Int, y0: Int, y1: Int,
             label: String): Unit = {
      val wr = GeoTiff.parseWindow(bytes, full.item_id, full.ts,
                                   x0.toDouble, x1.toDouble, y0.toDouble, y1.toDouble).get.raster
      assert((wr.minX, wr.maxX, wr.minY, wr.maxY) ==
             (x0.toDouble, x1.toDouble, y0.toDouble, y1.toDouble), label)
      assert((wr.width, wr.height) == (x1 - x0, y1 - y0), label)
      for (b <- full.bands.indices; x <- 0 until wr.width; y <- 0 until wr.height) {
        val want = full.bands(b)((x + x0) * full.height + (y + y0))
        val got = wr.bands(b)(x * wr.height + y)
        assert(java.lang.Double.doubleToRawLongBits(want) == java.lang.Double.doubleToRawLongBits(got),
               s"$label b=$b ($x,$y)")
      }
    }
    // windows whose edges fall inside 16x16 tiles and 5-row strips, one
    // chunk wide, and the whole image
    val windows = Seq((5, 21, 3, 14), (17, 18, 6, 7), (0, 37, 0, 23), (15, 33, 1, 22), (31, 37, 19, 23))
    val r = mkMulti(37, 23) // deliberately straddles 16x16 tile edges
    for (tile <- Seq(None, Some((16, 16))); planar <- Seq(1, 2)) {
      val f = tmp(".tif")
      GeoTiff.writeFull(r, f, deflate = true, tile = tile, planar = planar)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val full = GeoTiff.parse(bytes, "m1", 7L)
      windows.foreach { case (x0, x1, y0, y1) =>
        crop(bytes, full, x0, x1, y0, y1, s"tile=$tile planar=$planar window=($x0,$x1,$y0,$y1)")
      }
    }
    // every sample format and width the reader supports, two chunky samples
    // per pixel, with a numeric GDAL_NODATA: the full parse reads the values
    // (nodata -> NaN) and every window crops it
    val w = 37; val h = 23
    for ((fmt, bits, nd) <- Seq((1, 8, 200L), (1, 16, 60000L), (1, 32, 4000000000L),
                                (2, 16, -300L), (2, 32, -2000000000L),
                                (3, 32, java.lang.Float.floatToRawIntBits(-9999.5f).toLong),
                                (3, 64, java.lang.Double.doubleToRawLongBits(-9999.25)));
         tiled <- Seq(false, true)) {
      def value(x: Int, row: Int, b: Int): Double = (x * 7 + row * 3 + b * 5) % 41 - 20.5
      // the sample's stored bits; every 11th cell of band b holds nodata
      def raw(x: Int, row: Int, b: Int): Long =
        if ((x * h + row + b) % 11 == 0) nd
        else fmt match {
          case 3 if bits == 32 => java.lang.Float.floatToRawIntBits(value(x, row, b).toFloat).toLong
          case 3 => java.lang.Double.doubleToRawLongBits(value(x, row, b))
          case 2 => (value(x, row, b) * 2).toLong
          case _ => (value(x, row, b) * 2 + 41).toLong
        }
      val ndText = fmt match {
        case 3 if bits == 32 => "-9999.5"
        case 3 => "-9999.25"
        case _ => nd.toString
      }
      val label = s"format=$fmt bits=$bits tiled=$tiled"
      val bytes = craftTiff(w, h, 2, fmt, bits, tiled, ndText)(raw)
      val full = GeoTiff.parse(bytes, "c", 3L)
      assert(full.bands.length == 2 && (full.width, full.height) == (w, h), label)
      for (b <- 0 until 2; x <- 0 until w; row <- 0 until h) {
        val got = full.bands(b)(x * h + (h - 1 - row))
        val want =
          if ((x * h + row + b) % 11 == 0) Double.NaN
          else fmt match {
            case 3 if bits == 32 => value(x, row, b).toFloat.toDouble
            case 3 => value(x, row, b)
            case 2 => value(x, row, b) * 2
            case _ => value(x, row, b) * 2 + 41
          }
        assert((want.isNaN && got.isNaN) || want == got, s"$label b=$b ($x,$row): $got vs $want")
      }
      windows.foreach { case (x0, x1, y0, y1) =>
        crop(bytes, full, x0, x1, y0, y1, s"$label window=($x0,$x1,$y0,$y1)")
      }
    }
  }

  test("windowed decode INFLATES only intersecting chunks (measured, not claimed)") {
    // 128x128 image in 16x16 tiles = 64 tiles; a one-tile window must
    // decode exactly 1 chunk, the full parse all 64
    val w = 128; val h = 128
    val r = Raster("big", 0L, w, h, 0.0, 128.0, 0.0, 128.0, 4326,
      Seq(Array.tabulate(w * h)(i => (i % 251).toDouble)))
    val f = tmp(".tif")
    GeoTiff.writeFull(r, f, bits = 32, deflate = true, tile = Some((16, 16)))
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val c0 = GeoTiff.chunksDecoded.get()
    GeoTiff.parse(bytes, "big")
    val full = GeoTiff.chunksDecoded.get() - c0
    assert(full == 64L, s"full decode touched $full chunks")
    val c1 = GeoTiff.chunksDecoded.get()
    GeoTiff.parseWindow(bytes, "big", 0L, 33.0, 45.0, 81.0, 93.0) // inside one tile... spans 2x2 tile grid at most
    val windowed = GeoTiff.chunksDecoded.get() - c1
    assert(windowed <= 4L, s"window decode touched $windowed chunks")
    // planar skip: a 3-band planar file decodes a single selected band's
    // strips only
    val m = mkMulti(32, 16)
    val fp = tmp(".tif")
    GeoTiff.writeFull(m, fp, deflate = true, planar = 2)
    val bp = java.nio.file.Files.readAllBytes(fp.toPath)
    val c2 = GeoTiff.chunksDecoded.get()
    GeoTiff.parse(bp, "m1", 7L, Some(Seq(1)))
    assert(GeoTiff.chunksDecoded.get() - c2 == 1L)
  }

  test("windowed decode: clamping, full-cover bitwise envelope, None on a miss") {
    val r = mkRaster(4326) // 17x11 over [10,27]x[-5,6]
    val f = tmp(".tif")
    GeoTiff.writeFull(r, f, tile = Some((16, 16)), deflate = true)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    // window larger than the image clamps to the exact original envelope
    val all = GeoTiff.parseWindow(bytes, "t1", 0L, -100.0, 100.0, -100.0, 100.0).get.raster
    assert((all.minX, all.maxX, all.minY, all.maxY) == (10.0, 27.0, -5.0, 6.0))
    sameValues(r.bands.head, all.bands.head)
    // a disjoint window is a miss, not an error; a corrupt file still throws
    assert(GeoTiff.parseWindow(bytes, "t1", 0L, 200.0, 300.0, 0.0, 1.0).isEmpty)
    intercept[IllegalArgumentException](
      GeoTiff.parseWindow("not a tiff at all".getBytes, "t1", 0L, 200.0, 300.0, 0.0, 1.0))
  }

  test("windowed decode composes with overview selection") {
    val w = 32; val h = 16
    val full = Raster("ov", 5L, w, h, 0.0, 32.0, 0.0, 16.0, 4326,
      Seq(Array.tabulate(w * h)(i => ((i / h) * 31 + (i % h) * 17) % 97 + 0.5)))
    val f = tmp(".tif")
    GeoTiff.writeFull(full, f, tile = Some((16, 16)), deflate = true, overviews = Seq(2))
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    // factor-2 overview grid: cells of 2 world units; window [4,12)x[2,10)
    val wr = GeoTiff.parseWindow(bytes, "ov", 5L, 4.0, 12.0, 2.0, 10.0,
                                 targetCellWidth = 2.0).get.raster
    assert((wr.width, wr.height) == (4, 4))
    assert((wr.minX, wr.maxX, wr.minY, wr.maxY) == (4.0, 12.0, 2.0, 10.0))
    for (x <- 0 until 4; y <- 0 until 4) {
      // overview cell (x+2, y+1) = full(2(x+2), 2(y+1))
      val want = full.bands.head((2 * (x + 2)) * h + 2 * (y + 1))
      assert(wr.bands.head(x * 4 + y) == want, s"($x,$y)")
    }
  }

  test("palette round-trip: photometric 3 codes + ColorMap, strip and tiled") {
    val w = 37; val h = 23
    val codes = Array.tabulate(w * h)(i => ((i * 31 + i / h * 17) % 6).toDouble)
    val r = Raster("pal", 1L, w, h, 0.0, 37.0, 0.0, 23.0, 4326, Seq(codes))
    val pal = Seq.tabulate(6)(c => (c * 40, 255 - c * 40, c * 20))
    for (tile <- Seq(None, Some((16, 16))); deflate <- Seq(false, true)) {
      val bytes = GeoTiff.encode(r, bits = 8, deflate = deflate, tile = tile,
                                 palette = Some(pal))
      val back = GeoTiff.parse(bytes, "pal", 1L)
      sameValues(back.bands.head, codes) // indices ARE the decoded values
      assert((back.minX, back.maxX, back.minY, back.maxY) == (0.0, 37.0, 0.0, 23.0))
      // 257-scale exact inverse; map is padded to 2^bits entries
      assert(GeoTiff.colorMap(bytes).map(_.take(6)).contains(pal))
    }
    // 16-bit indices hold codes past 255
    val big = Raster("pal16", 1L, 8, 4, 0.0, 8.0, 0.0, 4.0, 4326,
                     Seq(Array.tabulate(32)(i => (i * 37 % 300).toDouble)))
    val pal16 = Seq.tabulate(300)(c => (c % 256, (c * 7) % 256, (c * 13) % 256))
    val b16 = GeoTiff.encode(big, bits = 16, palette = Some(pal16))
    sameValues(GeoTiff.parse(b16, "pal16").bands.head, big.bands.head)
    assert(GeoTiff.colorMap(b16).map(_.take(300)).contains(pal16))
    // non-palette files have no color map; oversized palettes are rejected
    assert(GeoTiff.colorMap(GeoTiff.encode(mkRaster(4326))).isEmpty)
    intercept[IllegalArgumentException](
      GeoTiff.encode(big, bits = 8, palette = Some(pal16)))
  }

  test("JDK ImageIO reads our paletted files (independent implementation)") {
    val w = 20; val h = 10
    val codes = Array.tabulate(w * h)(i => (i % 5).toDouble)
    val r = Raster("palio", 1L, w, h, 0.0, 20.0, 0.0, 10.0, 4326, Seq(codes))
    val pal = Seq.tabulate(5)(c => (c * 50, 40 + c * 30, 255 - c * 50))
    val f = tmp(".tif")
    GeoTiff.writeFull(r, f, bits = 8, palette = Some(pal))
    val img = javax.imageio.ImageIO.read(f)
    assert(img != null, "ImageIO could not read the paletted file")
    // ImageIO expands palette to RGB: probe a few pixels against the map
    for (x <- Seq(0, 7, 19); y <- Seq(0, 4, 9)) {
      val code = codes(x * h + (h - 1 - y)).toInt // row y is top-down
      val rgb = img.getRGB(x, y)
      val got = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      assert(got == pal(code), s"pixel ($x,$y) code $code")
    }
  }

  test("exportObservation: zip target bundles tiff + vat sidecar deterministically") {
    import graft.raster.DataKey
    val r = mkRaster(4326)
    val key = DataKey.fromLabels(Seq("forest", "urban", "water"))
    val d1 = java.nio.file.Files.createTempDirectory("graft_exp1").toFile
    val d2 = java.nio.file.Files.createTempDirectory("graft_exp2").toFile
    d1.deleteOnExit(); d2.deleteOnExit()
    val zip1 = new File(d1, "obs.zip"); val zip2 = new File(d2, "obs.zip")
    zip1.deleteOnExit(); zip2.deleteOnExit()
    GeodataIO.exportObservation(r, zip1, Some(key))
    GeodataIO.exportObservation(r, zip2, Some(key))
    // deterministic archive bytes: same raster -> same zip
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(zip1.toPath),
      java.nio.file.Files.readAllBytes(zip2.toPath)))
    // entries: the tiff + the vat table; the tiff round-trips
    val zf = new java.util.zip.ZipFile(zip1)
    try {
      val names = {
        val e = zf.entries(); val b = Seq.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result()
      }
      assert(names.count(_.endsWith(".tiff")) == 1)
      assert(names.count(_.endsWith(".tiff.vat.csv")) == 1)
      val tiffEntry = names.find(_.endsWith(".tiff")).get
      val bytes = zf.getInputStream(zf.getEntry(tiffEntry)).readAllBytes()
      sameValues(r.bands.head, GeoTiff.parse(bytes, "z").bands.head)
      val vat = new String(zf.getInputStream(
        zf.getEntry(names.find(_.endsWith(".vat.csv")).get)).readAllBytes(), "UTF-8")
      assert(vat.contains("forest") && vat.startsWith("Value,Label"))
    } finally zf.close()
    // non-zip target: returns the tiff written next to it
    val plain = tmp(".tiff")
    val produced = GeodataIO.exportObservation(r, plain)
    assert(produced.getName.endsWith(".tiff") && produced.exists())
  }

  test("floating-point predictor (3) round-trips bit-exactly") {
    // the predictor exists for READ COMPATIBILITY (GDAL COGs pair DEFLATE
    // with PREDICTOR=3 on float data); whether it shrinks any particular
    // payload is data-dependent and not asserted
    val w = 64; val h = 48
    val smooth = Raster("p3", 0L, w, h, 0.0, 64.0, 0.0, 48.0, 4326,
      Seq(Array.tabulate(w * h)(i => 1000.0 + (i / h) * 0.25 + (i % h) * 0.125)))
    for (tile <- Seq(None, Some((16, 16))); bits <- Seq(32, 64)) {
      val pred = GeoTiff.encode(smooth, bits = bits, deflate = true, tile = tile,
                                predictor = 3)
      val back = GeoTiff.parse(pred, "p3")
      sameValues(
        if (bits == 32) smooth.bands.head.map(v => v.toFloat.toDouble)
        else smooth.bands.head,
        back.bands.head)
    }
    // NaN + multi-band chunky also round-trips
    val m = mkMulti(37, 23)
    val bytes = GeoTiff.encode(m, deflate = true, tile = Some((16, 16)), predictor = 3)
    val back = GeoTiff.parse(bytes, "m1")
    for (b <- 0 until 3) sameValues(m.bands(b), back.bands(b))
  }

  test("horizontal predictor (2) on external int16 files decodes correctly") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-crafted 4x3 int16 uncompressed-with-predictor-2 file: rows store
    // v[0], v[1]-v[0], v[2]-v[1], ... (the GDAL DEFLATE+PREDICTOR=2 shape,
    // minus the compression which is orthogonal)
    val w = 4; val h = 3
    val vals = Array[Short](100, 105, 103, 110, 7, 6, 9, 5, -20, -18, -25, -23)
    val diffed = new Array[Short](w * h)
    for (r <- 0 until h; x <- 0 until w)
      diffed(r * w + x) =
        if (x == 0) vals(r * w) else (vals(r * w + x) - vals(r * w + x - 1)).toShort
    val stripOff = 8; val scaleOff = stripOff + w * h * 2
    val tieOff = scaleOff + 24; val ifdOff = tieOff + 48
    val nE = 13
    val buf = ByteBuffer.allocate(ifdOff + 2 + nE * 12 + 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    diffed.foreach(buf.putShort)
    Array(1.0, 1.0, 0.0).foreach(buf.putDouble)
    Array(0.0, 0.0, 0.0, 0.0, 3.0, 0.0).foreach(buf.putDouble)
    def entry(tag: Int, tpe: Int, count: Int)(wv: ByteBuffer => Unit): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(count)
      val before = buf.position(); wv(buf)
      while (buf.position() < before + 4) buf.put(0.toByte)
    }
    buf.putShort(nE.toShort)
    entry(256, 4, 1)(_.putInt(w)); entry(257, 4, 1)(_.putInt(h))
    entry(258, 3, 1)(_.putShort(16)); entry(259, 3, 1)(_.putShort(1))
    entry(262, 3, 1)(_.putShort(1)); entry(273, 4, 1)(_.putInt(stripOff))
    entry(277, 3, 1)(_.putShort(1)); entry(278, 4, 1)(_.putInt(h))
    entry(279, 4, 1)(_.putInt(w * h * 2)); entry(317, 3, 1)(_.putShort(2))
    entry(339, 3, 1)(_.putShort(2)) // signed int
    entry(33550, 12, 3)(_.putInt(scaleOff)); entry(33922, 12, 6)(_.putInt(tieOff))
    buf.putInt(0)
    val r = GeoTiff.parse(buf.array(), "p2")
    for (x <- 0 until w; row <- 0 until h)
      assert(r.bands.head(x * h + (h - 1 - row)) == vals(row * w + x).toDouble,
             s"($x,$row)")
  }

  test("LZW strips decode correctly (cross-checked against the JDK reader)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // spec-faithful TIFF LZW encoder (test-side only; the codec is
    // read-compat): MSB-first codes, Clear/EOI, early-change widening —
    // the same cadence the decoder implements
    def lzwEncode(data: Array[Byte]): Array[Byte] = {
      val bits = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nAcc = 0
      var width = 9
      def put(code: Int): Unit = {
        acc = (acc << width) | code; nAcc += width
        while (nAcc >= 8) { bits.write(((acc >> (nAcc - 8)) & 0xff).toInt); nAcc -= 8 }
      }
      val dict = scala.collection.mutable.HashMap[(Int, Byte), Int]()
      var next = 258
      put(256) // Clear
      var cur = -1
      data.foreach { b =>
        if (cur < 0) cur = b & 0xff
        else dict.get((cur, b)) match {
          case Some(c) => cur = c
          case None =>
            put(cur)
            dict((cur, b)) = next; next += 1
            // the ENCODER's table runs one entry ahead of the decoder's,
            // so it widens at 2^w (the decoder's early change at 2^w - 1
            // lands on the same code position)
            if (width < 12 && next >= (1 << width)) width += 1
            cur = b & 0xff
        }
      }
      if (cur >= 0) put(cur)
      put(257) // EOI
      if (nAcc > 0) bits.write(((acc << (8 - nAcc)) & 0xff).toInt)
      bits.toByteArray
    }
    // 16x9 float32 image with repetitive content (gives LZW real matches)
    val w = 16; val h = 9
    val vals = Array.tabulate(w * h)(i => ((i % 7) * 10).toFloat)
    val pixelBytes = {
      val bb = ByteBuffer.allocate(w * h * 4).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putFloat); bb.array()
    }
    val strip = lzwEncode(pixelBytes)
    val stripOff = 8
    val scaleOff = stripOff + strip.length + (strip.length & 1)
    val tieOff = scaleOff + 24; val ifdOff = tieOff + 48
    val nE = 12
    val buf = ByteBuffer.allocate(ifdOff + 2 + nE * 12 + 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    buf.put(strip)
    if ((strip.length & 1) == 1) buf.put(0.toByte)
    Array(1.0, 1.0, 0.0).foreach(buf.putDouble)
    Array(0.0, 0.0, 0.0, 0.0, 9.0, 0.0).foreach(buf.putDouble)
    def entry(tag: Int, tpe: Int, count: Int)(wv: ByteBuffer => Unit): Unit = {
      buf.putShort(tag.toShort).putShort(tpe.toShort).putInt(count)
      val before = buf.position(); wv(buf)
      while (buf.position() < before + 4) buf.put(0.toByte)
    }
    buf.putShort(nE.toShort)
    entry(256, 4, 1)(_.putInt(w)); entry(257, 4, 1)(_.putInt(h))
    entry(258, 3, 1)(_.putShort(32)); entry(259, 3, 1)(_.putShort(5)) // LZW
    entry(262, 3, 1)(_.putShort(1)); entry(273, 4, 1)(_.putInt(stripOff))
    entry(277, 3, 1)(_.putShort(1)); entry(278, 4, 1)(_.putInt(h))
    entry(279, 4, 1)(_.putInt(strip.length)); entry(339, 3, 1)(_.putShort(3))
    entry(33550, 12, 3)(_.putInt(scaleOff)); entry(33922, 12, 6)(_.putInt(tieOff))
    buf.putInt(0)
    val bytes = buf.array()

    // our reader
    val r = GeoTiff.parse(bytes, "lzw")
    for (x <- 0 until w; row <- 0 until h)
      assert(r.bands.head(x * h + (h - 1 - row)) == vals(row * w + x).toDouble, s"($x,$row)")
    // the JDK's independent LZW implementation agrees
    val f = tmp(".tif")
    java.nio.file.Files.write(f.toPath, bytes)
    val readers = javax.imageio.ImageIO.getImageReadersByFormatName("TIFF")
    val reader = readers.next()
    reader.setInput(javax.imageio.ImageIO.createImageInputStream(f))
    val img = reader.read(0).getRaster
    for (row <- 0 until h; x <- 0 until w)
      assert(img.getSampleFloat(x, row, 0) == vals(row * w + x), s"jdk ($x,$row)")
    reader.dispose()
  }

  test("LZW decode survives width growth to 12 bits and a full table") {
    // random (incompressible) input grows the dictionary fast: ~20 KB
    // crosses the 9->10->11->12-bit boundaries and fills the 4096-entry
    // table — the cadence the repetitive strip test never reaches. The
    // spec-side encoder was independently cross-checked against the JDK
    // TIFF reader in the LZW strip test above.
    def lzwEncode(data: Array[Byte]): Array[Byte] = {
      val bits = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nAcc = 0
      var width = 9
      def put(code: Int): Unit = {
        acc = (acc << width) | code; nAcc += width
        while (nAcc >= 8) { bits.write(((acc >> (nAcc - 8)) & 0xff).toInt); nAcc -= 8 }
      }
      val dict = scala.collection.mutable.HashMap[(Int, Byte), Int]()
      var next = 258
      put(256)
      var cur = -1
      data.foreach { b =>
        if (cur < 0) cur = b & 0xff
        else dict.get((cur, b)) match {
          case Some(c) => cur = c
          case None =>
            put(cur)
            if (next < 4096) {
              dict((cur, b)) = next; next += 1
              // the ENCODER's table runs one entry ahead of the decoder's,
            // so it widens at 2^w (the decoder's early change at 2^w - 1
            // lands on the same code position)
            if (width < 12 && next >= (1 << width)) width += 1
            }
            cur = b & 0xff
        }
      }
      if (cur >= 0) put(cur)
      put(257)
      if (nAcc > 0) bits.write(((acc << (8 - nAcc)) & 0xff).toInt)
      bits.toByteArray
    }
    val rnd = new java.util.Random(424242L)
    for (n <- Seq(300, 5000, 20000)) {
      val payload = new Array[Byte](n)
      rnd.nextBytes(payload)
      val decoded = GeoTiff.lzwDecode(lzwEncode(payload), n)
      assert(java.util.Arrays.equals(decoded, payload), s"n=$n")
    }
    // and a KwKwK-heavy run (aaaa...) for the copy-overlap path
    val runs = Array.fill(4096)('a'.toByte)
    assert(java.util.Arrays.equals(GeoTiff.lzwDecode(lzwEncode(runs), 4096), runs))
  }

  test("truncated DEFLATE data fails instead of hanging") {
    val r = mkRaster(4326)
    val f = tmp(".tif")
    GeoTiff.write(r, f, deflate = true)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    // zero out the tail of the compressed strip (starts at offset 8)
    java.util.Arrays.fill(bytes, 40, 200, 0.toByte)
    val ex = intercept[Exception](GeoTiff.parse(bytes, "trunc"))
    assert(ex.getMessage != null)
  }

  test("LZW writer: round-trips through our reader across shapes; clears on full table") {
    val r = mkMulti(37, 23)
    for (tile <- Seq(None, Some((16, 16))); planar <- Seq(1, 2); bits <- Seq(32, 64)) {
      val bytes = GeoTiff.encode(r, bits = bits, tile = tile, planar = planar, lzw = true)
      val back = GeoTiff.parse(bytes, "lzw", 7L)
      val label = s"tile=$tile planar=$planar bits=$bits"
      assert(back.bands.length == 3, label)
      for (b <- 0 until 3)
        sameValues(
          if (bits == 32) r.bands(b).map(v => if (v.isNaN) v else v.toFloat.toDouble)
          else r.bands(b),
          back.bands(b))
    }
    // predictor 3 + LZW (the GDAL float-COG combination)
    val noNaN = Raster(r.item_id, r.ts, r.width, r.height, r.minX, r.maxX,
      r.minY, r.maxY, r.epsg, r.bands.map(_.map(v => if (v.isNaN) -1.0 else v)))
    val pBytes = GeoTiff.encode(noNaN, bits = 32, tile = Some((16, 16)),
                                predictor = 3, lzw = true)
    val pBack = GeoTiff.parse(pBytes, "lzwp", 7L)
    for (b <- 0 until 3)
      sameValues(noNaN.bands(b).map(_.toFloat.toDouble), pBack.bands(b))
    // BigTIFF + LZW compose
    val bigBytes = GeoTiff.encode(r, bits = 64, tile = Some((16, 16)),
                                  bigTiff = true, lzw = true)
    val bigBack = GeoTiff.parse(bigBytes, "biglzw", 7L)
    for (b <- 0 until 3) sameValues(r.bands(b), bigBack.bands(b))
    // raw low-redundancy payloads large enough to FILL the 4096-entry table
    // repeatedly: the encoder must emit ClearCode resets the decoder follows
    // (the width cadence crosses 9->10->11->12 and resets multiple times)
    val rnd = new java.util.Random(99L)
    for (n <- Seq(300, 20000, 120000)) {
      val payload = new Array[Byte](n)
      rnd.nextBytes(payload)
      val decoded = GeoTiff.lzwDecode(GeoTiff.lzwEncode(payload), n)
      assert(java.util.Arrays.equals(decoded, payload), s"n=$n")
    }
    // KwKwK runs exercise the copy-overlap path through the writer too
    val runs = Array.fill(50000)('a'.toByte)
    assert(java.util.Arrays.equals(GeoTiff.lzwDecode(GeoTiff.lzwEncode(runs), runs.length), runs))
    // compression actually compresses repetitive rasters
    val flat = Raster("f", 0L, 64, 64, 0, 64, 0, 64, 4326, Seq(Array.fill(64 * 64)(7.5)))
    assert(GeoTiff.encode(flat, lzw = true).length < GeoTiff.encode(flat).length / 2)
  }

  test("LZW writer golden: encoded bytes are pinned and every chunk round-trips") {
    // seeded chunks: float64 noise (a 64x64 tile), all-zero tile padding, and
    // a low-redundancy stream long enough to emit several ClearCodes. The
    // digest was recorded from the LongMap-keyed encoder this table-based
    // one replaced: any change to the greedy parse, the width cadence or the
    // Clear point changes the bytes.
    val rnd = new java.util.Random(20261017L)
    val noise = java.nio.ByteBuffer.allocate(64 * 64 * 8)
    (0 until 64 * 64).foreach(_ => noise.putDouble(500.0 + 100.0 * rnd.nextGaussian()))
    val zeros = new Array[Byte](64 * 64 * 8)
    val stream = new Array[Byte](200000)
    rnd.nextBytes(stream)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    for (chunk <- Seq(noise.array(), zeros, stream)) {
      val enc = GeoTiff.lzwEncode(chunk)
      assert(java.util.Arrays.equals(GeoTiff.lzwDecode(enc, chunk.length), chunk))
      sha.update(enc)
    }
    val clears = {
      // count ClearCodes after the initial one by decoding the code stream
      val enc = GeoTiff.lzwEncode(stream)
      var acc = 0L; var nAcc = 0; var pos = 0; var width = 9; var next = 258; var n = 0
      var code = 0; var first = true
      while (code != 257) {
        while (nAcc < width) { acc = (acc << 8) | (enc(pos) & 0xffL); pos += 1; nAcc += 8 }
        nAcc -= width
        code = ((acc >>> nAcc) & ((1 << width) - 1)).toInt
        if (code == 256) { if (!first) n += 1; next = 258; width = 9; first = true }
        else if (code != 257) {
          if (!first) { next += 1; if (width < 12 && next >= (1 << width) - 1) width += 1 }
          first = false
        }
      }
      n
    }
    assert(clears >= 3, s"only $clears ClearCodes")
    assert(sha.digest().map(b => f"$b%02x").mkString ==
      "74f22e8ffe47174defc7ac94a3b0d619d8e373fc933fb22a2d456eead2a0c567")
  }

  test("writer golden: encode bytes are pinned across layouts, codecs and sample types") {
    // one digest over every writer shape: strips and 16x16 tiles, chunky and
    // planar, float32/64, none/DEFLATE/LZW, overviews, BigTIFF, 8/16-bit
    // palettes with predictor 2 and floats with predictor 3. The DEFLATE
    // chunks are java.util.zip's output, so a JDK whose zlib emits other
    // bytes changes the digest too.
    val m = mkMulti(37, 23)
    val codes = Array.tabulate(37 * 23)(i => ((i * 31 + i / 23 * 17) % 300).toDouble)
    val pal = Raster("pal", 1L, 37, 23, 0.0, 37.0, 0.0, 23.0, 4326, Seq(codes))
    val colors = Seq.tabulate(300)(c => (c % 256, (c * 7) % 256, (c * 13) % 256))
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    for (tile <- Seq(None, Some((16, 16)))) {
      for (planar <- Seq(1, 2); bits <- Seq(32, 64);
           (deflate, lzw) <- Seq((false, false), (true, false), (false, true)))
        sha.update(GeoTiff.encode(m, bits = bits, deflate = deflate, lzw = lzw,
                                  tile = tile, planar = planar))
      sha.update(GeoTiff.encode(m, deflate = true, tile = tile, planar = 2,
                                overviews = Seq(2, 4)))
      sha.update(GeoTiff.encode(m, bits = 32, lzw = true, tile = tile,
                                overviews = Seq(2, 4), bigTiff = true))
      sha.update(GeoTiff.encode(pal.copy(bands = Seq(codes.map(_ % 256))), bits = 8,
                                lzw = true, tile = tile, palette = Some(colors.take(256)),
                                predictor = 2))
      sha.update(GeoTiff.encode(pal, bits = 16, deflate = true, tile = tile,
                                palette = Some(colors), predictor = 2))
      for (bits <- Seq(32, 64))
        sha.update(GeoTiff.encode(m, bits = bits, deflate = true, tile = tile, predictor = 3))
    }
    assert(sha.digest().map(b => f"$b%02x").mkString ==
      "aed478b6d717b3364835841a7db1eaf38ee09ea9630a1ff62d449229845675bc")
  }

  test("fuzz: corrupt/random bytes fail fast (no hang, no OOM) on every entry point") {
    // binaryFile content is untrusted at ingest; every decode entry must
    // throw a diagnosable exception promptly rather than spin or allocate
    // unboundedly. Three corpora: pure random, valid header + random tail,
    // and bit-flipped valid files.
    val rnd = new java.util.Random(20260817L)
    def assertThrowsFast(bytes: Array[Byte], label: String): Unit = {
      val t0 = System.nanoTime()
      intercept[Exception](GeoTiff.parse(bytes, label))
      intercept[Exception](GeoTiff.probe(bytes, label))
      // ifdChain/colorMap may legitimately succeed on a structurally-valid
      // header; just require they terminate
      try GeoTiff.ifdChain(bytes, label) catch { case _: Exception => () }
      try GeoTiff.colorMap(bytes, label) catch { case _: Exception => () }
      assert((System.nanoTime() - t0) < 2e9, s"$label took too long")
    }
    for (n <- Seq(0, 4, 9, 64, 4096); i <- 0 until 10) {
      val b = new Array[Byte](n); rnd.nextBytes(b)
      assertThrowsFast(b, s"rand-$n-$i")
    }
    // classic + BigTIFF magic headers with garbage bodies
    for (magic <- Seq(42, 43); i <- 0 until 10) {
      val b = new Array[Byte](256); rnd.nextBytes(b)
      b(0) = 'I'; b(1) = 'I'; b(2) = magic.toByte; b(3) = 0
      if (magic == 43) { b(4) = 8; b(5) = 0; b(6) = 0; b(7) = 0 }
      assertThrowsFast(b, s"hdr-$magic-$i")
    }
    // bit-flip a VALID file at 50 random positions each round; decode must
    // either succeed (flip hit pixel data) or throw — never hang
    val valid = GeoTiff.encode(mkRaster(4326), deflate = true)
    val validBig = GeoTiff.encode(mkMulti(32, 16), tile = Some((16, 16)),
                                  lzw = true, bigTiff = true)
    for (src <- Seq(valid, validBig); i <- 0 until 20) {
      val b = src.clone()
      (0 until 50).foreach { _ =>
        val p = rnd.nextInt(b.length)
        b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte
      }
      val t0 = System.nanoTime()
      try { GeoTiff.parse(b, s"flip-$i"); () } catch { case _: Throwable => () }
      assert((System.nanoTime() - t0) < 2e9, s"flip-$i took too long")
    }
  }

  test("predictor 2 (int differencing) palette write round-trips under deflate and LZW") {
    val w = 30; val h = 20
    for (bits <- Seq(8, 16)) {
      val n = 1 << math.min(bits, 9) // exercise >255 codes at 16 bit
      val codes = Array.tabulate(w * h)(i => ((i * 31) % math.min(n, 300)).toDouble)
      val r = Raster("p2", 0L, w, h, 0.0, w.toDouble, 0.0, h.toDouble, 4326, Seq(codes))
      val pal = Seq.tabulate(math.min(n, 300))(c => (c % 256, (c * 3) % 256, (c * 7) % 256))
      for ((deflate, lzw) <- Seq((true, false), (false, true));
           tile <- Seq(None, Some((16, 16)))) {
        val bytes = GeoTiff.encode(r, bits = bits, deflate = deflate, lzw = lzw,
                                   tile = tile, palette = Some(pal), predictor = 2)
        val back = GeoTiff.parse(bytes, "p2", 0L)
        sameValues(codes, back.bands.head)
      }
    }
    // misuse is rejected loudly
    intercept[IllegalArgumentException](
      GeoTiff.encode(mkRaster(4326), predictor = 2))
  }

  test("corrupt BigTIFF counts/offsets fail with a diagnostic, not an OOM") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-built BigTIFF: header + one IFD with a LONG8 TileOffsets entry
    // whose count claims 2^28 values (2 GiB payload) — Int math on
    // typeSize*count would wrap negative, slip past the inline check and
    // attempt the allocation; the Long-math guard must reject it instead
    def craft(count: Long, valueOff: Long): Array[Byte] = {
      val b = ByteBuffer.allocate(200).order(ByteOrder.LITTLE_ENDIAN)
      b.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0)
      b.putLong(16L) // IFD at 16
      b.putLong(3L)  // three entries
      // ImageWidth / ImageLength (valid, inline)
      for (tag <- Seq(256, 257)) {
        b.putShort(tag.toShort).putShort(4.toShort).putLong(1L).putLong(8L)
      }
      // TileOffsets, LONG8, corrupt count/offset
      b.putShort(324.toShort).putShort(16.toShort).putLong(count).putLong(valueOff)
      b.putLong(0L) // next IFD
      b.array()
    }
    val exOverflow = intercept[Exception](GeoTiff.parse(craft(1L << 28, 16L), "big-count"))
    assert(exOverflow.getMessage != null)
    // and a pointer near Long.MaxValue must hit the bounds diagnostic, not
    // wrap through an additive compare into a garbage parse
    val hdr = craft(1L, 16L)
    val bb = ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(8, Long.MaxValue - 3) // first-IFD pointer
    val exPtr = intercept[Exception](GeoTiff.parse(hdr, "big-ptr"))
    assert(exPtr.getMessage.contains("out of bounds"))
  }

  /** `bytes` (a classic little-endian file, as [[GeoTiff.encode]] writes it)
    * with the inline LONG value of IFD0's `tag` replaced by `v`. */
  private def patchTag(bytes: Array[Byte], tag: Int, v: Long): Array[Byte] = {
    val out = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = bb.getInt(4)
    val entry = (0 until (bb.getShort(ifd) & 0xffff)).map(i => ifd + 2 + 12 * i)
      .find(e => (bb.getShort(e) & 0xffff) == tag).getOrElse(fail(s"no tag $tag"))
    assert(bb.getShort(entry + 2) == 4 && bb.getInt(entry + 4) == 1, s"tag $tag is not one LONG")
    bb.putInt(entry + 8, v.toInt)
    out
  }

  test("strip grid: RowsPerStrip 2^32-1 is one strip; corrupt chunk grids fail typed") {
    val r = Raster("s", 0L, 5, 4, 0.0, 5.0, 0.0, 4.0, 4326,
                   Seq(Array.tabulate(20)(i => if (i == 7) Double.NaN else i * 1.25 - 3.0)))
    val bytes = GeoTiff.encode(r) // float64, uncompressed, one 4-row strip
    // TIFF 6.0's default RowsPerStrip, 2^32-1, means "the whole image"
    val one = GeoTiff.parse(patchTag(bytes, 278, 0xFFFFFFFFL), "rps")
    assert(one.bands.head.map(java.lang.Double.doubleToRawLongBits).toSeq ==
           r.bands.head.map(java.lang.Double.doubleToRawLongBits).toSeq)
    // RowsPerStrip 0 has no strips to read
    intercept[IllegalArgumentException](GeoTiff.parse(patchTag(bytes, 278, 0L), "rps0"))
    // 65536x65536 cells in one strip: past an array both as cells and as
    // strip bytes, whole or windowed
    val huge = Seq((256, 65536L), (257, 65536L), (278, 65536L))
      .foldLeft(bytes) { case (b, (tag, v)) => patchTag(b, tag, v) }
    intercept[IllegalArgumentException](GeoTiff.parse(huge, "huge"))
    intercept[IllegalArgumentException](GeoTiff.parseWindow(huge, "huge", 0L, 0.0, 1.0, 0.0, 1.0))
    // an uncompressed strip one row short of its 4 rows
    intercept[IllegalArgumentException](GeoTiff.parse(patchTag(bytes, 279, 3 * 5 * 8L), "short"))
  }

  test("BigTIFF single-strip round-trip is bit-exact (inline LONG8 offsets)") {
    val r = mkRaster(4326)
    // single strip => the one-element LONG8 offset/bytecount arrays fit the
    // 8-byte inline slot — the inline Long8 decode path
    val bytes = GeoTiff.encode(r, bigTiff = true)
    assert(bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte)
    assert(((bytes(2) & 0xff) | ((bytes(3) & 0xff) << 8)) == 43, "version 43")
    assert(((bytes(4) & 0xff) | ((bytes(5) & 0xff) << 8)) == 8, "offset size 8")
    val back = GeoTiff.parse(bytes, "big1", 42L)
    assert((back.width, back.height) == (r.width, r.height))
    assert((back.minX, back.maxX, back.minY, back.maxY) == (10.0, 27.0, -5.0, 6.0))
    assert(back.epsg == 4326)
    sameValues(r.bands.head, back.bands.head)
  }

  test("BigTIFF multi-band tiled+deflate+overviews: probe, chain, windowed COG read") {
    val r = mkMulti(64, 48)
    val bytes = GeoTiff.encode(r, bits = 64, deflate = true, tile = Some((16, 16)),
                               overviews = Seq(2, 4), bigTiff = true)
    // header-only probe sees through the BigTIFF IFD
    val p = GeoTiff.probe(bytes, "bigcog")
    assert((p.width, p.height, p.bands, p.epsg) == (64, 48, 3, 32618))
    // probe and parse share one georeference reader: envelope and EPSG agree
    // bit for bit on classic, BigTIFF and projected (UTM) files
    def envBits(minX: Double, maxX: Double, minY: Double, maxY: Double) =
      Seq(minX, maxX, minY, maxY).map(java.lang.Double.doubleToRawLongBits)
    // coordinates where regrouping the envelope arithmetic moves the last ulp
    val utm = Raster("utm", 3L, 17, 11, 499980.13, 499980.13 + 17 * 29.97,
                     4100456.9, 4100456.9 + 11 * 29.7, 32633, mkRaster(32633).bands)
    for ((label, f) <- Seq("classic" -> GeoTiff.encode(mkRaster(4326)), "bigtiff" -> bytes,
                           "utm" -> GeoTiff.encode(utm, lzw = true, tile = Some((16, 16))))) {
      val pr = GeoTiff.probe(f, label)
      val full = GeoTiff.parse(f, label)
      assert(envBits(pr.minX, pr.maxX, pr.minY, pr.maxY) ==
             envBits(full.minX, full.maxX, full.minY, full.maxY), label)
      assert(pr.epsg == full.epsg, label)
    }
    assert(GeoTiff.probe(GeoTiff.encode(utm), "utm").epsg == 32633)
    // and one overview selector: parse at t == the full-extent
    // window at the same t, down to the envelope bits
    for (t <- Seq(0.5, 1.0, 2.0, 3.9, 4.0, 100.0)) {
      val ov = GeoTiff.parse(bytes, "bigcog", 7L, targetCellWidth = t)
      val win = GeoTiff.parseWindow(bytes, "bigcog", 7L, p.minX, p.maxX, p.minY, p.maxY,
                                    targetCellWidth = t).get.raster
      assert((win.width, win.height, win.epsg) == (ov.width, ov.height, ov.epsg), s"t=$t")
      assert(envBits(win.minX, win.maxX, win.minY, win.maxY) ==
             envBits(ov.minX, ov.maxX, ov.minY, ov.maxY), s"t=$t")
      for (b <- 0 until 3) sameValues(ov.bands(b), win.bands(b))
    }
    // IFD0 + two overview subfiles, reduced flags set
    val chain = GeoTiff.ifdChain(bytes, "bigcog")
    assert(chain.map(i => (i.width, i.height, i.reduced)) ==
      Seq((64, 48, false), (32, 24, true), (16, 12, true)))
    // full decode matches classic encode of the same raster
    val classic = GeoTiff.parse(GeoTiff.encode(r, bits = 64, deflate = true,
      tile = Some((16, 16)), overviews = Seq(2, 4)), "classic", 7L)
    val big = GeoTiff.parse(bytes, "bigcog", 7L)
    for (b <- 0 until 3) sameValues(classic.bands(b), big.bands(b))
    // windowed read through the overview chain: identical classic vs big
    val win = (8.0, 24.0, 8.0, 20.0)
    val wb = GeoTiff.parseWindow(bytes, "bigcog", 7L,
      win._1, win._2, win._3, win._4, targetCellWidth = 2.0).map(_.raster)
    val wc = GeoTiff.parseWindow(GeoTiff.encode(r, bits = 64, deflate = true,
      tile = Some((16, 16)), overviews = Seq(2, 4)), "classic", 7L,
      win._1, win._2, win._3, win._4, targetCellWidth = 2.0).map(_.raster)
    assert(wb.isDefined && wc.isDefined)
    assert((wb.get.width, wb.get.height) == (wc.get.width, wc.get.height))
    for (b <- 0 until 3) sameValues(wc.get.bands(b), wb.get.bands(b))
  }

  test("BigTIFF palette file round-trips codes and ColorMap") {
    val w = 20; val h = 12
    val codes = Array.tabulate(w * h)(i => (i % 5).toDouble)
    val r = Raster("pal", 0L, w, h, 0.0, w.toDouble, 0.0, h.toDouble, 4326, Seq(codes))
    val pal = Seq((10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120), (130, 140, 150))
    val bytes = GeoTiff.encode(r, bits = 8, palette = Some(pal), bigTiff = true)
    val back = GeoTiff.parse(bytes, "pal", 0L)
    sameValues(codes, back.bands.head)
    // ColorMap carries 2^bits entries, zero-padded past the palette
    assert(GeoTiff.colorMap(bytes, "pal").map(_.take(pal.length)).contains(pal))
  }
}
