package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Raster, TileGeometry}
import graft.raster.{CogFile, Mosaic, Resample}
import graft.sources.GeoTiff

/** The COG-native mosaic (probe -> per-tile window decode -> fragment
  * shuffle) must be BIT-IDENTICAL to mosaicking the fully decoded rasters:
  * the window + apron never changes a sampled value, only the bytes
  * touched. */
class CogMosaicSpec extends AnyFunSuite with SparkSuite {

  private def mkItem(id: String, ts: Long, w: Int, h: Int,
                     x0: Double, y0: Double, cell: Double, epsg: Int = 4326,
                     nBands: Int = 1): Raster =
    Raster(id, ts, w, h, x0, x0 + w * cell, y0, y0 + h * cell, epsg,
      (0 until nBands).map(b => Array.tabulate(w * h) { i =>
        if ((i + b) % 37 == 0) Double.NaN else ((i * 31 + b * 7) % 97) + ts * 1000.0
      }))

  private def tilesOf(ds: org.apache.spark.sql.Dataset[Raster]): Map[String, Seq[Double]] =
    ds.collect().map(r => r.item_id -> r.bands.head.toSeq).toMap

  private def assertSame(a: Map[String, Seq[Double]], b: Map[String, Seq[Double]],
                         label: String): Unit = {
    assert(a.keySet == b.keySet, label)
    a.foreach { case (k, va) =>
      val vb = b(k)
      assert(va.length == vb.length, s"$label $k")
      va.indices.foreach { i =>
        val ok = (va(i).isNaN && vb(i).isNaN) || va(i) == vb(i)
        assert(ok, s"$label $k cell $i: ${va(i)} vs ${vb(i)}")
      }
    }
  }

  test("window pipeline == full decode, items >> tiles, nearest + bilinear + bicubic") {
    import spark.implicits._
    // one big item spanning many tiles + two small overlapping ones
    val items = Seq(
      mkItem("big", 1L, 256, 160, 0.0, 0.0, 1.0),
      mkItem("s1", 2L, 40, 30, 50.0, 40.0, 1.0),
      mkItem("s2", 3L, 40, 30, 70.0, 55.0, 1.0))
    val files = items.map(r => CogFile(r.item_id, r.ts,
      GeoTiff.encode(r, bits = 64, deflate = true, tile = Some((16, 16)))))
    val region = TileGeometry(128, 80, 0.0, 256.0, 0.0, 160.0, 4326, 0L, 0L)
    for (kernel <- Seq(Resample.Nearest, Resample.Bilinear, Resample.Bicubic);
         mode <- Seq(Mosaic.Substitute, Mosaic.Sum)) {
      val viaCog = Mosaic.mergeToTilesCog(spark.createDataset(files), region, mode,
                                          kernel, maxCells = 600L)
      val viaFull = Mosaic.mergeToTiles(spark.createDataset(items), region, mode,
                                        kernel, maxCells = 600L)
      assertSame(tilesOf(viaCog), tilesOf(viaFull), s"$kernel/$mode")
    }
  }

  test("non-integer-aligned grids: window pipeline == full decode, interpolating kernels") {
    import spark.implicits._
    // 0.9-degree, 384-cell items at jittered origins whose cell edges are not
    // exactly representable (a window's recomputed origin would move the
    // interpolation weights by an ulp), one of them georeferenced in UTM
    val rnd = new java.util.Random(384L)
    val items = (0 until 4).map { k =>
      val x0 = -76.05 + (k % 2) * 0.72 + (rnd.nextDouble() - 0.5) * 0.04
      val y0 = 1.95 + (k / 2) * 0.62 + (rnd.nextDouble() - 0.5) * 0.04
      val r = mkItem(s"j$k", 10L + k, 384, 384, x0, y0, 0.9 / 384)
      if (k != 3) r
      else {
        val (ux0, ux1, uy0, uy1) = graft.raster.Crs.transformEnvelope(
          4326, 32618, r.minX, r.maxX, r.minY, r.maxY)
        r.copy(minX = ux0, maxX = ux1, minY = uy0, maxY = uy1, epsg = 32618)
      }
    }
    val files = items.zipWithIndex.map { case (r, k) => CogFile(r.item_id, r.ts,
      GeoTiff.encode(r, bits = 64, tile = Some((64, 64)), lzw = k % 2 == 0, deflate = k % 2 == 1))
    }
    val decoded = files.map(f => GeoTiff.parse(f.bytes, f.item_id, f.ts))
    val region = TileGeometry(240, 180, -76.0, -74.4, 2.0, 3.2, 4326, 0L, 0L)
    for (kernel <- Seq(Resample.Bilinear, Resample.Bicubic, Resample.Bicubic2);
         mode <- Seq(Mosaic.Sum, Mosaic.Substitute)) {
      val viaCog = Mosaic.mergeToTilesCog(spark.createDataset(files), region, mode,
                                          kernel, maxCells = 10000L)
      val viaFull = Mosaic.mergeToTiles(spark.createDataset(decoded), region, mode,
                                        kernel, maxCells = 10000L)
      assertSame(tilesOf(viaCog), tilesOf(viaFull), s"jittered/$kernel/$mode")
    }
  }

  test("overview target composes: cog path == full path over overview-decoded rasters") {
    import spark.implicits._
    val item = mkItem("ov", 1L, 128, 64, 0.0, 0.0, 1.0)
    val bytes = GeoTiff.encode(item, bits = 64, deflate = true,
                               tile = Some((16, 16)), overviews = Seq(2, 4))
    val region = TileGeometry(32, 16, 0.0, 256.0, 0.0, 128.0, 4326, 0L, 0L) // 8-unit cells
    val decoded = GeoTiff.parse(bytes, "ov", 1L, targetCellWidth = region.cellWidth)
    assert(decoded.width == 32) // factor-4 overview chosen
    // all kernels: at overview factor f the fragment cells are f x wider, so
    // Bilinear/Bicubic taps need the apron sized by the CHOSEN subfile's
    // grid, not the full-res grid — an undersized apron clamps taps at the
    // fragment border and diverges near internal tile seams
    for (kernel <- Seq(Resample.Nearest, Resample.Bilinear, Resample.Bicubic)) {
      val viaCog = Mosaic.mergeToTilesCog(
        spark.createDataset(Seq(CogFile("ov", 1L, bytes))), region,
        Mosaic.Substitute, kernel, maxCells = 200L,
        targetCellWidth = region.cellWidth)
      val viaFull = Mosaic.mergeToTiles(spark.createDataset(Seq(decoded)), region,
                                        Mosaic.Substitute, kernel, maxCells = 200L)
      assertSame(tilesOf(viaCog), tilesOf(viaFull), s"overview/$kernel")
    }
  }

  test("overview apron at a misaligned seam: taps reach past the pixel window") {
    import spark.implicits._
    // factor-8 overview (cell = 8 units) + item origin x=7: at the region
    // tile seam x=112 (side=14 8-unit cells) the last target center before
    // the seam (x=108) maps to subfile coordinate 12.125, whose outermost
    // bicubic tap is cell 14 with weight w(1.875) != 0 — but a full-res-
    // sized apron (2 units = 1/4 subfile cell) windows the fragment to
    // ceil(13.125) = cell 14 EXCLUSIVE, so the tap clamps to cell 13 while
    // the full-decode path reads the real value. The factor-bounded apron
    // (2 cells of the coarsest selectable grid) keeps the tap inside the
    // fragment. Bit-equality with the full-decode path is the contract.
    val item = mkItem("ov2", 1L, 128, 64, 7.0, 0.0, 1.0)
    val bytes = GeoTiff.encode(item, bits = 64, deflate = true,
                               tile = Some((16, 16)), overviews = Seq(2, 4, 8))
    val region = TileGeometry(32, 16, 0.0, 256.0, 0.0, 128.0, 4326, 0L, 0L)
    val decoded = GeoTiff.parse(bytes, "ov2", 1L, targetCellWidth = region.cellWidth)
    for (kernel <- Seq(Resample.Bilinear, Resample.Bicubic)) {
      val viaCog = Mosaic.mergeToTilesCog(
        spark.createDataset(Seq(CogFile("ov2", 1L, bytes))), region,
        Mosaic.Substitute, kernel, maxCells = 200L,
        targetCellWidth = region.cellWidth)
      val viaFull = Mosaic.mergeToTiles(spark.createDataset(Seq(decoded)), region,
                                        Mosaic.Substitute, kernel, maxCells = 200L)
      assertSame(tilesOf(viaCog), tilesOf(viaFull), s"ov-seam/$kernel")
    }
  }

  test("mixed-CRS item windows conservatively and matches the full path") {
    import spark.implicits._
    // 3857 item over a 4326 region (the q64 shape)
    val itemM = mkItem("m", 1L, 30, 20, 100000.0, 200000.0, 12000.0, epsg = 3857)
    val itemD = mkItem("d", 2L, 30, 20, 1.0, 1.5, 0.1)
    val files = Seq(
      CogFile("m", 1L, GeoTiff.encode(itemM, tile = Some((16, 16)))),
      CogFile("d", 2L, GeoTiff.encode(itemD, tile = Some((16, 16)))))
    val region = TileGeometry(60, 40, 0.0, 6.0, 0.0, 4.0, 4326, 0L, 0L)
    val viaCog = Mosaic.mergeToTilesCog(spark.createDataset(files), region,
                                        Mosaic.Substitute, maxCells = 400L)
    val viaFull = Mosaic.mergeToTiles(spark.createDataset(Seq(itemM, itemD)), region,
                                      Mosaic.Substitute, maxCells = 400L)
    assertSame(tilesOf(viaCog), tilesOf(viaFull), "mixed-crs")
  }

  test("multi-band COG: band selection picks the mosaicked band") {
    import spark.implicits._
    val item = mkItem("mb", 1L, 64, 48, 0.0, 0.0, 1.0, nBands = 3)
    val bytes = GeoTiff.encode(item, deflate = true, tile = Some((16, 16)))
    val region = TileGeometry(32, 24, 0.0, 64.0, 0.0, 48.0, 4326, 0L, 0L)
    val viaCog = Mosaic.mergeToTilesCog(
      spark.createDataset(Seq(CogFile("mb", 1L, bytes))), region,
      Mosaic.Substitute, maxCells = 300L, band = 2)
    val band2 = Raster(item.item_id, item.ts, item.width, item.height,
      item.minX, item.maxX, item.minY, item.maxY, item.epsg, Seq(item.bands(2)))
    val viaFull = Mosaic.mergeToTiles(spark.createDataset(Seq(band2)), region,
                                      Mosaic.Substitute, maxCells = 300L)
    assertSame(tilesOf(viaCog), tilesOf(viaFull), "band-select")
  }
}
