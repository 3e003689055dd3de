package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Raster, TileGeometry}
import graft.raster._

/** Golden tests for the dense raster semantics, incl. every reference quirk
  * called out in SURVEY.md §2.10/§7.4 (fixture families from FIXTURES.md §3). */
class RasterSpec extends AnyFunSuite with SparkSuite {

  val NaN = Double.NaN

  // ---- band mixing quirk matrix -----------------------------------------

  test("bandmix quirk matrix (RasterEncoder.java:205-292 semantics)") {
    def mix(op: String, vs: Double*): Double =
      BandMixing.forName(op)(vs.toArray, 0, 1, vs.length)

    // plain values
    assert(mix("max_value", 1.0, 5.0, 3.0) === 5.0)
    assert(mix("min_value", 1.0, 5.0, 3.0) === 1.0)
    assert(mix("sum_value", 1.0, 5.0, 3.0) === 9.0)
    assert(mix("avg_value", 1.0, 5.0, 3.0) === 3.0)
    assert(mix("band_max_value", 1.0, 5.0, 3.0) === 1.0)
    assert(mix("band_min_value", 1.0, 5.0, 3.0) === 0.0)

    // NaN skipping (the dead `== NaN` check skips via comparison falsity)
    assert(mix("max_value", NaN, 5.0) === 5.0)
    assert(mix("band_max_value", NaN, 5.0) === 1.0)
    assert(mix("avg_value", NaN, 4.0, 2.0) === 3.0)

    // QUIRK: all-negative cells return NaN for max (MIN_VALUE seed)
    assert(mix("max_value", -1.0, -5.0).isNaN)
    assert(mix("band_max_value", -1.0, -5.0).isNaN)
    // but min works on negatives
    assert(mix("min_value", -1.0, -5.0) === -5.0)
    // QUIRK: all-MAX_VALUE cells return NaN for min
    assert(mix("min_value", java.lang.Double.MAX_VALUE, java.lang.Double.MAX_VALUE).isNaN)

    // all-NaN cells
    assert(mix("max_value", NaN, NaN).isNaN)
    assert(mix("min_value", NaN, NaN).isNaN)
    assert(mix("avg_value", NaN, NaN).isNaN)
    // QUIRK: sum of all-NaN is 0.0, not NaN (RasterEncoder.java:283-292)
    assert(mix("sum_value", NaN, NaN) === 0.0)

    // unknown mixer throws (RasterAdapterTest.java:86-113 contract)
    intercept[NoSuchElementException](BandMixing.forName("okerra"))
    intercept[NoSuchElementException](BandMixing.forName("bandmixer"))
  }

  // ---- encode chain ------------------------------------------------------

  def mkRaster(w: Int, h: Int, bands: Seq[(Int, Int) => Double],
               minX: Double = 0, maxX: Double = 10, minY: Double = 0, maxY: Double = 10,
               id: String = "r1", ts: Long = 0L): Raster =
    Raster(id, ts, w, h, minX, maxX, minY, maxY, 4326,
      bands.map(f => Array.tabulate(w * h)(i => f(i / h, i % h))))

  test("encode: magnitude guard, nodata epsilon, transform, D2_XY order") {
    val r = mkRaster(3, 2, Seq(
      (x, y) => if (x == 0 && y == 0) 2.0e35 else if (x == 1 && y == 0) -9999.0 else x * 10.0 + y))
    val enc = TileEncoder.encode(r, TileEncoder.EncodeParams(
      nodata = Set(-9999.0), transform = Some(v => v * 2)))
    // D2_XY: index = x*h + y
    assert(enc(0).isNaN)            // magnitude guard
    assert(enc(2).isNaN)            // nodata -9999 (x=1,y=0 -> idx 1*2+0=2)
    assert(enc(1) === (0 * 10 + 1) * 2.0)
    assert(enc(5) === (2 * 10 + 1) * 2.0)
    // nodata epsilon equality
    val r2 = mkRaster(1, 1, Seq((_, _) => -9999.0 + 1e-10))
    assert(TileEncoder.encode(r2, TileEncoder.EncodeParams(nodata = Set(-9999.0)))(0).isNaN)
    // transform must not touch nodata (isData guard)
    val r3 = mkRaster(1, 1, Seq((_, _) => -9999.0))
    assert(TileEncoder.encode(r3, TileEncoder.EncodeParams(
      nodata = Set(-9999.0), transform = Some(_ => 42.0)))(0).isNaN)
    // coordinate-checker mask (P5): failing cells -> NaN
    val r4 = mkRaster(2, 2, Seq((x, y) => 1.0 + x + y))
    val masked = TileEncoder.encode(r4, TileEncoder.EncodeParams(
      cellMask = Some((x, y) => x == y)))
    assert(!masked(0).isNaN && masked(1).isNaN && masked(2).isNaN && !masked(3).isNaN)
  }

  test("encode with band mixer and stats") {
    val r = mkRaster(2, 2, Seq((x, y) => x + y, (x, y) => 10.0 * (x + y), (_, _) => NaN))
    val enc = TileEncoder.encode(r, TileEncoder.EncodeParams(
      bandMixer = Some(BandMixing.AvgValue)))
    assert(enc(0) === 0.0)                    // avg(0, 0, skip-NaN) = 0
    assert(enc(3) === (2.0 + 20.0) / 2)       // cell (1,1): avg(2, 20, skip-NaN)
    val s = TileEncoder.stats(enc)
    assert(s.nData === 4 && s.min === 0.0 && s.max === 11.0)
  }

  // ---- resampling --------------------------------------------------------

  test("nearest resample reproduces the affine oracle") {
    // matches q24: source 934x631, target 100x80, same bbox
    val src = mkRaster(934, 631, Seq((x, y) => ((x * 31 + y * 17) % 997) / 10.0),
      minX = Geo.minX, maxX = Geo.maxX, minY = Geo.minY, maxY = Geo.maxY)
    val target = TileGeometry(100, 80, Geo.minX, Geo.maxX, Geo.minY, Geo.maxY, 4326, 0, 0)
    val out = Resample.toGrid(src, target, Resample.Nearest)
    var checked = 0
    for (tx <- 0 until 100; ty <- 0 until 80) {
      val sx = math.floor((tx + 0.5) / 100.0 * 934.0).toLong
      val sy = math.floor((ty + 0.5) / 80.0 * 631.0).toLong
      val expect = ((sx * 31 + sy * 17) % 997) / 10.0
      assert(out(tx * 80 + ty) === expect, s"($tx,$ty)"); checked += 1
    }
    assert(checked === 8000)
  }
  object Geo { // local alias to the shared constants
    val minX = graft.api.Geo.minX; val maxX = graft.api.Geo.maxX
    val minY = graft.api.Geo.minY; val maxY = graft.api.Geo.maxY
  }

  test("bilinear and bicubic reproduce a linear ramp in the interior") {
    val src = mkRaster(50, 40, Seq((x, y) => 2.0 * x + 3.0 * y), 0, 50, 0, 40)
    val target = TileGeometry(90, 70, 5, 45, 5, 35, 4326, 0, 0) // interior window
    // linear precision holds for bilinear and cubic convolution with a=-0.5
    // (Keys); a=-1.0 (JAI Bicubic2) intentionally lacks it — checked below
    for (k <- Seq(Resample.Bilinear, Resample.Bicubic)) {
      val out = Resample.toGrid(src, target, k)
      for (tx <- 0 until 90; ty <- 0 until 70) {
        val wx = target.cellCenterX(tx); val wy = target.cellCenterY(ty)
        // analytic: v at source cell center (cx+0.5, cy+0.5) = 2cx+3cy
        // -> v(wx, wy) = 2*(wx - 0.5) + 3*(wy - 0.5)  (cell size 1x1)
        val expect = 2.0 * (wx - 0.5) + 3.0 * (wy - 0.5)
        assert(math.abs(out(tx * 70 + ty) - expect) < 1e-9, s"$k ($tx,$ty)")
      }
    }
  }

  test("bicubic2 (a=-1) reproduces constants exactly, linears approximately") {
    val const = mkRaster(50, 40, Seq((_, _) => 7.5), 0, 50, 0, 40)
    val ramp = mkRaster(50, 40, Seq((x, y) => 2.0 * x + 3.0 * y), 0, 50, 0, 40)
    val target = TileGeometry(90, 70, 5, 45, 5, 35, 4326, 0, 0)
    val outC = Resample.toGrid(const, target, Resample.Bicubic2)
    assert(outC.forall(v => math.abs(v - 7.5) < 1e-9)) // partition of unity
    val outR = Resample.toGrid(ramp, target, Resample.Bicubic2)
    for (tx <- 0 until 90; ty <- 0 until 70) {
      val wx = target.cellCenterX(tx); val wy = target.cellCenterY(ty)
      val expect = 2.0 * (wx - 0.5) + 3.0 * (wy - 0.5)
      assert(math.abs(outR(tx * 70 + ty) - expect) < 1.0, s"($tx,$ty)") // bounded
    }
  }

  test("padding: item smaller than requested region leaves NaN border") {
    val item = mkRaster(10, 10, Seq((x, y) => 1.0 + x + y), 2, 4, 2, 4)
    val region = TileGeometry(10, 10, 0, 10, 0, 10, 4326, 0, 0)
    val out = TileEncoder.padToRegion(item, region)
    assert(out(0).isNaN)                               // (0,0) outside item
    val inIdx = 2 * 10 + 2                             // cell center (2.5, 2.5)
    assert(!out(inIdx).isNaN)
    val filled = out.count(v => !v.isNaN)
    assert(filled === 4)                               // centers in [2,4)x[2,4): x,y in {2,3}
  }

  // ---- mosaic merge ------------------------------------------------------

  test("mosaic SUM vs SUBSTITUTE with deterministic (ts, item_id) order") {
    import spark.implicits._
    val region = TileGeometry(20, 20, 0, 20, 0, 20, 4326, 0, 0)
    // two overlapping items: A (ts=1) covers left 2/3, B (ts=2) covers right 2/3
    val a = mkRaster(14, 20, Seq((_, _) => 1.0), 0, 14, 0, 20, id = "A", ts = 1)
    val b = mkRaster(14, 20, Seq((_, _) => 10.0), 6, 20, 0, 20, id = "B", ts = 2)

    for (parts <- Seq(1, 4)) {
      val items = spark.createDataset(Seq(a, b)).repartition(parts)
      val sum = Mosaic.mergeToTiles(items, region, Mosaic.Sum).collect()
        .sortBy(_.item_id).flatMap(_.bands.head)
      val sub = Mosaic.mergeToTiles(items, region, Mosaic.Substitute).collect()
        .sortBy(_.item_id).flatMap(_.bands.head)
      // single tile (400 cells < 1M): D2_XY order directly comparable
      assert(sum.length === 400)
      // left-only zone (x<6): 1.0 ; overlap (6<=x<14): 11.0 ; right: 10.0
      assert(sum(0 * 20 + 5) === 1.0)
      assert(sum(10 * 20 + 5) === 11.0)
      assert(sum(18 * 20 + 5) === 10.0)
      // SUBSTITUTE: B (later ts) wins the overlap
      assert(sub(0 * 20 + 5) === 1.0)
      assert(sub(10 * 20 + 5) === 10.0)
      assert(sub(18 * 20 + 5) === 10.0)
    }
  }

  test("mosaic emits nodata-filled tiles where no item intersects") {
    import spark.implicits._
    val region = TileGeometry(2000, 1500, 0, 20, 0, 15, 4326, 0, 0) // 3M cells -> 6 tiles
    val item = mkRaster(100, 100, Seq((_, _) => 7.0), 0, 1, 0, 1)   // bottom-left corner only
    val tiles = Mosaic.mergeToTiles(spark.createDataset(Seq(item)), region, Mosaic.Substitute)
      .collect()
    assert(tiles.length === Mosaic.splitTiles(region).length)
    val nonEmpty = tiles.filter(_.bands.head.exists(v => !v.isNaN))
    assert(nonEmpty.length === 1)
    val empty = tiles.filter(_.bands.head.forall(_.isNaN))
    assert(empty.length === tiles.length - 1)
  }

  test("tile split is transparent: many small tiles == one tile, bilinear") {
    import spark.implicits._
    // smooth overlapping items; bilinear sampling near tile borders must see
    // the same fragment data regardless of the split (apron correctness)
    val items = spark.createDataset(Seq(
      mkRaster(35, 27, Seq((x, y) => 2.0 * x + 3.0 * y), 0, 35, 0, 27, id = "A", ts = 1),
      mkRaster(40, 30, Seq((x, y) => 100.0 + x - y), 15, 55, 10, 40, id = "B", ts = 2)))
    val region = TileGeometry(80, 60, 0, 55, 0, 40, 4326, 0, 0) // non-unit cell size
    def grid(maxCells: Long): Map[(Long, Long), Double] =
      Mosaic.mergeToTiles(items, region, Mosaic.Substitute, Resample.Bilinear, maxCells)
        .collect().flatMap { r =>
          val x0 = math.round((r.minX - region.minX) / region.cellWidth)
          val y0 = math.round((r.minY - region.minY) / region.cellHeight)
          for (x <- 0 until r.width; y <- 0 until r.height)
            yield ((x0 + x, y0 + y), r.bands.head(x * r.height + y))
        }.toMap
    val one = grid(maxCells = 1000000)
    val split = grid(maxCells = 200) // 15x15-ish tiles -> many borders
    assert(one.size === 4800 && split.size === 4800)
    one.foreach { case (k, v) =>
      val w = split(k)
      assert((v.isNaN && w.isNaN) || v === w, s"cell $k: $v vs $w")
    }
  }

  test("splitTiles covers the region exactly with <= 1M cell tiles") {
    val region = TileGeometry(2934, 2631, -75.0, -72.0, 3.0, 5.0, 4326, 0, 0)
    val tiles = Mosaic.splitTiles(region)
    assert(tiles.forall(_.cells <= 1000000L))
    assert(tiles.map(_.cells).sum === region.cells)
    // no gaps/overlaps on x: union of [minX,maxX) spans region
    val xs = tiles.map(t => (t.minX, t.maxX)).distinct.sortBy(_._1)
    assert(math.abs(xs.head._1 - region.minX) < 1e-12)
    assert(math.abs(xs.last._2 - region.maxX) < 1e-9)
  }
}
