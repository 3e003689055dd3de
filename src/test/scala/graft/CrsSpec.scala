package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Raster, TileGeometry}
import graft.raster.{Crs, Mosaic, Resample}

/** CRS transforms (J3 completion): round-trip properties, known anchor
  * points, conservative envelopes, the Resample CRS hook, mixed-CRS mosaic
  * vs a direct per-cell reference, and the semantic interpolation chooser. */
class CrsSpec extends AnyFunSuite with SparkSuite {

  test("web mercator anchor points") {
    val (x0, y0) = Crs.WebMercator.fromLonLat(0, 0)
    assert(math.abs(x0) < 1e-9 && math.abs(y0) < 1e-9)
    val (x1, _) = Crs.WebMercator.fromLonLat(180, 0)
    assert(math.abs(x1 - 20037508.342789244) < 1e-6) // pi * R, the published bound
    // mercator y at 45N = R * ln(tan(67.5 deg))
    val (_, y2) = Crs.WebMercator.fromLonLat(0, 45)
    assert(math.abs(y2 - 6378137.0 * math.log(math.tan(math.toRadians(67.5)))) < 1e-9)
  }

  test("web mercator round-trip") {
    for (lon <- -179 to 179 by 7; lat <- -84 to 84 by 7) {
      val (x, y) = Crs.WebMercator.fromLonLat(lon, lat)
      val (lon2, lat2) = Crs.WebMercator.toLonLat(x, y)
      assert(math.abs(lon2 - lon) < 1e-11, s"lon $lon"); assert(math.abs(lat2 - lat) < 1e-11, s"lat $lat")
    }
  }

  test("utm anchor: central meridian maps to 500km false easting, equator to N0") {
    val z33 = Crs.Utm(33, north = true)
    val (e, n) = z33.fromLonLat(15.0, 0.0)
    assert(math.abs(e - 500000.0) < 1e-6 && math.abs(n) < 1e-6)
    val z33s = Crs.Utm(33, north = false)
    val (_, ns) = z33s.fromLonLat(15.0, 0.0)
    assert(math.abs(ns - 10000000.0) < 1e-6)
    // 1 degree east at the equator: easting ~ k0 * equatorial arc (TM
    // distortion at 1 degree from the meridian is centimetres)
    val (e1, _) = z33.fromLonLat(16.0, 0.0)
    val arc = 0.9996 * 6378137.0 * math.toRadians(1.0)
    assert(math.abs((e1 - 500000.0) - arc) < 10.0, s"easting ${e1 - 500000}")
  }

  test("utm round-trip over the zone (n^3 series consistency)") {
    val z18 = Crs.Utm(18, north = true)
    for (lon <- -78 to -72; lat <- 0 to 84 by 4) {
      val (e, n) = z18.fromLonLat(lon, lat)
      val (lon2, lat2) = z18.toLonLat(e, n)
      assert(math.abs(lon2 - lon) < 1e-7, s"lon $lon/$lat")
      assert(math.abs(lat2 - lat) < 1e-7, s"lat $lon/$lat")
    }
    val z18s = Crs.Utm(18, north = false)
    for (lat <- -80 to -4 by 4) {
      val (e, n) = z18s.fromLonLat(-75.0, lat)
      val (lon2, lat2) = z18s.toLonLat(e, n)
      assert(math.abs(lon2 + 75.0) < 1e-7 && math.abs(lat2 - lat) < 1e-7, s"south lat $lat")
    }
  }

  test("epsg codes resolve") {
    assert(Crs.forEpsg(4326) == Crs.LonLat)
    assert(Crs.forEpsg(3857) == Crs.WebMercator)
    assert(Crs.forEpsg(32618) == Crs.Utm(18, north = true))
    assert(Crs.forEpsg(32718) == Crs.Utm(18, north = false))
    intercept[IllegalArgumentException](Crs.forEpsg(27700))
  }

  test("transformEnvelope is conservative for interior points") {
    for ((srcE, dstE, env) <- Seq(
           (4326, 3857, (-10.0, 20.0, -15.0, 35.0)),
           (3857, 4326, (-2000000.0, 1000000.0, 100000.0, 4000000.0)),
           (4326, 32633, (9.0, 21.0, 10.0, 60.0)),
           (32633, 4326, (300000.0, 700000.0, 1000000.0, 6000000.0)))) {
      val (mnX, mxX, mnY, mxY) = env
      val (lo1, hi1, lo2, hi2) = Crs.transformEnvelope(srcE, dstE, mnX, mxX, mnY, mxY)
      val t = Crs.transform(srcE, dstE)
      for (i <- 0 to 10; j <- 0 to 10) {
        val (u, v) = t(mnX + (mxX - mnX) * i / 10, mnY + (mxY - mnY) * j / 10)
        assert(u >= lo1 && u <= hi1 && v >= lo2 && v <= hi2,
               s"$srcE->$dstE point ($i,$j) escaped the envelope")
      }
    }
  }

  test("resample CRS hook: 3857 source sampled onto a 4326 grid matches a direct loop") {
    val w = 50; val h = 50
    val src = Raster("s", 0L, w, h, -8500000.0, -8000000.0, 200000.0, 700000.0, 3857,
      Seq(Array.tabulate(w * h)(i => ((i / h) * 31 + (i % h) * 17 % 997).toDouble)))
    val target = TileGeometry(20, 16, -76.0, -72.0, 2.0, 6.0, 4326, 0L, 0L)
    val got = Resample.toGrid(src, target, Resample.Nearest)
    val fwd = Crs.transform(4326, 3857)
    for (x <- 0 until 20; y <- 0 until 16) {
      val (u, v) = fwd(target.cellCenterX(x), target.cellCenterY(y))
      val sx = math.min(math.max(math.floor((u + 8500000.0) / 10000.0).toInt, 0), w - 1)
      val sy = math.min(math.max(math.floor((v - 200000.0) / 10000.0).toInt, 0), h - 1)
      val want = if (u < -8500000.0 || u >= -8000000.0 || v < 200000.0 || v >= 700000.0)
        Double.NaN else src.bands.head(sx * h + sy)
      val g = got(x * 16 + y)
      assert((g.isNaN && want.isNaN) || g == want, s"cell ($x,$y): $g vs $want")
    }
  }

  test("mixed-CRS mosaic matches a per-cell reference computation") {
    import spark.implicits._
    val region = TileGeometry(40, 30, 0.0, 10.0, 0.0, 8.0, 4326, 0L, 0L)
    def mkItem(k: Long): Raster = {
      val w = 30; val h = 20
      val vals = Array.tabulate(w * h)(i => k * 1000.0 + ((i / h) * 31 + (i % h) * 17) % 97)
      if (k % 2 == 0)
        Raster(f"item-$k%03d", k, w, h, k * 0.3, k * 0.3 + 3.0, k * 0.2, k * 0.2 + 2.0, 4326, Seq(vals))
      else
        Raster(f"item-$k%03d", k, w, h, k * 33000.0, k * 33000.0 + 360000.0,
               k * 22000.0, k * 22000.0 + 240000.0, 3857, Seq(vals))
    }
    val ks = (0L until 8L)
    val items = spark.createDataset(ks.map(mkItem))
    val tiles = Mosaic.mergeToTiles(items, region, Mosaic.Substitute, maxCells = 300L).collect()
    // reference: per region cell, last (by k) in-coverage item wins
    val fwd = Crs.transform(4326, 3857)
    for (t <- tiles) {
      val x0 = math.round((t.minX - region.minX) / region.cellWidth).toInt
      val y0 = math.round((t.minY - region.minY) / region.cellHeight).toInt
      for (x <- 0 until t.width; y <- 0 until t.height) {
        val wx = region.cellCenterX(x0 + x); val wy = region.cellCenterY(y0 + y)
        var want = Double.NaN
        for (k <- ks) {
          val it = mkItem(k)
          val (u, v) = if (it.epsg == 4326) (wx, wy) else fwd(wx, wy)
          if (u >= it.minX && u < it.maxX && v >= it.minY && v < it.maxY) {
            val sx = math.min(math.floor((u - it.minX) / it.geom.cellWidth).toInt, 29)
            val sy = math.min(math.floor((v - it.minY) / it.geom.cellHeight).toInt, 19)
            want = it.bands.head(sx * 20 + sy)
          }
        }
        val g = t.bands.head(x * t.height + y)
        assert((g.isNaN && want.isNaN) || g == want,
               s"cell (${x0 + x},${y0 + y}): got $g want $want")
      }
    }
  }

  test("UTM against published sample points") {
    // equator on the zone-31 central meridian (3E): E = 500000 by
    // construction, N = 0
    val z31 = Crs.Utm(31, north = true)
    val (e0, n0) = z31.fromLonLat(3.0, 0.0)
    assert(math.abs(e0 - 500000.0) < 1e-6 && math.abs(n0) < 1e-6, s"($e0, $n0)")
    // the classic zone-edge point (0E, 0N) in zone 31N: published UTM
    // easting 166021.443 m (e.g. the USGS/EPSG worked example)
    val (e1, n1) = z31.fromLonLat(0.0, 0.0)
    assert(math.abs(e1 - 166021.443) < 0.05, s"easting $e1")
    assert(math.abs(n1) < 1e-6, s"northing $n1")
    // 45N on the central meridian: northing = k0 * meridian arc M(45) =
    // 0.9996 * 4984944.378 m = 4982950.400 m (published meridian-distance
    // tables for WGS84)
    val (e2, n2) = z31.fromLonLat(3.0, 45.0)
    assert(math.abs(e2 - 500000.0) < 1e-6, s"easting $e2")
    assert(math.abs(n2 - 4982950.400) < 0.5, s"northing $n2")
    // same point, southern counterpart (EPSG:32731 false northing 10^7)
    val z31s = Crs.Utm(31, north = false)
    val (_, n3) = z31s.fromLonLat(3.0, -45.0)
    assert(math.abs(n3 - (10000000.0 - 4982950.400)) < 0.5, s"northing $n3")
    // round-trips at the q72 fixture's zone/latitudes are sub-mm
    val z18 = Crs.Utm(18, north = true)
    for (lon <- Seq(-76.0, -75.3, -74.1); lat <- Seq(2.0, 2.8, 3.6)) {
      val (x, y) = z18.fromLonLat(lon, lat)
      val (lon2, lat2) = z18.toLonLat(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9)
    }
  }

  test("semantic interpolation chooser") {
    assert(Resample.forObservable("quantification") == Resample.Bicubic)
    assert(Resample.forObservable("MEASURE") == Resample.Bicubic)
    assert(Resample.forObservable("valuation") == Resample.Bicubic)
    assert(Resample.forObservable("transformation") == Resample.Bicubic)
    assert(Resample.forObservable("categorization") == Resample.Nearest)
    assert(Resample.forObservable("verification") == Resample.Nearest)
    assert(Resample.forObservable("detection") == Resample.Nearest)
    // explicit parameter overrides the semantic default
    assert(Resample.forObservable("quantification", Some("nearest")) == Resample.Nearest)
    assert(Resample.forObservable("categorization", Some("bicubic2")) == Resample.Bicubic2)
    // non-interpolatable contextualizations and unknown fields error
    intercept[IllegalArgumentException](Resample.forObservable("classification"))
    intercept[IllegalArgumentException](Resample.forObservable("void"))
    intercept[IllegalArgumentException](Resample.forObservable("quantification", Some("cubic")))
  }
}
