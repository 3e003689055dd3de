package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.raster.Crs

/** Randomized CRS transform properties (pure ScalaCheck — runs natively). */
object CrsProps extends Properties("Crs") {

  private val lon = Gen.chooseNum(-179.9, 179.9)
  private val lat = Gen.chooseNum(-84.9, 84.9)

  property("web mercator round-trips anywhere") = forAll(lon, lat) { (x, y) =>
    val (u, v) = Crs.WebMercator.fromLonLat(x, y)
    val (x2, y2) = Crs.WebMercator.toLonLat(u, v)
    math.abs(x2 - x) < 1e-10 && math.abs(y2 - y) < 1e-10
  }

  property("web mercator y is strictly monotone in latitude") =
    forAll(lon, Gen.chooseNum(-84.0, 83.0)) { (x, y) =>
      Crs.WebMercator.fromLonLat(x, y + 0.5)._2 > Crs.WebMercator.fromLonLat(x, y)._2
    }

  private val zone = Gen.chooseNum(1, 60)
  private val inZoneOffset = Gen.chooseNum(-2.9, 2.9)
  private val utmLat = Gen.chooseNum(-79.9, 83.9)

  property("utm round-trips inside its zone") = forAll(zone, inZoneOffset, utmLat) {
    (z, dLon, la) =>
      val lon0 = z * 6.0 - 183.0
      val proj = Crs.Utm(z, north = la >= 0)
      val (e, n) = proj.fromLonLat(lon0 + dLon, la)
      val (lon2, lat2) = proj.toLonLat(e, n)
      math.abs(lon2 - (lon0 + dLon)) < 1e-7 && math.abs(lat2 - la) < 1e-7
  }

  property("utm scale near the central meridian stays within [0.9996, 1.0004]") =
    forAll(zone, Gen.chooseNum(-2.0, 2.0), Gen.chooseNum(-60.0, 60.0)) { (z, dLon, la) =>
      val lon0 = z * 6.0 - 183.0
      val proj = Crs.Utm(z, north = la >= 0)
      val (e1, n1) = proj.fromLonLat(lon0 + dLon, la)
      val (e2, n2) = proj.fromLonLat(lon0 + dLon, la + 1e-4)
      // meters per degree of latitude on WGS84 is ~110.57-111.70 km; the TM
      // scale factor k in [k0, ~k0*(1+dLon^2...)] keeps the projected step
      // within that band scaled by [0.9996, 1.0004] for |dLon| <= 2
      val step = math.hypot(e2 - e1, n2 - n1) / 1e-4
      step > 110000 && step < 112300
    }

  property("transform(a,a) is identity; transform composes through lon/lat") =
    forAll(lon, lat) { (x, y) =>
      val id = Crs.transform(3857, 3857)
      val (u, v) = Crs.WebMercator.fromLonLat(x, y)
      val both = Crs.transform(4326, 3857)(x, y)
      id(u, v) == ((u, v)) && math.abs(both._1 - u) < 1e-9 && math.abs(both._2 - v) < 1e-9
    }

  // 3 x 4 sample grids over every ordered pair, UTM source frames included;
  // the grid is axis-aligned in the source frame, spaced ~10 km
  private val epsgs = Seq(4326, 3857, 32618, 32733)

  property("column transform == point transform, bit for bit, for every frame pair") =
    forAll(Gen.chooseNum(-80.0, 20.0), Gen.chooseNum(-60.0, 60.0)) { (lon0, lat0) =>
      epsgs.forall { src =>
        val (ax, ay) = Crs.transform(4326, src)(lon0, lat0)
        val step = if (src == 4326) 0.1 else 10000.0
        val ys = Array.tabulate(4)(j => ay + j * step)
        epsgs.forall { dst =>
          val ct = Crs.columnTransform(src, dst, ys)
          val pt = Crs.transform(src, dst)
          val u = new Array[Double](ys.length); val v = new Array[Double](ys.length)
          (0 until 3).forall { i =>
            val x = ax + i * step
            ct.column(x, u, v)
            ys.indices.forall { j =>
              val (pu, pv) = pt(x, ys(j))
              java.lang.Double.doubleToRawLongBits(u(j)) == java.lang.Double.doubleToRawLongBits(pu) &&
                java.lang.Double.doubleToRawLongBits(v(j)) == java.lang.Double.doubleToRawLongBits(pv)
            }
          }
        }
      }
    }

  property("envelope transform contains random interior points (4326->3857)") =
    forAll(Gen.chooseNum(-170.0, 150.0), Gen.chooseNum(-80.0, 60.0),
           Gen.chooseNum(0.1, 19.0), Gen.chooseNum(0.1, 19.0)) { (x0, y0, dx, dy) =>
      val (lo1, hi1, lo2, hi2) = Crs.transformEnvelope(4326, 3857, x0, x0 + dx, y0, y0 + dy)
      val t = Crs.transform(4326, 3857)
      (0 to 5).forall { i =>
        (0 to 5).forall { j =>
          val (u, v) = t(x0 + dx * i / 5, y0 + dy * j / 5)
          u >= lo1 && u <= hi1 && v >= lo2 && v <= hi2
        }
      }
    }
}
