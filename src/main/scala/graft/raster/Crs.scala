package graft.raster

/**
 * Pure-Scala coordinate reference systems and transforms (J3 completion —
 * the reference reprojects as a core step of every encode:
 * adapters/raster/RasterEncoder.java:376-389 resample-with-CRS via
 * Operations.DEFAULT.resample, and unifies mosaics to EPSG:4326 with a
 * lenient datum shift, adapters/stac/StacResource.java:421-427). GeoTools is
 * absent by contract, so the supported projections are implemented from the
 * published formulas:
 *
 *  - EPSG:4326  WGS84 lon/lat degrees (the identity frame here)
 *  - EPSG:3857  spherical Web Mercator (R = WGS84 semi-major axis)
 *  - EPSG:326xx/327xx  WGS84 UTM zones, transverse Mercator via the
 *    Krüger n-series to n^3 (sub-mm inside a zone; the same series GeoTools'
 *    TransverseMercator uses, per the EPSG guidance notes)
 *
 * All WGS84-datum CRS, so datum shift is the identity — which is exactly the
 * reference's `setAcceptLenientDatumShift(true)` behavior for WGS84 inputs.
 */
object Crs {

  /** WGS84 semi-major axis (m) and flattening. */
  val A = 6378137.0
  val F = 1.0 / 298.257223563

  sealed trait Projection {
    def epsg: Int
    /** lon/lat degrees -> projected (x, y). */
    def fromLonLat(lon: Double, lat: Double): (Double, Double)
    /** projected (x, y) -> lon/lat degrees. */
    def toLonLat(x: Double, y: Double): (Double, Double)
  }

  case object LonLat extends Projection {
    val epsg = 4326
    def fromLonLat(lon: Double, lat: Double): (Double, Double) = (lon, lat)
    def toLonLat(x: Double, y: Double): (Double, Double) = (x, y)
  }

  /** Spherical Web Mercator (EPSG:3857): x = R*lam, y = R*ln(tan(pi/4+phi/2)). */
  case object WebMercator extends Projection {
    val epsg = 3857
    def fromLonLat(lon: Double, lat: Double): (Double, Double) = {
      val x = A * math.toRadians(lon)
      val y = A * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2))
      (x, y)
    }
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val lon = math.toDegrees(x / A)
      val lat = math.toDegrees(2 * math.atan(math.exp(y / A)) - math.Pi / 2)
      (lon, lat)
    }
  }

  /** WGS84 UTM (EPSG:32601-32660 north, 32701-32760 south): transverse
    * Mercator, Krüger flattened n-series (k0 = 0.9996, E0 = 500 km,
    * N0 = 0 / 10 000 km). */
  final case class Utm(zone: Int, north: Boolean) extends Projection {
    require(zone >= 1 && zone <= 60, s"UTM zone $zone out of range")
    val epsg: Int = (if (north) 32600 else 32700) + zone
    private val lon0 = math.toRadians(zone * 6.0 - 183.0)
    private val k0 = 0.9996
    private val e0 = 500000.0
    private val n0 = if (north) 0.0 else 10000000.0

    private val n = F / (2 - F)
    private val n2 = n * n; private val n3 = n2 * n
    private val aBar = A / (1 + n) * (1 + n2 / 4 + n2 * n2 / 64)
    private val alpha = Array(
      n / 2 - 2 * n2 / 3 + 5 * n3 / 16,
      13 * n2 / 48 - 3 * n3 / 5,
      61 * n3 / 240)
    private val beta = Array(
      n / 2 - 2 * n2 / 3 + 37 * n3 / 96,
      n2 / 48 + n3 / 15,
      17 * n3 / 480)
    private val delta = Array(
      2 * n - 2 * n2 / 3 - 2 * n3,
      7 * n2 / 3 - 8 * n3 / 5,
      56 * n3 / 15)
    private val e2sqrt = 2 * math.sqrt(n) / (1 + n)

    def fromLonLat(lon: Double, lat: Double): (Double, Double) = {
      val t = tOf(lat)
      val lam = lamOf(lon)
      series(math.atan2(t, math.cos(lam)), atanh(math.sin(lam) / math.sqrt(1 + t * t)))
    }

    /** The latitude-only term of [[fromLonLat]]. */
    private[Crs] def tOf(lat: Double): Double = {
      val sinPhi = math.sin(math.toRadians(lat))
      math.sinh(atanh(sinPhi) - e2sqrt * atanh(e2sqrt * sinPhi))
    }
    /** The longitude-only term of [[fromLonLat]]. */
    private[Crs] def lamOf(lon: Double): Double = math.toRadians(lon) - lon0
    /** (easting, northing) from (xi', eta'): the Krüger series. */
    private[Crs] def series(xiP: Double, etaP: Double): (Double, Double) = {
      var xi = xiP; var eta = etaP
      var j = 1
      while (j <= 3) {
        xi += alpha(j - 1) * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
        eta += alpha(j - 1) * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
        j += 1
      }
      (e0 + k0 * aBar * eta, n0 + k0 * aBar * xi)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xi = (y - n0) / (k0 * aBar)
      val eta = (x - e0) / (k0 * aBar)
      var xiP = xi; var etaP = eta
      var j = 1
      while (j <= 3) {
        xiP -= beta(j - 1) * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
        etaP -= beta(j - 1) * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
        j += 1
      }
      val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
      var phi = chi
      j = 1
      while (j <= 3) {
        phi += delta(j - 1) * math.sin(2 * j * chi)
        j += 1
      }
      val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
      (math.toDegrees(lam + lon0), math.toDegrees(phi))
    }
  }

  @inline private def atanh(v: Double): Double = 0.5 * math.log((1 + v) / (1 - v))

  /** EPSG code -> projection (the codes the engine understands natively). */
  def forEpsg(epsg: Int): Projection = epsg match {
    case 4326 => LonLat
    case 3857 => WebMercator
    case z if z >= 32601 && z <= 32660 => Utm(z - 32600, north = true)
    case z if z >= 32701 && z <= 32760 => Utm(z - 32700, north = false)
    case other => throw new IllegalArgumentException(s"unsupported CRS EPSG:$other")
  }

  /** Point transform src EPSG -> dst EPSG (via lon/lat; identity short-circuits). */
  def transform(srcEpsg: Int, dstEpsg: Int): (Double, Double) => (Double, Double) = {
    if (srcEpsg == dstEpsg) (x, y) => (x, y)
    else {
      val s = forEpsg(srcEpsg); val d = forEpsg(dstEpsg)
      (x, y) => {
        val (lon, lat) = s.toLonLat(x, y)
        d.fromLonLat(lon, lat)
      }
    }
  }

  /** src -> dst over a grid, one column at a time: `column(x, u, v)` maps
    * the points (x, ys(j)) to (u(j), v(j)). Bit for bit what [[transform]]
    * gives point by point. From a 4326 or 3857 source frame (each axis maps
    * from one coordinate: lon from x, lat from y) into a UTM frame, every
    * term of lat is computed once per row here and every term of lon once
    * per column, and a cell pays only for UTM's series; every other pair
    * transforms point by point. */
  abstract class ColumnTransform {
    def column(x: Double, u: Array[Double], v: Array[Double]): Unit
  }

  def columnTransform(srcEpsg: Int, dstEpsg: Int, ys: Array[Double]): ColumnTransform = {
    val n = ys.length
    (forEpsg(srcEpsg), forEpsg(dstEpsg)) match {
      case (s, utm: Utm) if !s.isInstanceOf[Utm] =>
        val t = ys.map(y => utm.tOf(s.toLonLat(0.0, y)._2))
        val st = t.map(ti => math.sqrt(1 + ti * ti))
        (x, u, v) => {
          val lam = utm.lamOf(s.toLonLat(x, 0.0)._1)
          val cosLam = math.cos(lam); val sinLam = math.sin(lam)
          var j = 0
          while (j < n) {
            val (e, nn) = utm.series(math.atan2(t(j), cosLam), atanh(sinLam / st(j)))
            u(j) = e; v(j) = nn
            j += 1
          }
        }
      case _ =>
        val f = transform(srcEpsg, dstEpsg)
        (x, u, v) => {
          var j = 0
          while (j < n) {
            val (a, b) = f(x, ys(j))
            u(j) = a; v(j) = b
            j += 1
          }
        }
    }
  }

  /**
   * Envelope transform for join prefilters: sample the source envelope's
   * boundary (its 4 vertices + `samples` points per edge) in the destination CRS
   * and take the hull bbox. Exact for the axis-monotone 4326<->3857 pair;
   * the edge samples cover the slight curvature of UTM meridians/parallels.
   * Callers still refine per cell, so a prefilter envelope only needs to be
   * CONSERVATIVE — it is padded by `padFrac` of its own span.
   */
  def transformEnvelope(srcEpsg: Int, dstEpsg: Int,
                        minX: Double, maxX: Double, minY: Double, maxY: Double,
                        samples: Int = 7, padFrac: Double = 0.001): (Double, Double, Double, Double) = {
    if (srcEpsg == dstEpsg) return (minX, maxX, minY, maxY)
    val t = transform(srcEpsg, dstEpsg)
    var lo1 = Double.MaxValue; var hi1 = Double.MinValue
    var lo2 = Double.MaxValue; var hi2 = Double.MinValue
    var i = 0
    while (i <= samples) {
      val fx = minX + (maxX - minX) * i / samples
      val fy = minY + (maxY - minY) * i / samples
      // two horizontal + two vertical boundary sweeps
      val pts = Array(t(fx, minY), t(fx, maxY), t(minX, fy), t(maxX, fy))
      pts.foreach { case (u, v) =>
        if (u < lo1) lo1 = u; if (u > hi1) hi1 = u
        if (v < lo2) lo2 = v; if (v > hi2) hi2 = v
      }
      i += 1
    }
    val padX = (hi1 - lo1) * padFrac; val padY = (hi2 - lo2) * padFrac
    (lo1 - padX, hi1 + padX, lo2 - padY, hi2 + padY)
  }
}
