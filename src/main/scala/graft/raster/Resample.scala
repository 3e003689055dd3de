package graft.raster

import graft.model.{Raster, TileGeometry}

/**
 * Resampling kernels (W2/J3): nearest / bilinear (2x2) / bicubic & bicubic2
 * (4x4 cubic convolution), the reference's interpolation menu
 * (RasterEncoder.java:308-330 — JAI InterpolationNearest /
 * InterpolationBilinear / InterpolationBicubic / InterpolationBicubic2).
 * JAI's bicubic uses cubic-convolution parameter a = -0.5, bicubic2 a = -1.0.
 *
 * Sampling is in source *cell* space with cell-center alignment; out-of-range
 * taps clamp to the border (JAI border extension) and NaN taps poison the
 * window (nodata stays nodata — matches coverage resampling of nodata-filled
 * rasters). These kernels need a +-2-cell apron when a tile is resampled in
 * isolation; the distributed paths (Mosaic.mergeToTiles and
 * Mosaic.mergeToTilesCog) resample each item where it is read, over the
 * region cells it covers in a tile, from source data that holds the tile
 * bbox *plus apron* — the reference's fetch-overlapping-coverage-per-tile
 * behavior (SURVEY.md §7.4.4).
 */
object Resample {

  sealed trait Kernel
  case object Nearest extends Kernel
  case object Bilinear extends Kernel
  case object Bicubic extends Kernel   // a = -0.5
  case object Bicubic2 extends Kernel  // a = -1.0

  def forName(name: String): Kernel = name match {
    case "nearest"  => Nearest
    case "bilinear" => Bilinear
    case "bicubic"  => Bicubic
    case "bicubic2" => Bicubic2
    case other      => Nearest // reference defaults to nearest (:329)
  }

  /** Strict field parse (RasterAdapter.Interpolation.fromField, :81-88):
    * unknown names are an error, unlike the lenient [[forName]]. */
  def fromField(name: String): Kernel = name match {
    case "nearest"  => Nearest
    case "bilinear" => Bilinear
    case "bicubic"  => Bicubic
    case "bicubic2" => Bicubic2
    case other =>
      throw new IllegalArgumentException(s"Unknown interpolation type field: $other")
  }

  /**
   * Semantic default chooser (RasterAdapter.Interpolation.getDefaultForType,
   * :59-79, applied at WCSAdapter.java:262-276): continuous observations
   * (quantification / measure / valuation / transformation) interpolate
   * BICUBIC; discrete ones (categorization / verification / detection)
   * NEAREST — a category must never be blended into a value between two
   * codes. Any other contextualization is an error, and an explicit
   * `interpolation` parameter overrides the semantic default.
   */
  def forObservable(contextualization: String, param: Option[String] = None): Kernel =
    param.map(fromField).getOrElse(contextualization.toLowerCase match {
      case "quantification" | "measure" | "valuation" | "transformation" => Bicubic
      case "categorization" | "verification" | "detection"               => Nearest
      case other =>
        throw new IllegalArgumentException(
          s"Cannot interpolate data for $other observations")
    })

  @inline private def clamp(i: Int, hi: Int): Int =
    if (i < 0) 0 else if (i > hi) hi else i

  /** Sample one band of a source grid at fractional grid coords (cell-center
    * convention: cell i's center is at i + 0.5). `values` holds a (vw x vh)
    * window of the (gw x gh) grid whose cell (0, 0) is the grid's cell
    * (ox, oy): coordinates, weights and the border clamp are those of the
    * full grid, and only the final tap index subtracts the integer offset
    * (exact), so a window samples bit-identically to the whole grid wherever
    * its taps lie inside it. Taps outside the window clamp to its border. */
  private[graft] def sample(values: Array[Double], gw: Int, gh: Int, ox: Int, oy: Int,
                     vw: Int, vh: Int, sx: Double, sy: Double, kernel: Kernel): Double = {
    @inline def col(x: Int): Int = clamp(clamp(x, gw - 1) - ox, vw - 1)
    @inline def row(y: Int): Int = clamp(clamp(y, gh - 1) - oy, vh - 1)
    kernel match {
      case Nearest =>
        values(col(math.floor(sx).toInt) * vh + row(math.floor(sy).toInt))

      case Bilinear =>
        // align to cell centers
        val gx = sx - 0.5; val gy = sy - 0.5
        val x0 = math.floor(gx).toInt; val y0 = math.floor(gy).toInt
        val fx = gx - x0; val fy = gy - y0
        val x0c = col(x0); val x1c = col(x0 + 1)
        val y0c = row(y0); val y1c = row(y0 + 1)
        val v00 = values(x0c * vh + y0c); val v10 = values(x1c * vh + y0c)
        val v01 = values(x0c * vh + y1c); val v11 = values(x1c * vh + y1c)
        (v00 * (1 - fx) + v10 * fx) * (1 - fy) + (v01 * (1 - fx) + v11 * fx) * fy

      case Bicubic | Bicubic2 =>
        val a = if (kernel == Bicubic) -0.5 else -1.0
        val gx = sx - 0.5; val gy = sy - 0.5
        val x0 = math.floor(gx).toInt; val y0 = math.floor(gy).toInt
        val fx = gx - x0; val fy = gy - y0
        val wx = cubicWeights(fx, a); val wy = cubicWeights(fy, a)
        var acc = 0.0
        var i = 0
        while (i < 4) {
          val xc = col(x0 - 1 + i)
          var rowAcc = 0.0
          var j = 0
          while (j < 4) {
            rowAcc += wy(j) * values(xc * vh + row(y0 - 1 + j))
            j += 1
          }
          acc += wx(i) * rowAcc
          i += 1
        }
        acc
    }
  }

  /** Cubic-convolution weights for taps at offsets {-1, 0, 1, 2}. */
  private def cubicWeights(f: Double, a: Double): Array[Double] = {
    @inline def k(x: Double): Double = {
      val ax = math.abs(x)
      if (ax <= 1) (a + 2) * ax * ax * ax - (a + 3) * ax * ax + 1
      else if (ax < 2) a * ax * ax * ax - 5 * a * ax * ax + 8 * a * ax - 4 * a
      else 0.0
    }
    Array(k(f + 1), k(f), k(f - 1), k(f - 2))
  }

  /** Resample a raster onto a target grid: for each target cell center, map
    * world -> source coords (through the CRS transform when the frames
    * differ) -> source fractional cell (the grid<->world affine F10) and
    * sample. Out-of-coverage -> NaN. */
  def toGrid(src: Raster, target: TileGeometry, kernel: Kernel, band: Int = 0): Array[Double] =
    toGridAnchored(src, target, 0, 0, target.width, target.height, kernel, band)

  /**
   * Tile-anchored variant: sample a (w x h) window of `region` starting at
   * global cell (x0, y0), computing every cell center in the REGION frame —
   * so a region split into tiles yields bit-identical values to the unsplit
   * computation (tile.minX + (x+0.5)*cw and region.minX + (gx+0.5)*cw differ
   * in the last ulp otherwise; split size must never change results).
   *
   * When the source's EPSG differs from the region's (J3, the engine analog
   * of Operations.DEFAULT.resample with a target CRS,
   * RasterEncoder.java:376-389), region cell centers are mapped into the
   * SOURCE's frame before the source-grid affine, one column at a time
   * (Crs.columnTransform). Coverage is tested in source coordinates, so a
   * reprojected sample is nodata exactly when it falls outside the source
   * grid.
   */
  def toGridAnchored(src: Raster, region: TileGeometry, x0: Int, y0: Int,
                     w: Int, h: Int, kernel: Kernel, band: Int = 0): Array[Double] =
    toGridAnchoredWindow(src.bands(band), src.geom, 0, 0, src.width, src.height,
                         region, x0, y0, w, h, kernel)

  /** [[toGridAnchored]] over a (vw x vh) window at cell offset (ox, oy) of
    * the source grid `grid` (its full envelope and dimensions): sample
    * coordinates and the coverage test use the full grid, so a window that
    * holds every kernel tap yields the full grid's values bit for bit. */
  private[raster] def toGridAnchoredWindow(values: Array[Double], grid: TileGeometry,
                                           ox: Int, oy: Int, vw: Int, vh: Int,
                                           region: TileGeometry, x0: Int, y0: Int,
                                           w: Int, h: Int, kernel: Kernel): Array[Double] = {
    val out = new Array[Double](w * h)
    val cw = grid.cellWidth; val ch = grid.cellHeight
    @inline def at(sx: Double, sy: Double): Double =
      sample(values, grid.width, grid.height, ox, oy, vw, vh, sx, sy, kernel)
    if (grid.epsg == region.epsg) {
      var x = 0
      while (x < w) {
        // same CRS: column coordinate hoisted
        val wx = region.cellCenterX(x0 + x)
        val sx = (wx - grid.minX) / cw
        var y = 0
        while (y < h) {
          val wy = region.cellCenterY(y0 + y)
          out(x * h + y) =
            if (wx < grid.minX || wx >= grid.maxX || wy < grid.minY || wy >= grid.maxY) Double.NaN
            else at(sx, (wy - grid.minY) / ch)
          y += 1
        }
        x += 1
      }
    } else {
      val toSrc = Crs.columnTransform(region.epsg, grid.epsg,
                                      Array.tabulate(h)(y => region.cellCenterY(y0 + y)))
      val us = new Array[Double](h); val vs = new Array[Double](h)
      var x = 0
      while (x < w) {
        toSrc.column(region.cellCenterX(x0 + x), us, vs)
        var y = 0
        while (y < h) {
          val u = us(y); val v = vs(y)
          out(x * h + y) =
            if (u < grid.minX || u >= grid.maxX || v < grid.minY || v >= grid.maxY) Double.NaN
            else at((u - grid.minX) / cw, (v - grid.minY) / ch)
          y += 1
        }
        x += 1
      }
    }
    out
  }
}
