package graft.raster

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{Raster, TileGeometry}

/** One labeled predicate cell from tile-local region labeling: global cell
  * id, grid coordinates, and the tile-local component root's global id.
  * Top-level for Catalyst's encoder codegen, like [[CogFile]]. */
final case class CellRoot(cell: Long, cx: Long, cy: Long, root: Long)

/**
 * Focal (neighborhood) operators over tiled rasters with DISTRIBUTED HALO
 * EXCHANGE — the hard part the reference sidesteps by fetching overlapping
 * coverage per tile (SURVEY.md §7.4.4). Tiles here are disjoint, so each
 * tile ships its 1-cell border strips and corner cells to the neighbors
 * that need them, as patches through the mosaic's tile exchange
 * (`Mosaic.exchange`: one RDD shuffle keyed by tile, so an action on a
 * focal output runs one job), and computes its kernel over (own cells +
 * received halo) without ever materializing the full grid on one machine.
 * Corner cells always ship; 4-neighborhood kernels never read them.
 *
 * Slope is the HortonMachine gradient the reference's `hm.geomorphology`
 * library declares (HMGeomorphology.java):
 *   p = (E - W) / (2 dx), q = (N - S) / (2 dy), slope = sqrt(p^2 + q^2);
 * cells whose 4-neighborhood leaves the region (or hits NaN) become NaN.
 */
object Focal {

  /**
   * Slope over a tiled region. `tiles` must partition `region` on the grid
   * produced by [[Mosaic.splitTilesWithOffsets]] with the same maxCells
   * (e.g. the output of Mosaic.mergeToTiles or Terrain generation).
   */
  def slope(tiles: Dataset[Raster], region: TileGeometry,
            maxCells: Long = 1000000L): Dataset[Raster] = {
    val dx2 = 2.0 * region.cellWidth
    val dy2 = 2.0 * region.cellHeight
    focal4(tiles, region, maxCells, "slope", 1) { (e, wv, n, s, out, i) =>
      val p = (e - wv) / dx2
      val q = (n - s) / dy2
      out(0)(i) = math.sqrt(p * p + q * q) // NaN propagates from any missing neighbor
    }
  }

  /**
   * Aspect octant + analytic hillshade in one halo-exchange pass.
   *
   * Band 0 — octant of the DOWNSLOPE direction (-p, -q): 0 = flat,
   * 1..8 = half-quadrant sectors counted CCW from east, boundaries on the
   * 0/45/90... degree lines so classification is pure sign/magnitude
   * comparisons (bit-exact in any engine — no atan2, whose last-ulp
   * behavior differs between libm implementations).
   *
   * Band 1 — Lambertian illumination (l . n) with the conventional sun at
   * azimuth 315 / altitude 45 degrees, where those angles make the light
   * vector EXACT: l = (-1/2, 1/2, sqrt(1/2)), so
   * illum = (p/2 - q/2 + sqrt(0.5)) / sqrt(1 + p^2 + q^2) uses only
   * correctly-rounded IEEE ops (replayable bit-for-bit by the oracle).
   * Unclamped: negative = self-shadowed (the caller's ramp clamps).
   */
  def aspectHillshade(tiles: Dataset[Raster], region: TileGeometry,
                      maxCells: Long = 1000000L): Dataset[Raster] = {
    val dx2 = 2.0 * region.cellWidth
    val dy2 = 2.0 * region.cellHeight
    val lz = math.sqrt(0.5)
    focal4(tiles, region, maxCells, "aspect", 2) { (e, wv, n, s, out, i) =>
      val p = (e - wv) / dx2
      val q = (n - s) / dy2
      if (java.lang.Double.isNaN(p) || java.lang.Double.isNaN(q)) {
        out(0)(i) = Double.NaN; out(1)(i) = Double.NaN
      } else {
        val a = -p; val b = -q
        out(0)(i) =
          if (a == 0.0 && b == 0.0) 0.0
          else if (a >= 0 && b >= 0) { if (a >= b) 1.0 else 2.0 }
          else if (a < 0 && b >= 0)  { if (-a < b) 3.0 else 4.0 }
          else if (a < 0 && b < 0)   { if (-a >= -b) 5.0 else 6.0 }
          else                       { if (a < -b) 7.0 else 8.0 }
        out(1)(i) = (0.5 * p - 0.5 * q + lz) / math.sqrt(1.0 + p * p + q * q)
      }
    }
  }

  /**
   * D8 flow direction (HortonMachine FlowDirections semantics): per cell,
   * the steepest positive elevation-over-distance drop among the 8
   * neighbors, distances in WORLD units (dx / dy cardinal, their hypotenuse
   * diagonal). Output codes 1..8 = E, NE, N, NW, W, SW, S, SE (CCW from
   * east), 0 = pit (no positive drop), NaN on the region border. Ties go
   * to the LOWEST code — a fixed rule both engines replay exactly (the
   * comparisons are on identical double bits, so no epsilon is needed).
   * Steepest-descent edges strictly decrease elevation, so the resulting
   * drainage graph is acyclic by construction (what flow accumulation's
   * closure relies on).
   */
  def flowDir(tiles: Dataset[Raster], region: TileGeometry,
              maxCells: Long = 1000000L): Dataset[Raster] = {
    val dw = region.cellWidth; val dh = region.cellHeight
    val ddiag = math.sqrt(dw * dw + dh * dh)
    focalPad(tiles, region, maxCells, "flowdir", 1) { (pad, w, h, out) =>
      val s2 = h + 2
      @inline def p(lx: Int, ly: Int) = pad((lx + 1) * s2 + (ly + 1))
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) {
          val c = p(x, y)
          // E, NE, N, NW, W, SW, S, SE visited in code order so ties keep
          // the lowest code; allocation-free (the 10^12-cell inner loop)
          var nan = java.lang.Double.isNaN(c)
          var best = 0.0; var dir = 0
          @inline def consider(n: Double, d: Double, k: Int): Unit =
            if (java.lang.Double.isNaN(n)) nan = true
            else { val wk = (c - n) / d; if (wk > best) { best = wk; dir = k } }
          consider(p(x + 1, y), dw, 1); consider(p(x + 1, y + 1), ddiag, 2)
          consider(p(x, y + 1), dh, 3); consider(p(x - 1, y + 1), ddiag, 4)
          consider(p(x - 1, y), dw, 5); consider(p(x - 1, y - 1), ddiag, 6)
          consider(p(x, y - 1), dh, 7); consider(p(x + 1, y - 1), ddiag, 8)
          out(0)(x * h + y) = if (nan) Double.NaN else dir.toDouble
          y += 1
        }
        x += 1
      }
    }
  }

  /**
   * Profile and planform curvature (HortonMachine `curvatures` semantics,
   * Evans second-order finite differences on the 3x3 window):
   *   zxx = (E - 2C + W) / dx^2,  zyy = (N - 2C + S) / dy^2,
   *   zxy = (NE - NW - SE + SW) / (4 dx dy),
   *   profile = (zxx p^2 + 2 zxy p q + zyy q^2) / ((p^2+q^2) sqrt((1+p^2+q^2)^3)),
   *   plan    = (zxx q^2 - 2 zxy p q + zyy p^2) / ((p^2+q^2)^1.5)
   * with p, q the central-difference first derivatives. The 1.5 powers are
   * evaluated as x * sqrt(x) in both engines — only correctly-rounded IEEE
   * ops, so the oracle replays bit-for-bit. Flat
   * cells (p = q = 0) and the region border are NaN (the formulas divide
   * by the gradient magnitude).
   */
  def curvatures(tiles: Dataset[Raster], region: TileGeometry,
                 maxCells: Long = 1000000L): Dataset[Raster] = {
    val dx = region.cellWidth; val dy = region.cellHeight
    val dx2 = dx * dx; val dy2 = dy * dy; val dxy4 = 4.0 * dx * dy
    val tdx = 2.0 * dx; val tdy = 2.0 * dy
    focalPad(tiles, region, maxCells, "curv", 2) { (pad, w, h, out) =>
      val s2 = h + 2
      @inline def pv(lx: Int, ly: Int) = pad((lx + 1) * s2 + (ly + 1))
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) {
          val c = pv(x, y)
          val e = pv(x + 1, y); val wv = pv(x - 1, y)
          val n = pv(x, y + 1); val s = pv(x, y - 1)
          val ne = pv(x + 1, y + 1); val nw = pv(x - 1, y + 1)
          val se = pv(x + 1, y - 1); val sw = pv(x - 1, y - 1)
          val p = (e - wv) / tdx
          val q = (n - s) / tdy
          val g2 = p * p + q * q
          val i = x * h + y
          if (g2 == 0.0 || java.lang.Double.isNaN(g2) || java.lang.Double.isNaN(c) ||
              java.lang.Double.isNaN(ne) || java.lang.Double.isNaN(nw) ||
              java.lang.Double.isNaN(se) || java.lang.Double.isNaN(sw)) {
            out(0)(i) = Double.NaN; out(1)(i) = Double.NaN
          } else {
            val zxx = (e - 2.0 * c + wv) / dx2
            val zyy = (n - 2.0 * c + s) / dy2
            val zxy = (ne - nw - se + sw) / dxy4
            val s3 = 1.0 + g2
            out(0)(i) = (zxx * (p * p) + 2.0 * zxy * (p * q) + zyy * (q * q)) /
                        (g2 * (s3 * math.sqrt(s3)))
            out(1)(i) = (zxx * (q * q) - 2.0 * zxy * (p * q) + zyy * (p * p)) /
                        (g2 * math.sqrt(g2))
          }
          y += 1
        }
        x += 1
      }
    }
  }

  /**
   * Generic 4-neighborhood focal operator: one distributed halo exchange
   * ([[focalPad]]), then `kernel(E, W, N, S, out, cellIdx)` fills `nBands`
   * output bands per cell. Neighbors outside the region (or never
   * received) are NaN.
   */
  def focal4(tiles: Dataset[Raster], region: TileGeometry,
             maxCells: Long, namePrefix: String, nBands: Int)
            (kernel: (Double, Double, Double, Double, Array[Array[Double]], Int) => Unit)
      : Dataset[Raster] =
    focalPad(tiles, region, maxCells, namePrefix, nBands) { (pad, w, h, out) =>
      val s2 = h + 2
      @inline def p(lx: Int, ly: Int) = pad((lx + 1) * s2 + (ly + 1))
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) {
          kernel(p(x + 1, y), p(x - 1, y), p(x, y + 1), p(x, y - 1), out, x * h + y)
          y += 1
        }
        x += 1
      }
    }

  /**
   * The halo-exchange core: each tile sends its own block and, to each of
   * its <= 8 neighbors, the edge strip or corner cell that neighbor's
   * window needs; the kernel receives the assembled (w+2)x(h+2) NaN-padded
   * window (column-major, cell (x, y) at (x+1)*(h+2)+(y+1)) and fills
   * `nBands` outputs for the tile's own w*h cells.
   */
  def focalPad(tiles: Dataset[Raster], region: TileGeometry,
               maxCells: Long, namePrefix: String, nBands: Int)
              (kernel: (Array[Double], Int, Int, Array[Array[Double]]) => Unit)
      : Dataset[Raster] = {
    val spark = tiles.sparkSession
    val gridB = spark.sparkContext.broadcast(new Mosaic.TileGrid(region, maxCells))

    val patches = Mosaic.lazyRdd(tiles).flatMap { r =>
      val grid = gridB.value
      val idx = grid.indexOf(r)
      val (_, x0, y0) = grid.tiles(idx)
      val vals = r.bands.head
      val w = r.width; val h = r.height
      for (dx <- -1 to 1; dy <- -1 to 1; n <- grid.neighbor(idx, dx, dy)) yield {
        // the tile's cells inside neighbor n's window: its last column or
        // row toward a later neighbor, its first toward an earlier one
        val c0 = if (dx > 0) w - 1 else 0; val cw = if (dx == 0) w else 1
        val r0 = if (dy > 0) h - 1 else 0; val rh = if (dy == 0) h else 1
        val (_, nx0, ny0) = grid.tiles(n)
        MosaicPatch(n, 0L, "", x0 + c0 - nx0, y0 + r0 - ny0, cw, rh,
          if (cw == w && rh == h) vals
          else Array.tabulate(cw * rh)(k => vals((c0 + k / rh) * h + r0 + k % rh)))
      }
    }
    Mosaic.exchange(spark, patches, gridB, Mosaic.Substitute, 1) { (idx, t, pad) =>
      val out = Array.fill(nBands)(new Array[Double](t.width * t.height))
      kernel(pad, t.width, t.height, out)
      Raster(f"$namePrefix-$idx%04d", 0L, t.width, t.height, t.minX, t.maxX, t.minY, t.maxY,
             t.epsg, out.toSeq)
    }
  }

  /**
   * Phase 1 of two-level raster region labeling (the distributed
   * GDAL-polygonize design): each tile labels its OWN predicate cells with
   * a sequential union-find (no shuffle, no halo), emitting one
   * (cell, cx, cy, root) row per predicate cell where `root` is the
   * GLOBAL id of the component's minimum cell within the tile (tile-local
   * (x, y) lexicographic order equals global-id order, so local minima are
   * globally comparable). Phase 2 is the caller's: adjacent cells in
   * DIFFERENT tiles with different roots form a root graph orders of
   * magnitude smaller than the grid — cross-tile merges only — which
   * ConnectedComponents closes in a few rounds regardless of the regions'
   * spatial diameter (min-label propagation on raw grid cells walks value
   * waves one cell per round; this contracts each tile to O(regions) nodes
   * first).
   */
  def localRegionRoots(tiles: Dataset[Raster], region: TileGeometry)
                      (pred: Double => Boolean): Dataset[CellRoot] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val hReg = region.height
    tiles.flatMap { r =>
      val (x0, y0) = region.tileOffset(r)
      val w = r.width; val h = r.height; val v = r.bands.head
      val parent = Array.tabulate(w * h)(i => i)
      def find(x: Int): Int = {
        var p = x
        while (parent(p) != p) { parent(p) = parent(parent(p)); p = parent(p) }
        p
      }
      @inline def ok(i: Int) = pred(v(i))
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) {
          val i = x * h + y
          if (ok(i)) {
            if (x + 1 < w && ok(i + h)) {
              val a = find(i); val b = find(i + h)
              if (a != b) parent(math.max(a, b)) = math.min(a, b)
            }
            if (y + 1 < h && ok(i + 1)) {
              val a = find(i); val b = find(i + 1)
              if (a != b) parent(math.max(a, b)) = math.min(a, b)
            }
          }
          y += 1
        }
        x += 1
      }
      val out = Seq.newBuilder[CellRoot]
      var i = 0
      while (i < w * h) {
        if (ok(i)) {
          val rt = find(i)
          out += CellRoot((x0 + i / h).toLong * hReg + (y0 + i % h),
                          (x0 + i / h).toLong, (y0 + i % h).toLong,
                          (x0 + rt / h).toLong * hReg + (y0 + rt % h))
        }
        i += 1
      }
      out.result()
    }
  }

  /** Terrain generation distributed over the region's tiles. */
  def terrainTiles(spark: SparkSession, region: TileGeometry,
                   lo: Double = 0.0, hi: Double = 4000.0,
                   octaves: Int = 4, roughness: Double = 0.55,
                   maxCells: Long = 1000000L): Dataset[Raster] = {
    import spark.implicits._
    val layout = Mosaic.splitTilesWithOffsets(region, maxCells)
    spark.createDataset(layout.zipWithIndex).map { case ((t, x0, y0), i) =>
      Raster(f"terrain-$i%04d", 0L, t.width, t.height,
             t.minX, t.maxX, t.minY, t.maxY, t.epsg,
             Seq(Terrain.generateTile(region, x0, y0, t.width, t.height, lo, hi, octaves, roughness)))
    }
  }
}
