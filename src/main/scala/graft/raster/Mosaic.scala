package graft.raster

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset

import graft.model.{Raster, TileGeometry}
import graft.sources.GeoTiff

/** One COG file for [[Mosaic.mergeToTilesCog]] (top-level: Catalyst encoders
  * cannot codegen case classes nested inside objects). */
final case class CogFile(item_id: String, ts: Long, bytes: Array[Byte])

/**
 * Distributed mosaic merge (J4/A2): N overlapping raster items -> one value
 * grid per target tile, reproducing StacResource.readRasterBandOnRegion +
 * getCoverage semantics (StacResource.java:415-437) as deterministic Spark
 * transforms.
 *
 * Merge modes (StacEngine.java:146 vs StacResource.java:329):
 *  - SUM: cell-wise NaN-skipping sum of all contributing items;
 *  - SUBSTITUTE: last-write-wins. The reference *intends* order by item
 *    timestamp (sort is live in StacEngine.java:243-245 but commented out in
 *    the StacResource path :336-338, which substitutes in irreproducible
 *    server order) — this engine makes last-by-(ts, item_id) the
 *    deterministic semantics (SURVEY.md §7.4.2), so N vs 4N partitions give
 *    identical grids.
 *
 * Distribution shape: target tiles are broadcast (a region split into <=1M
 * cell tiles is a small list); items are range-joined to the tiles they
 * intersect (flatMap -> (tileIdx, item)), then groupByKey(tileIdx) merges
 * each tile's fragment list in one reduce — the only shuffle moves each item
 * once per intersecting tile, never the dense target grid.
 */
object Mosaic {

  sealed trait MergeMode
  case object Sum extends MergeMode
  case object Substitute extends MergeMode

  /** Split a region into column-major tiles of <= maxCells cells each
    * (the reference's minSizeForSplitting rule, WCSAdapter.java:60-61),
    * with each tile's global (x0, y0) cell offset in the region grid. */
  def splitTilesWithOffsets(region: TileGeometry,
                            maxCells: Long = 1000000L): Seq[(TileGeometry, Int, Int)] = {
    val side = math.max(1, math.sqrt(maxCells.toDouble).toInt)
    val nx = (region.width + side - 1) / side
    val ny = (region.height + side - 1) / side
    for {
      tx <- 0 until nx
      ty <- 0 until ny
    } yield {
      val x0 = tx * side; val x1 = math.min(region.width, x0 + side)
      val y0 = ty * side; val y1 = math.min(region.height, y0 + side)
      (TileGeometry(
        x1 - x0, y1 - y0,
        region.minX + x0 * region.cellWidth, region.minX + x1 * region.cellWidth,
        region.minY + y0 * region.cellHeight, region.minY + y1 * region.cellHeight,
        region.epsg, region.t0, region.t1), x0, y0)
    }
  }

  def splitTiles(region: TileGeometry, maxCells: Long = 1000000L): Seq[TileGeometry] =
    splitTilesWithOffsets(region, maxCells).map(_._1)

  /** One merged Raster per target tile. Tiles with no intersecting item are
    * still emitted, nodata-filled (padding semantics J5). */
  def mergeToTiles(items: Dataset[Raster], region: TileGeometry, mode: MergeMode,
                   kernel: Resample.Kernel = Resample.Nearest,
                   maxCells: Long = 1000000L): Dataset[Raster] = {
    val spark = items.sparkSession
    import spark.implicits._

    val gridB = spark.sparkContext.broadcast(new TileGrid(region, maxCells))
    // apron: 2 source cells (bicubic support) expressed in world units of the
    // item's own resolution, applied on the tile bbox intersection test.
    // Items in a different CRS are prefiltered by their envelope transformed
    // into the REGION frame (conservative boundary-sampled bbox,
    // Crs.transformEnvelope) — the per-cell coverage test in the merge
    // refines exactly, so over-assignment only costs a little extra work.
    val assigned = items.flatMap { r =>
      val (eMinX, eMaxX, eMinY, eMaxY) =
        if (r.epsg == region.epsg) (r.minX, r.maxX, r.minY, r.maxY)
        else Crs.transformEnvelope(r.epsg, region.epsg, r.minX, r.maxX, r.minY, r.maxY)
      // item resolution re-expressed in region units via the envelope span
      val ax = 2 * (eMaxX - eMinX) / r.width; val ay = 2 * (eMaxY - eMinY) / r.height
      gridB.value.hits(eMinX, eMaxX, eMinY, eMaxY, ax, ay).map { case (i, _) => (i, r) }
    }
    mergeAssigned(assigned, gridB, mode, kernel)
  }

  /** A region's regular tx-major tile grid (tile i = tx * ny + ty), with
    * each tile's global cell offset. */
  private final class TileGrid(val region: TileGeometry, maxCells: Long) extends Serializable {
    val tiles: Array[(TileGeometry, Int, Int)] = splitTilesWithOffsets(region, maxCells).toArray
    private val side = math.max(1, math.sqrt(maxCells.toDouble).toInt)
    private val nx = (region.width + side - 1) / side
    private val ny = (region.height + side - 1) / side

    /** The tiles whose bbox grown by the apron (ax, ay) meets the envelope.
      * The window of candidate tile indices is O(1) arithmetic per item
      * (never a scan of all tiles — at 10^6 tiles an O(items * T)
      * assignment would dominate the job). */
    def hits(eMinX: Double, eMaxX: Double, eMinY: Double, eMaxY: Double,
             ax: Double, ay: Double): IndexedSeq[(Int, TileGeometry)] = {
      val cw = region.cellWidth; val ch = region.cellHeight
      @inline def clamp(v: Int, hi: Int) = math.max(0, math.min(v, hi))
      val txLo = clamp(math.floor((eMinX - ax - region.minX) / cw).toInt / side, nx - 1)
      val txHi = clamp(math.floor((eMaxX + ax - region.minX) / cw).toInt / side, nx - 1)
      val tyLo = clamp(math.floor((eMinY - ay - region.minY) / ch).toInt / side, ny - 1)
      val tyHi = clamp(math.floor((eMaxY + ay - region.minY) / ch).toInt / side, ny - 1)
      for {
        tx <- txLo to txHi
        ty <- tyLo to tyHi
        i = tx * ny + ty
        t = tiles(i)._1
        if eMinX < t.maxX + ax && eMaxX > t.minX - ax &&
           eMinY < t.maxY + ay && eMaxY > t.minY - ay
      } yield (i, t)
    }
  }

  /** Merge the (tile index, fragment) pairs into one Raster per tile of the
    * grid; every tile is emitted, nodata-filled where no fragment lands. */
  private def mergeAssigned(assigned: Dataset[(Int, Raster)], gridB: Broadcast[TileGrid],
                            mode: MergeMode, kernel: Resample.Kernel): Dataset[Raster] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val emptyTiles = spark.createDataset(gridB.value.tiles.indices)
      .map(i => (i, null.asInstanceOf[Raster]))
    assigned.union(emptyTiles)
      .groupByKey(_._1)
      .mapGroups { (tileIdx, rows) =>
        mergeFragments(tileIdx, rows.map(_._2), gridB.value.tiles(tileIdx),
                       gridB.value.region, mode, kernel)
      }
  }

  /** Merge one tile's fragment list (shared by the decoded-raster and the
    * COG-window paths — a window fragment is just a smaller Raster whose
    * cell grid is aligned with its item's). */
  private def mergeFragments(tileIdx: Int, rows: Iterator[Raster],
                             tileAt: (TileGeometry, Int, Int), region: TileGeometry,
                             mode: MergeMode, kernel: Resample.Kernel): Raster = {
    val (t, x0, y0) = tileAt
    val frags = rows.filter(_ != null).toArray
    // determinism: sort by (ts, item_id) so SUBSTITUTE's later items win
    // independently of shuffle arrival order
    val sorted = frags.sortBy(r => (r.ts, r.item_id))
    val acc = Array.fill(t.width * t.height)(Double.NaN)
    sorted.foreach { r =>
      // region-anchored sampling: split size never changes values.
      // Mixed-CRS items sample through the world->source CRS hook (the
      // reference's resample-with-CRS, RasterEncoder.java:376-389)
      val hook = if (r.epsg == region.epsg) null
                 else Crs.transform(region.epsg, r.epsg)
      val vals = Resample.toGridAnchored(r, region, x0, y0, t.width, t.height,
                                         kernel, 0, hook)
      var i = 0
      while (i < acc.length) {
        val v = vals(i)
        if (!java.lang.Double.isNaN(v)) {
          mode match {
            case Substitute => acc(i) = v
            case Sum        => acc(i) = if (java.lang.Double.isNaN(acc(i))) v else acc(i) + v
          }
        }
        i += 1
      }
    }
    Raster(s"tile-$tileIdx", 0L, t.width, t.height,
           t.minX, t.maxX, t.minY, t.maxY, t.epsg, Seq(acc))
  }

  /**
   * COG-native mosaic: files stay WHERE THEY ARE; only window fragments
   * move. Each file is header-probed (GeoTiff.probe — no pixel decode) for
   * tile assignment, then for every intersecting tile the executor decodes
   * ONLY the strips/tiles under that tile's bbox + kernel apron, at the
   * overview level matching the region's cell size (GeoTiff.parseWindow).
   * The shuffle therefore carries O(region cells) of fragment data
   * regardless of source resolution — mosaicking a 100x80-cell region out
   * of 10^5-pixel COGs moves kilobytes per (item, tile) pair, where
   * [[mergeToTiles]] over fully decoded rasters would move the full grids.
   * Merging reuses the exact fragment semantics of [[mergeToTiles]]
   * (CogMosaicSpec proves bit-equality against the full-decode path).
   *
   * @param band            band to mosaic (the reference's BAND_PARAM /
   *                        selectSampleDimension, RasterEncoder.java:107-113)
   * @param targetCellWidth 0 = full resolution; else the overview-selection
   *                        target (normally region.cellWidth)
   */
  def mergeToTilesCog(files: Dataset[CogFile], region: TileGeometry, mode: MergeMode,
                      kernel: Resample.Kernel = Resample.Nearest,
                      maxCells: Long = 1000000L,
                      band: Int = 0,
                      targetCellWidth: Double = 0.0): Dataset[Raster] = {
    val spark = files.sparkSession
    import spark.implicits._

    val gridB = spark.sparkContext.broadcast(new TileGrid(region, maxCells))

    val fragments = files.flatMap { f =>
      val p = GeoTiff.probe(f.bytes, f.item_id)
      val (eMinX, eMaxX, eMinY, eMaxY) =
        if (p.epsg == region.epsg) (p.minX, p.maxX, p.minY, p.maxY)
        else Crs.transformEnvelope(p.epsg, region.epsg,
                                   p.minX, p.maxX, p.minY, p.maxY)
      // kernel apron = 2 cells of the COARSEST subfile this targetCellWidth
      // can select (overview selection picks the coarsest subfile whose
      // cells still resolve the target, so the chosen decimation factor is
      // bounded by targetCellWidth / full-res cell width). Sizing by the
      // full-res grid alone left Bicubic/Bilinear taps outside the decoded
      // fragment at overview levels — Resample clamps at the fragment
      // border, silently diverging from the full-decode path near internal
      // tile seams (CogMosaicSpec now pins overview x kernel bit-equality).
      val scw = (eMaxX - eMinX) / p.width; val sch = (eMaxY - eMinY) / p.height
      val fBound = if (targetCellWidth > 0) math.max(1.0, targetCellWidth / scw) else 1.0
      val ax = 2 * scw * fBound; val ay = 2 * sch * fBound
      for {
        (i, t) <- gridB.value.hits(eMinX, eMaxX, eMinY, eMaxY, ax, ay)
        // tile window in the SOURCE frame (+ apron); conservative envelope
        // transform for mixed CRS, exact when frames match
        (wx0, wx1, wy0, wy1) =
          if (p.epsg == region.epsg)
            (t.minX - ax, t.maxX + ax, t.minY - ay, t.maxY + ay)
          else Crs.transformEnvelope(region.epsg, p.epsg,
                                     t.minX - ax, t.maxX + ax, t.minY - ay, t.maxY + ay)
        // None = the (conservative, apron-padded) window missed — cheap and
        // silent; a CORRUPT file still throws and fails the task loudly
        frag <- GeoTiff.parseWindowOpt(f.bytes, f.item_id, f.ts, wx0, wx1, wy0, wy1,
                                       Some(Seq(band)), targetCellWidth)
      } yield (i, frag)
    }
    mergeAssigned(fragments, gridB, mode, kernel)
  }
}
