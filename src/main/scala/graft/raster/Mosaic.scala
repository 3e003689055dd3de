package graft.raster

import scala.reflect.ClassTag

import org.apache.spark.{Dependency, HashPartitioner, OneToOneDependency, Partition, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.model.{Raster, TileGeometry}
import graft.sources.GeoTiff

/** One COG file for [[Mosaic.mergeToTilesCog]] (top-level: Catalyst encoders
  * cannot codegen case classes nested inside objects). */
final case class CogFile(item_id: String, ts: Long, bytes: Array[Byte])

/** One item resampled onto the region cells it covers in one target tile:
  * a (w x h) D2_XY block at cell offset (px, py) inside tile `tile`. */
private[raster] final case class MosaicPatch(tile: Int, ts: Long, item_id: String,
                                             px: Int, py: Int, w: Int, h: Int,
                                             values: Array[Double])

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
 * intersect, and each (tile, item) pair is resampled where the item is
 * read, on the map side, into a patch covering only the item's footprint
 * in that tile. The one shuffle is an RDD shuffle keyed by tile into
 * min(tiles, spark.sql.shuffle.partitions) partitions (tile i in partition
 * i mod P), so every tile's composite gets its own reduce task up to the
 * shuffle width and an action runs as one job; it moves covered-window
 * grids, never whole items or the dense target grid.
 */
object Mosaic {

  sealed trait MergeMode
  case object Sum extends MergeMode
  case object Substitute extends MergeMode

  /** Split a region into column-major tiles of <= maxCells cells each
    * (the reference's minSizeForSplitting rule, WCSAdapter.java:60-61),
    * with each tile's global (x0, y0) cell offset in the region grid. */
  def splitTilesWithOffsets(region: TileGeometry,
                            maxCells: Long = 1000000L): Seq[(TileGeometry, Int, Int)] =
    new TileGrid(region, maxCells).tiles.toSeq

  def splitTiles(region: TileGeometry, maxCells: Long = 1000000L): Seq[TileGeometry] =
    splitTilesWithOffsets(region, maxCells).map(_._1)

  /** Flatten tiles of `region` into (cx, cy, <names...>) rows at region-global
    * cell indices (`TileGeometry.tileOffset`): one nullable double column per
    * name, taken from the tile's leading bands in order, NaN -> NULL. */
  def cellRows(tiles: Dataset[Raster], region: TileGeometry, names: String*): DataFrame = {
    val schema = StructType(
      Seq(StructField("cx", LongType, nullable = false),
          StructField("cy", LongType, nullable = false)) ++
        names.map(StructField(_, DoubleType, nullable = true)))
    val nBands = names.length
    tiles.flatMap { r =>
      val (x0, y0) = region.tileOffset(r)
      for (x <- 0 until r.width; y <- 0 until r.height) yield {
        val i = x * r.height + y
        Row.fromSeq((x0 + x.toLong) +: (y0 + y.toLong) +: r.bands.take(nBands).map { b =>
          if (java.lang.Double.isNaN(b(i))) null else b(i) })
      }
    }(Encoders.row(schema))
  }

  /** One merged Raster per target tile. Tiles with no intersecting item are
    * still emitted, nodata-filled (padding semantics J5). */
  def mergeToTiles(items: Dataset[Raster], region: TileGeometry, mode: MergeMode,
                   kernel: Resample.Kernel = Resample.Nearest,
                   maxCells: Long = 1000000L): Dataset[Raster] = {
    val spark = items.sparkSession
    val gridB = spark.sparkContext.broadcast(new TileGrid(region, maxCells))
    // apron: 2 source cells (bicubic support) expressed in world units of the
    // item's own resolution, applied on the tile bbox intersection test.
    // Items in a different CRS are prefiltered, and their patches bounded, by
    // their envelope transformed into the REGION frame (conservative
    // boundary-sampled bbox, Crs.transformEnvelope) — the per-cell coverage
    // test in the resample refines exactly, so over-assignment only costs a
    // little extra work.
    val patches = lazyRdd(items).flatMap { r =>
      val (eMinX, eMaxX, eMinY, eMaxY) =
        if (r.epsg == region.epsg) (r.minX, r.maxX, r.minY, r.maxY)
        else Crs.transformEnvelope(r.epsg, region.epsg, r.minX, r.maxX, r.minY, r.maxY)
      // item resolution re-expressed in region units via the envelope span
      val ax = 2 * (eMaxX - eMinX) / r.width; val ay = 2 * (eMaxY - eMinY) / r.height
      gridB.value.hits(eMinX, eMaxX, eMinY, eMaxY, ax, ay).flatMap { case (i, _) =>
        gridB.value.patch(i, r.item_id, r.ts, r.bands.head, r.geom, 0, 0,
                          r.width, r.height, eMinX, eMaxX, eMinY, eMaxY, kernel)
      }
    }
    exchange(spark, patches, gridB, mode, 0)(mosaicTile)
  }

  /** The raster layer's one tile layout: a region's regular tx-major grid
    * (tile i = tx * ny + ty) with each tile's global cell offset; lookups
    * are O(1) arithmetic, never a layout scan. */
  private[raster] final class TileGrid(val region: TileGeometry, maxCells: Long)
      extends Serializable {
    private val side = math.max(1, math.sqrt(maxCells.toDouble).toInt)
    private val nx = (region.width + side - 1) / side
    private val ny = (region.height + side - 1) / side
    val tiles: Array[(TileGeometry, Int, Int)] =
      Array.tabulate(nx * ny) { i =>
        val x0 = i / ny * side; val x1 = math.min(region.width, x0 + side)
        val y0 = i % ny * side; val y1 = math.min(region.height, y0 + side)
        (TileGeometry(
          x1 - x0, y1 - y0,
          region.minX + x0 * region.cellWidth, region.minX + x1 * region.cellWidth,
          region.minY + y0 * region.cellHeight, region.minY + y1 * region.cellHeight,
          region.epsg, region.t0, region.t1), x0, y0)
      }

    /** The index of a tile raster that sits on this layout. */
    def indexOf(r: Raster): Int = {
      val (x0, y0) = region.tileOffset(r)
      require(x0 % side == 0 && y0 % side == 0,
        s"tile ${r.item_id} does not sit on the region layout")
      x0 / side * ny + y0 / side
    }

    /** The tile (dx, dy) tiles away from tile idx, if the region has one. */
    def neighbor(idx: Int, dx: Int, dy: Int): Option[Int] = {
      val tx = idx / ny + dx; val ty = idx % ny + dy
      if (tx >= 0 && tx < nx && ty >= 0 && ty < ny) Some(tx * ny + ty) else None
    }

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

    /** Resample one item onto tile i over the region cells of its envelope
      * (eMinX..eMaxY, in the region's CRS) plus one cell of margin; the
      * per-cell coverage test decides exactly, and outside the envelope
      * every cell is nodata. The source is a (vw x vh) window at offset
      * (ox, oy) of the item grid `src` (see Resample.toGridAnchoredWindow).
      * Sampling is region-anchored, so a patch holds exactly the values a
      * whole-tile resample gives on its cells. */
    def patch(i: Int, itemId: String, ts: Long, values: Array[Double], src: TileGeometry,
              ox: Int, oy: Int, vw: Int, vh: Int,
              eMinX: Double, eMaxX: Double, eMinY: Double, eMaxY: Double,
              kernel: Resample.Kernel): Option[MosaicPatch] = {
      val (t, x0, y0) = tiles(i)
      // [lo, hi) region cells of the envelope span, clamped to the tile
      def span(eMin: Double, eMax: Double, origin: Double, cell: Double,
               from: Int, n: Int): (Int, Int) =
        (math.max(from.toDouble, math.floor((eMin - origin) / cell) - 1).toInt,
         math.min((from + n).toDouble, math.floor((eMax - origin) / cell) + 2).toInt)
      val (c0, c1) = span(eMinX, eMaxX, region.minX, region.cellWidth, x0, t.width)
      val (r0, r1) = span(eMinY, eMaxY, region.minY, region.cellHeight, y0, t.height)
      if (c1 <= c0 || r1 <= r0) None
      else {
        // mixed-CRS items sample through the region -> source CRS transform
        // (the reference's resample-with-CRS, RasterEncoder.java:376-389)
        val vals = Resample.toGridAnchoredWindow(values, src, ox, oy, vw, vh, region,
                                                 c0, r0, c1 - c0, r1 - r0, kernel)
        Some(MosaicPatch(i, ts, itemId, c0 - x0, r0 - y0, c1 - c0, r1 - r0, vals))
      }
    }
  }

  /** The one tile exchange: one Raster per tile of the grid, every tile
    * emitted. A tile's patches (offsets in its frame) are pasted in
    * (ts, item_id) order onto a NaN grid of the tile grown by `apron` cells
    * per side, which `finish(tile, geometry, grid)` turns into the output.
    * Patches shuffle keyed by tile into P = min(tiles, shuffle partitions)
    * partitions, tile i to partition i mod P (an Int key's hash is itself),
    * sorted by tile. Every reduce partition of an RDD shuffle runs, empty or
    * not, so partition p emits tiles p, p + P, ... in order, compositing one
    * tile's patches at a time; a tile no patch reaches comes out all NaN.
    * An action on the result runs as one job (map stage + reduce stage),
    * after the jobs of any shuffle inside the input (see [[lazyRdd]]). */
  private[raster] def exchange(spark: SparkSession, patches: RDD[MosaicPatch],
                               gridB: Broadcast[TileGrid], mode: MergeMode, apron: Int)
                              (finish: (Int, TileGeometry, Array[Double]) => Raster)
      : Dataset[Raster] = {
    val nTiles = gridB.value.tiles.length
    val parts = math.min(nTiles, spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt)
    val tiles = patches.map(p => (p.tile, p))
      .repartitionAndSortWithinPartitions(new HashPartitioner(parts))
      .mapPartitionsWithIndex { (part, rows) =>
        val it = rows.buffered
        Iterator.range(part, nTiles, parts).map { i =>
          val tilePatches = Array.newBuilder[MosaicPatch]
          while (it.hasNext && it.head._1 == i) tilePatches += it.next()._2
          val t = gridB.value.tiles(i)._1
          finish(i, t, composite(tilePatches.result(), t, mode, apron))
        }
      }
    spark.createDataset(tiles)(rasterEncoder)
  }

  private lazy val rasterEncoder: Encoder[Raster] = Encoders.product[Raster]

  /** The rows of `ds` as an RDD for [[exchange]]'s patches, planned only
    * when a job first asks for its partitions. `Dataset.rdd` plans at once,
    * and under adaptive execution planning runs the input's own shuffle
    * stages; deferring it keeps building a mosaic or focal Dataset free of
    * Spark jobs whatever its input, as building any Dataset is. */
  private[raster] def lazyRdd[T: ClassTag](ds: Dataset[T]): RDD[T] = new DeferredRDD(ds)

  private final class DeferredRDD[T: ClassTag](@transient ds: Dataset[T])
      extends RDD[T](ds.sparkSession.sparkContext, Nil) {
    @transient private lazy val source = ds.rdd
    override protected def getDependencies: Seq[Dependency[_]] =
      Seq(new OneToOneDependency(source))
    override protected def getPartitions: Array[Partition] = source.partitions
    override def compute(split: Partition, context: TaskContext): Iterator[T] =
      firstParent[T].iterator(split, context)
  }

  /** The mosaic's finish: the composite is the tile. */
  private def mosaicTile(i: Int, t: TileGeometry, acc: Array[Double]): Raster =
    Raster(s"tile-$i", 0L, t.width, t.height, t.minX, t.maxX, t.minY, t.maxY, t.epsg, Seq(acc))

  /** Paste one tile's patches onto a nodata grid grown by `apron`. */
  private def composite(patches: Array[MosaicPatch], t: TileGeometry,
                        mode: MergeMode, apron: Int): Array[Double] = {
    // determinism: sort by (ts, item_id) so SUBSTITUTE's later items win
    // independently of shuffle arrival order
    val sorted = patches.sortBy(p => (p.ts, p.item_id))
    val gh = t.height + 2 * apron
    val acc = new Array[Double]((t.width + 2 * apron) * gh)
    java.util.Arrays.fill(acc, Double.NaN)
    val sum = mode == Sum
    sorted.foreach { p =>
      var x = 0
      while (x < p.w) {
        val dst = (p.px + apron + x) * gh + p.py + apron
        val src = x * p.h
        var y = 0
        while (y < p.h) {
          val v = p.values(src + y)
          if (!java.lang.Double.isNaN(v)) {
            val a = acc(dst + y)
            acc(dst + y) = if (sum && !java.lang.Double.isNaN(a)) a + v else v
          }
          y += 1
        }
        x += 1
      }
    }
    acc
  }

  /**
   * COG-native mosaic: files stay WHERE THEY ARE; only resampled patches
   * move. Each file is header-probed (GeoTiff.probe — no pixel decode) for
   * tile assignment, then for every intersecting tile the executor decodes
   * ONLY the chunks under that tile's bbox + kernel apron, at the overview
   * level matching the region's cell size (GeoTiff.parseWindow; a window
   * that misses the file is skipped, a corrupt file fails the task), and
   * resamples that window into the tile's patch. Decode work is therefore
   * O(window) regardless of source resolution — mosaicking a 100x80-cell
   * region out of 10^5-pixel COGs inflates kilobytes per (item, tile) pair,
   * where [[mergeToTiles]] needs the full grids decoded. parseWindow also
   * reports the window's integer pixel offset in its subfile, so the window
   * is sampled in that subfile's full grid and the result equals
   * [[mergeToTiles]] over the fully decoded subfile bit for bit, for every
   * kernel (CogMosaicSpec).
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
    val gridB = spark.sparkContext.broadcast(new TileGrid(region, maxCells))

    val patches = lazyRdd(files).flatMap { f =>
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
        win <- GeoTiff.parseWindow(f.bytes, f.item_id, f.ts, wx0, wx1, wy0, wy1,
                                   Some(Seq(band)), targetCellWidth)
        // sample in the chosen subfile's full grid (the IFD0 envelope over
        // its dimensions), exactly as the full decode of that subfile does
        grid = TileGeometry(win.gridW, win.gridH, p.minX, p.maxX, p.minY, p.maxY,
                            p.epsg, 0L, 0L)
        patch <- gridB.value.patch(i, f.item_id, f.ts, win.raster.bands.head, grid,
                                   win.ox, win.oy, win.raster.width, win.raster.height,
                                   eMinX, eMaxX, eMinY, eMaxY, kernel)
      } yield patch
    }
    exchange(spark, patches, gridB, mode, 0)(mosaicTile)
  }
}
