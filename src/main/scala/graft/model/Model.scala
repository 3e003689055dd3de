package graft.model

/**
 * Core data model of the engine.
 *
 * The reference's fundamental addressing object is a "geometry": a regular
 * 2-D grid (shape WxH) + bbox + projection + a time period
 * (reference: adapters/WCSAdapter.java:378-383, utils/Geotools.java:285-287).
 * Here that becomes [[TileGeometry]], carried as a plain case class (broadcast
 * literal or StructType column) rather than a spec string.
 *
 * The interleaved-document input (BASELINE.json input_hint) is [[Doc]]/[[Span]]:
 * a document is an ordered list of spans; span order is the row-identity
 * invariant, the analog of the reference's deterministic D2_XY fill-curve
 * output order (reference: adapters/raster/RasterEncoder.java:146-185).
 */
final case class Span(
    kind: String,       // "text" | "media" | "geo"
    text: String,
    media_ref: String,  // null for text spans
    offset: Int         // char offset; strictly increasing within a doc
)

final case class Doc(doc_id: String, spans: Seq[Span])

/**
 * A georeferenced regular grid: the unit of contextualization.
 * Cells are linearized in D2_XY order: x-outer / y-inner, i.e.
 * `cellIdx = x * height + y` (reference: RasterEncoder.java:151-185).
 * The reference splits work so a tile never exceeds 1,000,000 cells
 * (WCSAdapter.java:60-61) — that is also our partition-sizing rule.
 */
final case class TileGeometry(
    width: Int, height: Int,
    minX: Double, maxX: Double, minY: Double, maxY: Double,
    epsg: Int,
    t0: Long, t1: Long
) {
  def cellWidth: Double  = (maxX - minX) / width
  def cellHeight: Double = (maxY - minY) / height
  def cells: Long        = width.toLong * height.toLong
  /** World coordinate of a cell center (grid->world affine, reference F10:
    * adapters/stac/StacResource.java:340-355). */
  def cellCenterX(col: Int): Double = minX + (col + 0.5) * cellWidth
  def cellCenterY(row: Int): Double = minY + (row + 0.5) * cellHeight
  /** World -> grid (floor affine). Returns -1 when outside. */
  def colOf(x: Double): Int = {
    val c = math.floor((x - minX) / cellWidth).toInt
    if (x < minX || x >= maxX) -1 else math.min(c, width - 1)
  }
  def rowOf(y: Double): Int = {
    val r = math.floor((y - minY) / cellHeight).toInt
    if (y < minY || y >= maxY) -1 else math.min(r, height - 1)
  }
  /** D2_XY linearization (x-outer, y-inner). */
  def cellIdx(col: Int, row: Int): Long = col.toLong * height + row
  /** Cell offset (col, row) of a tile's origin inside this region: the one
    * tile -> region-cell projection every tile consumer goes through. */
  def tileOffset(tile: Raster): (Int, Int) =
    (math.round((tile.minX - minX) / cellWidth).toInt,
     math.round((tile.minY - minY) / cellHeight).toInt)
}

object TileGeometry {
  /**
   * The reference's own test-fixture geometry ("centralColombia",
   * RasterAdapterTest.java:38-39 / WCSAdapter.java:378-383):
   * 934x631 cells, EPSG:4326, logical-year 2021.
   */
  val CentralColombia: TileGeometry = TileGeometry(
    width = 934, height = 631,
    minX = -75.2281407807369, maxX = -72.67107290964314,
    minY = 3.5641500380320963, maxY = 5.302943221927137,
    epsg = 4326,
    t0 = 1609459200000L, t1 = 1640995200000L)
}

/**
 * A raster fragment: one item's (or one tile's) dense value grid, band-major,
 * values in D2_XY order; NaN = nodata (the reference's in-memory nodata,
 * RasterEncoder.java:162-171). The interchange analog of GridCoverage2D.
 */
final case class Raster(
    item_id: String,
    ts: Long,                         // item timestamp (SUBSTITUTE merge key)
    width: Int, height: Int,
    minX: Double, maxX: Double, minY: Double, maxY: Double,
    epsg: Int,
    bands: Seq[Array[Double]]
) {
  def geom: TileGeometry = TileGeometry(width, height, minX, maxX, minY, maxY, epsg, 0L, 0L)
  def value(band: Int, col: Int, row: Int): Double = bands(band)(col * height + row)
}
