package graft.tools

import graft.model.{Raster, TileGeometry}
import graft.raster.{DataKey, Mosaic}
import graft.sources.GeodataIO

/** End-to-end raster IO demo: synthesize items -> distributed mosaic ->
  * export graft-raster binary + PNG + categorical sidecar, then read back.
  * Run: sbt "runMain graft.tools.RasterIoDemo /tmp/graft_raster_demo" */
object RasterIoDemo {
  def main(args: Array[String]): Unit = {
    val outDir = new java.io.File(if (args.nonEmpty) args(0) else "/tmp/graft_raster_demo")
    outDir.mkdirs()
    val spark = graft.LocalSpark(8)
    import spark.implicits._

    val items = spark.createDataset((0 until 25).map { k =>
      val w = 60; val h = 40
      Raster(f"item-$k%03d", k.toLong, w, h,
             k % 5 * 20.0, k % 5 * 20.0 + 60, k / 5 * 16.0, k / 5 * 16.0 + 40, 4326,
             Seq(Array.tabulate(w * h)(i => k * 10.0 + (i % 97) / 10.0)))
    })
    val region = TileGeometry(140, 104, 0, 140, 0, 104, 4326, 0, 0)
    val merged = Mosaic.mergeToTiles(items, region, Mosaic.Substitute).collect()
    println(s"tiles=${merged.length} cells=${merged.map(_.bands.head.length).sum}")

    val full = merged.head // single tile at this size
    val g = new java.io.File(outDir, "mosaic.graster")
    GeodataIO.writeRaster(full, g)
    val back = GeodataIO.readRaster(g)
    val t = new java.io.File(outDir, "mosaic.tif")
    GeodataIO.writeRaster(full, t)
    val tback = GeodataIO.readRaster(t)
    val tifOk = tback.width == full.width && tback.height == full.height &&
      tback.epsg == full.epsg &&
      tback.bands.head.zip(full.bands.head).forall { case (a, b) =>
        a == b || (a.isNaN && b.isNaN) }
    println(s"geotiff_roundtrip_ok=$tifOk tif_bytes=${t.length}")
    println(s"roundtrip_ok=${back.bands.head.sameElements(full.bands.head)} bytes=${g.length()}")

    val png = new java.io.File(outDir, "mosaic.png")
    GeodataIO.exportPng(full, png, 700, 700)
    println(s"png_bytes=${png.length()} dims=${javax.imageio.ImageIO.read(png).getWidth}x${javax.imageio.ImageIO.read(png).getHeight}")

    // coordinate-checker mask (P5): blank the left half of the mosaic
    val maskedVals = graft.raster.TileEncoder.encode(full,
      graft.raster.TileEncoder.EncodeParams(cellMask = Some((x, _) => x >= full.width / 2)))
    val masked = full.copy(item_id = "masked", bands = Seq(maskedVals))
    GeodataIO.exportPng(masked, new java.io.File(outDir, "masked.png"), 700, 700)
    println(s"masked_nodata=${maskedVals.count(_.isNaN)} of ${maskedVals.length}")

    // geomorphology: fractal terrain + halo-exchange slope, rendered
    val tregion = TileGeometry(400, 300, 0, 40, 0, 30, 4326, 0, 0)
    val terrain = graft.raster.Focal.terrainTiles(spark, tregion, maxCells = 20000)
    val slope = graft.raster.Focal.slope(terrain, tregion, maxCells = 20000)
    def assemble(rs: Array[Raster], name: String): Unit = {
      val full = Array.fill(400 * 300)(Double.NaN)
      rs.foreach { r =>
        val (x0, y0) = tregion.tileOffset(r)
        for (x <- 0 until r.width; y <- 0 until r.height)
          full((x0 + x) * 300 + (y0 + y)) = r.bands.head(x * r.height + y)
      }
      GeodataIO.exportPng(Raster(name, 0, 400, 300, 0, 40, 0, 30, 4326, Seq(full)),
        new java.io.File(outDir, s"$name.png"), 600, 600)
    }
    assemble(terrain.collect(), "terrain")
    assemble(slope.collect(), "slope")
    println(s"terrain_png=${new java.io.File(outDir, "terrain.png").length()} slope_png=${new java.io.File(outDir, "slope.png").length()}")

    GeodataIO.writeAuxTable(DataKey.fromLabels(Seq("water", "urban", "forest")),
      new java.io.File(outDir, "mosaic.aux.csv"))
    println("aux=" + scala.io.Source.fromFile(new java.io.File(outDir, "mosaic.aux.csv")).getLines().mkString(";"))
    spark.stop()
  }
}
