package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Raster, TileGeometry}
import graft.raster.DataKey
import graft.sources.{GeodataIO, StacCatalog, WcsCatalog}
import graft.functions.TransformExpr

class SourcesSpec extends AnyFunSuite with SparkSuite {

  // ---- WCS ----------------------------------------------------------------

  test("WCS GetCoverage URL matches the reference v1.0.0 shape") {
    val g = TileGeometry(934, 631, -75.25, -72.67, 3.56, 5.30, 4326, 0, 0)
    val url = WcsCatalog.buildRetrieveUrl("https://example.org/wcs", "ns__layer", "1.0.0", g)
    assert(url ===
      "https://example.org/wcs?service=WCS&version=1.0.0&request=GetCoverage" +
      "&coverage=ns:layer&bbox=-75.25,3.56,-72.67,5.3&crs=EPSG:4326&responseCRS=EPSG:4326" +
      "&width=934&height=631&format=GeoTIFF")
    val url2 = WcsCatalog.buildRetrieveUrl("u", "l", "1.1.0", g, Some("bilinear"))
    assert(url2.contains("&identifier=l") && url2.contains("&boundingbox=") &&
           url2.endsWith("&interpolation=bilinear"))
    intercept[UnsupportedOperationException](WcsCatalog.buildRetrieveUrl("u", "l", "2.0.1", g))
  }

  test("degenerate-envelope jiggle widens a point request (F2)") {
    val pt = TileGeometry(1, 1, 10.0, 10.0, 20.0, 20.0, 4326, 0, 0)
    val url = WcsCatalog.buildRetrieveUrl("u", "l", "1.0.0", pt)
    val bbox = url.split("bbox=")(1).split("&")(0).split(",").map(_.toDouble)
    val dx = 360.0 / 3900000.0; val dy = 180.0 / 3900000.0
    assert(math.abs(bbox(0) - (10.0 - dx)) < 1e-12)
    assert(math.abs(bbox(2) - (10.0 + dx)) < 1e-12)
    assert(math.abs(bbox(1) - (20.0 - dy)) < 1e-12)
    assert(math.abs(bbox(3) - (20.0 + dy)) < 1e-12)
  }

  test("WCS helpers: namespace, parse, epsg, hash, expiry, nodata union") {
    assert(WcsCatalog.requestIdentifier("a__b__c") === "a:b:c")
    assert(WcsCatalog.doubleArrayFromString(" 1.5  2 -3 ").toSeq === Seq(1.5, 2.0, -3.0))
    assert(WcsCatalog.epsgOf("EPSG:4326") === Some(4326))
    assert(WcsCatalog.epsgOf("urn:ogc:def:crs:EPSG::3857") === Some(3857))
    assert(WcsCatalog.epsgOf("WGS84") === None)
    assert(WcsCatalog.contentHash("abc") === WcsCatalog.contentHash("abc"))
    assert(WcsCatalog.contentHash("abc") !== WcsCatalog.contentHash("abd"))
    val l = WcsCatalog.Layer("x", 0, 1, 0, 1, 4326, 10, 10, Seq(-9999.0), fetchedAtMs = 0L)
    assert(WcsCatalog.isExpired(l, WcsCatalog.LayerExpiryMs + 1))
    assert(!WcsCatalog.isExpired(l, WcsCatalog.LayerExpiryMs - 1))
    assert(WcsCatalog.nodataUnion(Seq(-9999.0), Seq(0.0), Some(-1.0)) === Set(-9999.0, 0.0, -1.0))
  }

  // ---- STAC ---------------------------------------------------------------

  test("STAC media types and href rewrite match the reference") {
    import StacCatalog._
    assert(isSupportedMediaType(Some("image/tiff; application=geotiff"), "x"))
    assert(isSupportedMediaType(Some("IMAGE/VND.STAC.GEOTIFF"), "x"))
    assert(isSupportedMediaType(Some("application/geo+json"), "x"))
    assert(!isSupportedMediaType(Some("text/html"), "x"))
    assert(isSupportedMediaType(None, "thing.TIF"))
    assert(!isSupportedMediaType(None, "thing.png"))
    assert(rewriteHref("s3://waw3-1/bucket/a.tif") ===
      "https://s3.waw3-1.cloudferro.com/swift/v1/waw3-1/bucket/a.tif")
    assert(rewriteHref("s3://waw4-1/b.tif") ===
      "https://s3.waw4-1.cloudferro.com/swift/v1/waw4-1/b.tif")
    assert(rewriteHref("s3://unknown/b.tif") === "s3://unknown/b.tif")
    assert(rewriteHref("https://x/y.tif") === "https://x/y.tif")
  }

  test("STAC item search: bbox overlap + temporal predicate incl. missing t_end") {
    import spark.implicits._
    val items = Seq(
      // item_id, ring(bbox poly), t_start, t_end, ts, epsg
      ("in_both",  Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0), 100L, Some(200L), 150L, 4326),
      ("out_bbox", Seq(9.0, 9.0, 10.0, 9.0, 10.0, 10.0, 9.0, 10.0), 100L, Some(200L), 150L, 4326),
      ("out_time", Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0), 300L, Some(400L), 350L, 4326),
      ("open_end_match", Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0), 50L, None, 50L, 3857),
      ("open_end_late",  Seq(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0), 150L, None, 150L, 4326))
      .toDF("item_id", "ring", "t_start", "t_end", "ts", "epsg")
    val hits = StacCatalog.searchItems(items, (1.0, 3.0, 1.0, 3.0), qStart = 120L, qEnd = 250L)
      .select($"item_id").as[String].collect().toSet
    assert(hits === Set("in_both", "open_end_match"))
    assert(StacCatalog.distinctEpsg(items).toSeq === Seq(3857, 4326))
    // null-timestamp check for SUBSTITUTE ordering
    val withNull = items.withColumn("ts",
      org.apache.spark.sql.functions.when($"item_id" === "in_both",
        org.apache.spark.sql.functions.lit(null)).otherwise($"ts"))
    intercept[IllegalArgumentException](StacCatalog.sortedByTimestamp(withNull).collect())
    assert(StacCatalog.sortedByTimestamp(items).select($"item_id").as[String].head() === "open_end_match")
  }

  test("STAC asset resolution: id, band-name fallback, media filter") {
    val assets = Seq(
      ("a1", "s3://waw3-1/x.tif", Some("image/vnd.stac.geotiff"), Some("B04")),
      ("bad", "x.png", Some("text/html"), Some("B08")),
      ("a2", "y.tif", None, Some("B08")))
    assert(StacCatalog.resolveAsset(assets, "a1").get._2.startsWith("https://s3.waw3-1"))
    assert(StacCatalog.resolveAsset(assets, "B08") === Some(("a2", "y.tif"))) // bad filtered
    assert(StacCatalog.resolveAsset(assets, "nope") === None)
  }

  // ---- IO -----------------------------------------------------------------

  test("graft-raster binary round trip + primary file resolution") {
    val dir = java.nio.file.Files.createTempDirectory("graft_io").toFile
    val r = Raster("r1", 7L, 4, 3, 0, 4, 0, 3, 4326,
      Seq(Array.tabulate(12)(_.toDouble), Array.tabulate(12)(i => if (i == 5) Double.NaN else -i)))
    val f = new java.io.File(dir, "r1.graster")
    GeodataIO.writeRaster(r, f)
    val back = GeodataIO.readRaster(f)
    assert(back.item_id === "r1" && back.width === 4 && back.height === 3 && back.epsg === 4326)
    assert(back.bands.head.toSeq === r.bands.head.toSeq)
    assert(back.bands(1)(5).isNaN)
    // file resolution prefers raster extensions, skips sidecars/unreadable
    val side = new java.io.File(dir, "r1.tfw"); side.createNewFile()
    val missing = new java.io.File(dir, "gone.tif")
    assert(GeodataIO.resolvePrimaryFile(Seq(side, missing, f)) === Some(f))
    assert(GeodataIO.resolvePrimaryFile(Seq(side, missing)) === None)
  }

  test("PNG export: aspect fit, nodata transparency, valid PNG bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_png").toFile
    val vals = Array.tabulate(200 * 100)(i => if (i % 17 == 0) Double.NaN else (i % 50).toDouble)
    val r = Raster("p", 0L, 200, 100, 0, 2, 0, 1, 4326, Seq(vals))
    val f = new java.io.File(dir, "p.png")
    GeodataIO.exportPng(r, f, viewportW = 400, viewportH = 400)
    val img = javax.imageio.ImageIO.read(f)
    assert(img.getWidth === 400 && img.getHeight === 200) // aspect 2:1 fit
    // at least one transparent pixel (nodata) and one opaque
    val pixels = for (x <- 0 until img.getWidth by 7; y <- 0 until img.getHeight by 7)
      yield (img.getRGB(x, y) >>> 24)
    assert(pixels.contains(0) && pixels.exists(_ == 255))
    assert(GeodataIO.viewportSize(800, 800, 934, 631) === ((800, 540)))
    assert(GeodataIO.viewportSize(100, 800, 934, 631) === ((100, 67)))
  }

  test("DataKey: boolean/concept encode + sidecar") {
    import spark.implicits._
    val key = DataKey.fromLabels(Seq("forest", "urban", "water"))
    assert(key.reverseLookup("urban").isDefined)
    val df = Seq(("forest"), ("swamp"), ("water")).toDF("label")
      .withColumn("code", DataKey.encodeConcept(key)($"label"))
      .withColumn("flag", DataKey.encodeBoolean($"label" === "water"))
    val rows = df.collect()
    assert(rows(0).getDouble(1) === key.reverseLookup("forest").get.toDouble)
    assert(rows(1).getDouble(1).isNaN) // unknown concept -> NaN
    assert(rows(2).getDouble(2) === 1.0 && rows(0).getDouble(2) === 0.0)
    val f = java.nio.file.Files.createTempFile("aux", ".csv").toFile
    GeodataIO.writeAuxTable(key, f)
    val lines = scala.io.Source.fromFile(f).getLines().toSeq
    assert(lines.head === "Value,Label" && lines.length === 4)
  }

  // ---- transform expressions ----------------------------------------------

  test("transform expression: parser, scalar and Column agree, NaN guard") {
    import spark.implicits._
    val exprs = Seq("self * 2 + 1", "(self - 3) / 2", "abs(self) ^ 2", "sqrt(self) + self % 3",
                    "-self * 1e-2", "exp(log(self))",
                    // conditionals (Groovy's branching subset)
                    "self > 0 ? self : 0 - self",
                    "self >= 1 && self < 9 ? self * 10 : self + 0.5",
                    "self == 4 || self == 9 ? sqrt(self) : -self",
                    "self != 1 ? (self < 2 ? 1 + self : 2 * self) : 7",
                    "!(self > 3) ? self : self / 3",
                    "self % 2 ? 100 + self : 200 + self", // numeric truthiness
                    "self > 0.6 ? 1 : 0")
    val values = Seq(0.5, 1.0, 4.0, 9.0, 100.0)
    for (e <- exprs) {
      val f = TransformExpr.scalar(e)
      val df = values.toDF("v").withColumn("t", TransformExpr.column(e, $"v"))
      val got = df.select("t").as[Double].collect()
      values.zip(got).foreach { case (v, g) =>
        assert(math.abs(f(v) - g) < 1e-12, s"$e at $v")
      }
    }
    // NaN passes through untransformed (isData guard)
    val df = Seq(Double.NaN, 2.0).toDF("v")
      .withColumn("t", TransformExpr.column("self + 100", $"v"))
    val out = df.select("t").as[Double].collect()
    assert(out(0).isNaN && out(1) === 102.0)
    intercept[IllegalArgumentException](TransformExpr.parse("self +"))
    intercept[NoSuchElementException](TransformExpr.scalar("foo(self)"))
  }
}
