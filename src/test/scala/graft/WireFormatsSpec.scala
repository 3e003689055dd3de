package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{StacIngest, WcsCatalog, WcsXml}

/** Wire-format parsers: STAC JSON (from_json schemas + link/asset columns)
  * and WCS XML (DOM) against canned fixtures mirroring real service output. */
class WireFormatsSpec extends AnyFunSuite with SparkSuite {

  private val itemJson =
    """{"type":"Feature","stac_version":"1.0.0","id":"S2A_T18NXL_20210101",
      |"geometry":{"type":"Polygon","coordinates":[[[-75.0,4.0],[-74.0,4.0],[-74.0,5.0],[-75.0,5.0],[-75.0,4.0]]]},
      |"bbox":[-75.0,4.0,-74.0,5.0],
      |"properties":{"datetime":"2021-01-01T10:30:00.123456Z","proj:epsg":32618},
      |"assets":{
      |  "B04":{"href":"s3://eodata-waw3-1/S2/B04.tif","type":"image/tiff; application=geotiff","eo:bands":[{"name":"red"}]},
      |  "thumbnail":{"href":"https://x/y/thumb.png","type":"image/png"},
      |  "meta":{"href":"https://x/y/meta.xml"}},
      |"links":[{"rel":"self","href":"https://cat/items/i.json"},
      |         {"rel":"collection","href":"./collection.json"},
      |         {"rel":"item","href":"../items/other.json"}]}""".stripMargin.replace("\n", "")

  private val bboxOnlyJson =
    """{"type":"Feature","id":"bbox-only","bbox":[1.0,2.0,3.0,4.0],
      |"properties":{"start_datetime":"2021-06-01T00:00:00Z","end_datetime":"2021-06-30T00:00:00Z"},
      |"assets":{},"links":[]}""".stripMargin.replace("\n", "")

  test("STAC item parse: geometry ring, micro datetime, epsg, assets, links") {
    import spark.implicits._
    val items = StacIngest.parseItems(Seq(itemJson).toDF("doc"), "doc").collect()
    assert(items.length == 1)
    val r = items.head
    assert(r.getAs[String]("item_id") == "S2A_T18NXL_20210101")
    assert(r.getAs[scala.collection.Seq[Double]]("ring") ==
      Seq(-75.0, 4.0, -74.0, 4.0, -74.0, 5.0, -75.0, 5.0, -75.0, 4.0))
    assert(r.getAs[Long]("ts") == 1609497000123L) // 2021-01-01T10:30:00.123
    assert(r.getAs[Long]("t_start") == r.getAs[Long]("ts"))
    assert(r.getAs[Int]("epsg") == 32618)
  }

  test("STAC item parse: bbox fallback ring, start/end datetimes, default epsg") {
    import spark.implicits._
    val r = StacIngest.parseItems(Seq(bboxOnlyJson).toDF("doc"), "doc").collect().head
    assert(r.getAs[scala.collection.Seq[Double]]("ring") == Seq(1.0, 2.0, 3.0, 2.0, 3.0, 4.0, 1.0, 4.0))
    assert(r.getAs[Long]("t_start") == 1622505600000L)
    assert(r.getAs[Long]("t_end") == 1625011200000L)
    assert(r.getAs[Long]("ts") == r.getAs[Long]("t_start")) // datetime absent
    assert(r.getAs[Int]("epsg") == 4326)
  }

  test("STAC item parse: non-Polygon geometry falls back to the bbox ring") {
    import spark.implicits._
    val multiJson =
      """{"type":"Feature","id":"multi",
        |"geometry":{"type":"MultiPolygon","coordinates":[[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]]},
        |"bbox":[0.0,0.0,1.0,1.0],
        |"properties":{"datetime":"2021-01-01T00:00:00Z"},"assets":{},"links":[]}""".stripMargin.replace("\n", "")
    val r = StacIngest.parseItems(Seq(multiJson).toDF("doc"), "doc").collect().head
    // 4-deep MultiPolygon coords can't parse into the Polygon schema ->
    // the bbox ring must be used, not a null footprint
    assert(r.getAs[scala.collection.Seq[Double]]("ring") ==
      Seq(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0))
  }

  test("STAC asset resolution: band-name fallback, media filter, s3 rewrite") {
    import spark.implicits._
    val df = StacIngest.parseItems(Seq(itemJson).toDF("doc"), "doc")
    val got = df.select(
      StacIngest.assetHref($"assets", "B04").as("by_id"),
      StacIngest.assetHref($"assets", "red").as("by_band"),
      StacIngest.assetHref($"assets", "thumbnail").as("unsupported"),
      StacIngest.assetHref($"assets", "meta").as("by_ext"),
      StacIngest.linkTo($"links", "SELF").as("self"),
      StacIngest.linksTo($"links", "item").as("items")).collect().head
    val rewritten = "https://s3.waw3-1.cloudferro.com/swift/v1/eodata-waw3-1/S2/B04.tif"
    assert(got.getAs[String]("by_id") == rewritten)
    assert(got.getAs[String]("by_band") == rewritten)
    assert(got.getAs[String]("unsupported") == null) // png is not a supported media type
    assert(got.getAs[String]("by_ext") == "https://x/y/meta.xml") // no type -> extension match
    assert(got.getAs[String]("self") == "https://cat/items/i.json")
    assert(got.getAs[scala.collection.Seq[String]]("items") == Seq("../items/other.json"))
  }

  test("STAC relative item-href resolution (getUrlOfItem)") {
    assert(StacIngest.urlOfItem("https://c/col1/collection.json", "col1", "./items/a.json")
      == "https://c/col1/items/a.json")
    assert(StacIngest.urlOfItem("https://c/col1/collection.json", "col1", "../other/b.json")
      == "https://c/other/b.json")
    assert(StacIngest.urlOfItem("https://c/col1/collection.json", "col1", "https://abs/c.json")
      == "https://abs/c.json")
  }

  test("STAC collection parse") {
    import spark.implicits._
    val colJson =
      """{"type":"Collection","stac_version":"1.0.0","id":"sentinel-2","title":"S2 L2A",
        |"description":"d","license":"CC-BY-4.0",
        |"extent":{"spatial":{"bbox":[[-180.0,-56.0,180.0,83.0]]},
        |          "temporal":{"interval":[["2015-06-27T10:25:31Z",null]]}},
        |"links":[{"rel":"root","href":"https://cat/catalog.json"},
        |         {"rel":"item","href":"./items/i1.json"},
        |         {"rel":"item","href":"./items/i2.json"}]}""".stripMargin.replace("\n", "")
    val r = StacIngest.parseCollections(Seq(colJson).toDF("doc"), "doc")
    val row = r.collect().head
    assert(row.getAs[String]("collection_id") == "sentinel-2")
    assert(row.getAs[String]("license") == "CC-BY-4.0")
    assert(row.getAs[scala.collection.Seq[Double]]("bbox") == Seq(-180.0, -56.0, 180.0, 83.0))
    val links = r.select(StacIngest.linksTo(col("links"), "item").as("i")).collect().head
    assert(links.getAs[scala.collection.Seq[String]]("i") == Seq("./items/i1.json", "./items/i2.json"))
  }

  private val capsV2 =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<wcs:Capabilities xmlns:wcs="http://www.opengis.net/wcs/2.0" xmlns:ows="http://www.opengis.net/ows/2.0" version="2.0.1">
      |  <wcs:Contents>
      |    <wcs:CoverageSummary>
      |      <wcs:CoverageId>dem__srtm90</wcs:CoverageId>
      |      <ows:WGS84BoundingBox>
      |        <ows:LowerCorner>-180 -56</ows:LowerCorner>
      |        <ows:UpperCorner>180 60</ows:UpperCorner>
      |      </ows:WGS84BoundingBox>
      |    </wcs:CoverageSummary>
      |    <wcs:CoverageSummary>
      |      <wcs:CoverageId>lc__esa2020</wcs:CoverageId>
      |      <ows:WGS84BoundingBox>
      |        <ows:LowerCorner>-180 -90</ows:LowerCorner>
      |        <ows:UpperCorner>180 90</ows:UpperCorner>
      |      </ows:WGS84BoundingBox>
      |    </wcs:CoverageSummary>
      |  </wcs:Contents>
      |</wcs:Capabilities>""".stripMargin

  private val capsV1 =
    """<?xml version="1.0"?>
      |<WCS_Capabilities xmlns="http://www.opengis.net/wcs" version="1.0.0">
      |  <ContentMetadata>
      |    <CoverageOfferingBrief><name>ws:dem</name><label>DEM</label></CoverageOfferingBrief>
      |    <CoverageOfferingBrief><name>ws:land</name><label>Land</label></CoverageOfferingBrief>
      |  </ContentMetadata>
      |</WCS_Capabilities>""".stripMargin

  test("WCS capabilities: v1 names and v2 coverage ids + wgs84 envelopes") {
    assert(WcsXml.capabilityIdentifiers(capsV1, 1) == Seq("ws:dem", "ws:land"))
    assert(WcsXml.capabilityIdentifiers(capsV2, 2) == Seq("dem__srtm90", "lc__esa2020"))
    val sums = WcsXml.capabilitySummaries(capsV2)
    assert(sums.head == ("dem__srtm90", (-180.0, 180.0, -56.0, 60.0)))
  }

  private val describeV2 =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<wcs:CoverageDescriptions xmlns:wcs="http://www.opengis.net/wcs/2.0"
      |    xmlns:gml="http://www.opengis.net/gml/3.2" xmlns:swe="http://www.opengis.net/swe/2.0"
      |    xmlns:gmlcov="http://www.opengis.net/gmlcov/1.0">
      |  <wcs:CoverageDescription gml:id="dem__srtm90">
      |    <wcs:CoverageId>dem__srtm90</wcs:CoverageId>
      |    <gml:boundedBy>
      |      <gml:Envelope srsName="urn:ogc:def:crs:EPSG::3857" axisLabels="X Y" srsDimension="2">
      |        <gml:lowerCorner>-8500000 200000</gml:lowerCorner>
      |        <gml:upperCorner>-8000000 700000</gml:upperCorner>
      |      </gml:Envelope>
      |    </gml:boundedBy>
      |    <gml:domainSet>
      |      <gml:RectifiedGrid dimension="2">
      |        <gml:limits>
      |          <gml:GridEnvelope>
      |            <gml:low>0 0</gml:low>
      |            <gml:high>500 250</gml:high>
      |          </gml:GridEnvelope>
      |        </gml:limits>
      |      </gml:RectifiedGrid>
      |    </gml:domainSet>
      |    <gmlcov:rangeType>
      |      <swe:DataRecord>
      |        <swe:field name="elevation">
      |          <swe:Quantity>
      |            <swe:nilValues><swe:NilValues>
      |              <swe:nilValue reason="missing">-32768</swe:nilValue>
      |            </swe:NilValues></swe:nilValues>
      |            <swe:constraint><swe:AllowedValues>
      |              <swe:interval>-9999 -9999</swe:interval>
      |            </swe:AllowedValues></swe:constraint>
      |          </swe:Quantity>
      |        </swe:field>
      |        <swe:field name="slope">
      |          <swe:Quantity>
      |            <swe:constraint><swe:AllowedValues>
      |              <swe:interval>0 90</swe:interval>
      |            </swe:AllowedValues></swe:constraint>
      |          </swe:Quantity>
      |        </swe:field>
      |      </swe:DataRecord>
      |    </gmlcov:rangeType>
      |  </wcs:CoverageDescription>
      |</wcs:CoverageDescriptions>""".stripMargin

  test("WCS DescribeCoverage v2: envelope, epsg, grid shape, band nodata") {
    val l = WcsXml.parseDescribeCoverage(describeV2, 2, 42L)
    assert(l.identifier == "dem__srtm90")
    assert((l.minX, l.maxX, l.minY, l.maxY) == (-8500000.0, -8000000.0, 200000.0, 700000.0))
    assert(l.epsg == 3857)
    assert((l.gridW, l.gridH) == (500, 250))
    // degenerate interval is nodata; the 0..90 real range is NOT; nilValue is
    assert(l.nodata == Seq(-9999.0, -32768.0))
    assert(l.fetchedAtMs == 42L)
  }

  private val describeV1 =
    """<?xml version="1.0"?>
      |<CoverageDescription xmlns="http://www.opengis.net/wcs" xmlns:ows="http://www.opengis.net/ows/1.1" version="1.1.0">
      |  <CoverageOffering>
      |    <Identifier>ws:dem</Identifier>
      |    <Domain>
      |      <BoundingBox crs="urn:ogc:def:crs:EPSG::4326">
      |        <ows:LowerCorner>4.0 -75.0</ows:LowerCorner>
      |        <ows:UpperCorner>5.0 -74.0</ows:UpperCorner>
      |      </BoundingBox>
      |      <BoundingBox crs="EPSG:32618">
      |        <ows:LowerCorner>500000 400000</ows:LowerCorner>
      |        <ows:UpperCorner>610000 520000</ows:UpperCorner>
      |      </BoundingBox>
      |    </Domain>
      |    <Range>
      |      <nullValues><singleValue>-99999</singleValue><singleValue>Infinity</singleValue></nullValues>
      |    </Range>
      |  </CoverageOffering>
      |</CoverageDescription>""".stripMargin

  test("WCS DescribeCoverage v2: urn-4326 envelope is axis-unswapped (lat lon -> lon lat)") {
    val xml =
      """<?xml version="1.0"?>
        |<wcs:CoverageDescriptions xmlns:wcs="http://www.opengis.net/wcs/2.0" xmlns:gml="http://www.opengis.net/gml/3.2">
        |  <wcs:CoverageDescription>
        |    <wcs:CoverageId>ll</wcs:CoverageId>
        |    <gml:boundedBy>
        |      <gml:Envelope srsName="urn:ogc:def:crs:EPSG::4326" axisLabels="Lat Long">
        |        <gml:lowerCorner>4.0 -75.0</gml:lowerCorner>
        |        <gml:upperCorner>5.0 -74.0</gml:upperCorner>
        |      </gml:Envelope>
        |    </gml:boundedBy>
        |  </wcs:CoverageDescription>
        |</wcs:CoverageDescriptions>""".stripMargin
    val l = WcsXml.parseDescribeCoverage(xml, 2, 0L)
    assert((l.minX, l.maxX, l.minY, l.maxY) == (-75.0, -74.0, 4.0, 5.0))
    assert(l.epsg == 4326)
  }

  test("WCS DescribeCoverage v1: urn-4326 bbox skipped, EPSG override, Infinity nodata dropped") {
    val l = WcsXml.parseDescribeCoverage(describeV1, 1, 7L)
    assert(l.identifier == "ws:dem")
    // the axis-swapped urn:ogc:def:crs:EPSG::4326 box is ignored; the UTM one wins
    assert((l.minX, l.maxX, l.minY, l.maxY) == (500000.0, 610000.0, 400000.0, 520000.0))
    assert(l.epsg == 32618)
    assert((l.gridW, l.gridH) == (0, 0)) // v1 has no grid shape (reference parity)
    assert(l.nodata == Seq(-99999.0))
  }

  test("capabilities XML seeds the layers catalog end to end") {
    val layers = WcsXml.layersFromCapabilities(capsV2, fetchedAtMs = 5L)
    val table = WcsCatalog.layersTable(spark, layers)
    assert(table.count() == 2)
    assert(WcsCatalog.containsIdentifier(table, "dem__srtm90"))
    assert(!WcsCatalog.containsIdentifier(table, "nope"))
    assert(WcsCatalog.requestIdentifier("dem__srtm90") == "dem:srtm90")
    assert(layers.forall(l => !WcsCatalog.isExpired(l, 5L + 60000)))
    assert(layers.forall(l => WcsCatalog.isExpired(l, 5L + WcsCatalog.LayerExpiryMs + 1)))
  }

  test("WCS EO TimeDomain: instants + period widen start/end; absent -> null") {
    val withDomain =
      """<wcs:CoverageDescriptions xmlns:wcs="http://www.opengis.net/wcs/2.0"
        |    xmlns:gml="http://www.opengis.net/gml/3.2"
        |    xmlns:gmlcov="http://www.opengis.net/gmlcov/1.0"
        |    xmlns:wcseo="http://www.opengis.net/wcs/wcseo/1.0">
        |  <wcs:CoverageDescription><wcs:CoverageId>t</wcs:CoverageId>
        |  <gmlcov:metadata><gmlcov:Extension><wcseo:TimeDomain>
        |    <gml:TimeInstant><gml:timePosition>2020-01-03T00:00:00Z</gml:timePosition></gml:TimeInstant>
        |    <gml:TimeInstant><gml:timePosition>2020-01-01T00:00:00Z</gml:timePosition></gml:TimeInstant>
        |    <gml:TimeInstant><gml:timePosition>2020-01-03T00:00:00Z</gml:timePosition></gml:TimeInstant>
        |    <gml:TimePeriod><gml:beginPosition>2019-12-25T00:00:00Z</gml:beginPosition>
        |      <gml:endPosition>2020-02-01T00:00:00Z</gml:endPosition></gml:TimePeriod>
        |  </wcseo:TimeDomain></gmlcov:Extension></gmlcov:metadata>
        |  </wcs:CoverageDescription></wcs:CoverageDescriptions>""".stripMargin
    val day = 86400000L
    val t0 = 1577836800000L // 2020-01-01
    val (start, end, ts) = WcsXml.parseTimeDomain(withDomain)
    assert(ts == Seq(t0, t0 + 2 * day)) // sorted, deduplicated instants
    assert(start.contains(t0 - 7 * day)) // period begin widens start
    assert(end.contains(t0 + 31 * day)) // period end widens end
    val bare = "<wcs:CoverageDescriptions xmlns:wcs=\"http://www.opengis.net/wcs/2.0\">" +
      "<wcs:CoverageDescription><wcs:CoverageId>t</wcs:CoverageId>" +
      "</wcs:CoverageDescription></wcs:CoverageDescriptions>"
    assert(WcsXml.parseTimeDomain(bare) == (None, None, Nil))
  }

  test("WCS XML parser refuses doctypes (XXE hardening)") {
    val evil = """<?xml version="1.0"?><!DOCTYPE x [<!ENTITY e SYSTEM "file:///etc/passwd">]><x>&e;</x>"""
    intercept[Exception](WcsXml.capabilityIdentifiers(evil, 2))
  }
}
