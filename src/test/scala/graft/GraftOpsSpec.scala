package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftOps._
import graft.extract.InterleavedDocs

class GraftOpsSpec extends AnyFunSuite with SparkSuite {

  val dir = "/root/testdata/sf0.001"

  test("typed facade: docs.geoSpans.withCell.pipJoin == q16") {
    import spark.implicits._
    val viaFacade = InterleavedDocs.typedDocs(spark, dir)
      .geoSpans
      .pipJoin(graft.api.Geo.zones(spark, dir).select($"zone_id", $"ring"), level = 12)
      .select($"doc_id", $"span_idx", $"zone_id")
      .as[(String, Long, Long)].collect().sorted.toSeq
    val viaQuery = SparkEntry.queries("q16_docs_pip")(spark, dir)
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(viaFacade === viaQuery && viaFacade.nonEmpty)
  }

  test("geoSpans matches InterleavedDocs.geoPoints bit-for-bit") {
    import spark.implicits._
    val a = InterleavedDocs.typedDocs(spark, dir).geoSpans
      .as[(String, Long, Double, Double)].collect().sorted.toSeq
    val b = InterleavedDocs.geoPoints(spark, dir)
      .as[(String, Long, Double, Double)].collect().sorted.toSeq
    assert(a === b)
  }

  test("shingle_min_md5 equals the HOF pipeline on edge cases and random docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq("", "one", "one two", "one two three", "a b c d e f g",
      "x x x", "zz zz zz zz") ++
      (0 until 50).map(i => (0 to i % 9).map(j => s"w${(i * 7 + j * 3) % 11}").mkString(" "))
    val df = texts.toDF("text").withColumn("toks", split($"text", " "))
    val n = size($"toks")
    val hof = array_min(transform(
      sequence(lit(0), greatest(n - 3, lit(0))),
      i => md5(concat_ws(" ", slice($"toks", i + 1, lit(3))))))
    val rows = df.select(
      hof.as("want"),
      graft.functions.GraftFunctions.shingle_min_md5($"toks", lit(3)).as("got"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r))
  }

  test("cover_wkb covers a WKB polygon like coverGeometry") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val poly = gf.createPolygon(Array(
      new org.locationtech.jts.geom.Coordinate(0, 0),
      new org.locationtech.jts.geom.Coordinate(3, 0),
      new org.locationtech.jts.geom.Coordinate(3, 2),
      new org.locationtech.jts.geom.Coordinate(0, 0)))
    val wkb = new org.locationtech.jts.io.WKBWriter().write(poly)
    val got = Seq(Tuple1(wkb)).toDF("wkb")
      .select(explode(graft.functions.GraftFunctions.cover_wkb($"wkb", lit(10))).as("cell"))
      .as[Long].collect().toSet
    assert(got === graft.index.CellIndex.coverGeometry(poly, 10).toSet && got.nonEmpty)
  }
}
