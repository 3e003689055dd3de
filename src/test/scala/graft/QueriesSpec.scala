package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SpatialJoin

class QueriesSpec extends AnyFunSuite with SparkSuite {

  val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and every oracle key has a query") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle $k has no query")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("kNN ring expansion matches brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val pts = graft.api.Geo.docPoints(spark, dir).select($"doc_id".as("id"), $"lon", $"lat")
    val qs = Seq((0L, -74.1, 4.2), (1L, -75.0, 3.6), (2L, -72.7, 5.3))
      .toDF("qid", "qx", "qy")
    val got = SpatialJoin.knnJoin(pts, qs, k = 7, level = 13)
      .select($"qid", $"rank", $"id").orderBy($"qid", $"rank")
      .as[(Long, Long, Long)].collect().toSeq
    val brute = pts.crossJoin(qs)
      .withColumn("dist2", ($"lon" - $"qx") * ($"lon" - $"qx") + ($"lat" - $"qy") * ($"lat" - $"qy"))
      .withColumn("rank", row_number().over(Window.partitionBy($"qid").orderBy($"dist2", $"id")).cast("bigint"))
      .filter($"rank" <= 7)
      .select($"qid", $"rank", $"id").orderBy($"qid", $"rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === brute)
  }

  test("kNN with k larger than point count returns all points") {
    import spark.implicits._
    val pts = Seq((1L, -74.0, 4.0), (2L, -74.5, 4.5)).toDF("id", "lon", "lat")
    val qs = Seq((0L, -74.1, 4.2)).toDF("qid", "qx", "qy")
    val got = SpatialJoin.knnJoin(pts, qs, k = 5, level = 12)
    assert(got.count() === 2)
  }

  test("pip join refine rejects cell-cover false positives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a thin sliver triangle: its bbox cells cover far more area than itself
    val zones = Seq((1L, Seq(-74.9, 3.6, -72.8, 3.61, -72.8, 3.6)))
      .toDF("zone_id", "ring")
    val pts = graft.api.Geo.docPoints(spark, dir)
    val joined = SpatialJoin.pointsInZones(pts, zones, level = 12)
    // exact check against winding evaluation on the driver
    val ring = Array(-74.9, 3.6, -72.8, 3.61, -72.8, 3.6)
    val expected = pts.select($"doc_id", $"lon", $"lat").collect().count { r =>
      graft.index.CellIndex.windingContains(ring, r.getDouble(1), r.getDouble(2))
    }
    assert(joined.count() === expected)
  }
}
