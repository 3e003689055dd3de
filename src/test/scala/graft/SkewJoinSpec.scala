package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SpatialJoin

/** Skew-aware join planning: histogram-driven broadcast-vs-salted-shuffle
  * selection must not change results, and hot cells must get salt fan-out. */
class SkewJoinSpec extends AnyFunSuite with SparkSuite {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
  }

  import graft.api.Geo

  private def skewedPoints = {
    import spark.implicits._
    // 20k points piled on one location (one hot cell) + 5k uniform
    val hot = spark.range(0, 20000)
      .select($"id".as("pid"), lit(-74.0).as("lon") + $"id" * 1e-9, lit(4.3).as("lat") + $"id" * 1e-9)
      .toDF("pid", "lon", "lat")
    val uniform = spark.range(0, 5000)
      .select($"id".as("pid") + 1000000, Geo.lonCol($"id").as("lon"), Geo.latCol($"id").as("lat"))
      .toDF("pid", "lon", "lat")
    hot.unionByName(uniform)
  }

  private def zones = Geo.zones(spark, "/root/testdata/sf0.001")
    .select(col("zone_id"), col("ring"))

  test("planner picks broadcast for small covers, salted shuffle under skew") {
    import spark.implicits._
    val pts = skewedPoints.withColumn("cell",
      graft.functions.GraftFunctions.cell_id($"lon", $"lat", lit(12)))
    val zc = zones.withColumn("cell", explode(typedLit(Seq(1L)))) // placeholder small
    val planSmall = SpatialJoin.planPointsInZones(pts, zc)
    assert(planSmall.strategy === "broadcast")
    val planBig = SpatialJoin.planPointsInZones(
      pts, zc, broadcastMaxCells = 0, sampleFraction = 0.5, hotCellCap = 1000)
    assert(planBig.strategy === "salted-shuffle")
    assert(planBig.hotCells.nonEmpty, "the piled-up cell must be detected hot")
    assert(planBig.hotCells.values.forall(s => s >= 2 && s <= 64))
  }

  test("salted shuffle join returns exactly the broadcast join's rows") {
    import spark.implicits._
    val pts = skewedPoints
    val viaBroadcast = SpatialJoin.pointsInZones(pts, zones, level = 12)
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    val viaSalted = SpatialJoin.pointsInZonesAuto(pts, zones, level = 12,
      broadcastMaxCells = 0, sampleFraction = 0.5, hotCellCap = 1000)
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    assert(viaSalted === viaBroadcast)
    assert(viaBroadcast.nonEmpty)
  }

  test("plan cache: two auto-joins over the same zones run the planner once") {
    import spark.implicits._
    val before = SpatialJoin.plannerRuns.get()
    val r1 = SpatialJoin.pointsInZonesAuto(skewedPoints, zones, level = 12,
      broadcastMaxCells = 7, sampleFraction = 0.5, hotCellCap = 1000)
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    val afterFirst = SpatialJoin.plannerRuns.get()
    assert(afterFirst == before + 1, "first call must run the planner")
    val r2 = SpatialJoin.pointsInZonesAuto(skewedPoints, zones, level = 12,
      broadcastMaxCells = 7, sampleFraction = 0.5, hotCellCap = 1000)
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    assert(SpatialJoin.plannerRuns.get() == afterFirst,
      "second call over the same zones must hit the plan cache (no count, no histogram job)")
    assert(r2 === r1)
    // a different level is a different plan — must miss
    SpatialJoin.pointsInZonesAuto(skewedPoints, zones, level = 11,
      broadcastMaxCells = 7, sampleFraction = 0.5, hotCellCap = 1000).limit(1).count()
    assert(SpatialJoin.plannerRuns.get() == afterFirst + 1, "level change must re-plan")
  }

  test("auto path picks broadcast when covers are small and still matches") {
    import spark.implicits._
    val pts = skewedPoints
    val auto = SpatialJoin.pointsInZonesAuto(pts, zones, level = 12)
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    val base = SpatialJoin.pointsInZones(pts, zones, level = 12)
      .select($"pid", $"zone_id").as[(Long, Long)].collect().sorted.toSeq
    assert(auto === base)
  }
}
