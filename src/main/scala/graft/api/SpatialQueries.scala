package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.SpatialJoin

/**
 * Spatial core: tile assignment (grid<->world affine, reference F10 /
 * StacResource.java:340-355), Z-order cell encoding, cell-cover + exact-PIP
 * spatial join (J1, StacEngine.java:154-162), exact kNN via ring expansion,
 * and the temporal range join (J2, StacEngine.java:197-223).
 *
 * Every oracle replays the same IEEE arithmetic in DuckDB — including the
 * full Morton bit-interleave of the cell index, expressed as bigint bit ops.
 */
object SpatialQueries {

  import Geo._

  /** DuckDB SQL for the Z-order spread of the low 29 bits of `x` into even
    * bit positions — mirrors CellIndex.spreadBits step for step. */
  private def spreadSql(x: String): String = {
    val steps = Seq(
      (16, "281470681808895"),      // 0x0000ffff0000ffff
      (8,  "71777214294589695"),    // 0x00ff00ff00ff00ff
      (4,  "1085102592571150095"),  // 0x0f0f0f0f0f0f0f0f
      (2,  "3689348814741910323"),  // 0x3333333333333333
      (1,  "6148914691236517205"))  // 0x5555555555555555
    steps.foldLeft(x) { case (e, (sh, mask)) => s"((($e) | (($e) << $sh)) & $mask)" }
  }

  /** DuckDB SQL computing graft's cell id for (lon,lat) at a level. */
  def cellIdSql(lon: String, lat: String, level: Int): String = {
    val n = 1L << level
    val xs = s"CAST(FLOOR((($lon) + 180.0) / 360.0 * $n.0) AS BIGINT)"
    val ys = s"CAST(FLOOR((($lat) + 90.0) / 180.0 * $n.0) AS BIGINT)"
    val lvlBits = level.toLong << 58
    s"($lvlBits | ${spreadSql(xs)} | (${spreadSql(ys)} << 1))"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // grid tile assignment: point -> (cell, D2_XY index, tile) on the
    // canonical 934x631 Colombia grid
    "q10_tile_assign" -> { (s, dir) =>
      import s.implicits._
      Geo.docPoints(s, dir)
        .withColumn("cx", floor(($"lon" - lit(minX)) / ((lit(maxX) - lit(minX)) / 934.0)).cast("long"))
        .withColumn("cy", floor(($"lat" - lit(minY)) / ((lit(maxY) - lit(minY)) / 631.0)).cast("long"))
        .withColumn("cell_idx", $"cx" * 631 + $"cy")
        .withColumn("tile_id", (floor($"cx" / 64.0) * 100 + floor($"cy" / 64.0)).cast("long"))
        .select($"doc_id", $"cx", $"cy", $"cell_idx", $"tile_id")
        .orderBy($"doc_id")
    },

    // Z-order cell ids through the codegen'd Catalyst expression; the oracle
    // recomputes the full Morton interleave in SQL bit arithmetic
    "q11_cell_morton" -> { (s, dir) =>
      import s.implicits._
      Geo.docPoints(s, dir)
        .withColumn("cell", GraftFunctions.cell_id($"lon", $"lat", lit(15)))
        .select($"doc_id", $"cell")
        .orderBy($"doc_id")
    },

    // point-in-polygon join: cell-cover prefilter + winding-number refine
    "q12_pip_join" -> { (s, dir) =>
      import s.implicits._
      val pts = Geo.docPoints(s, dir)
      val zs = Geo.zones(s, dir).select($"zone_id", $"ring")
      SpatialJoin.pointsInZones(pts, zs, level = 12)
        .select($"doc_id", $"zone_id")
        .orderBy($"doc_id", $"zone_id")
    },

    // the SAME join through the skew-aware auto planner with the broadcast
    // threshold forced to 0 — oracle-checks the SALTED SORT-MERGE branch
    // (hot-cell histogram -> per-cell salt fan-out) that the 10^12-row
    // design point takes when the zone cover no longer fits a broadcast;
    // identical results to q12 prove the two physical strategies agree
    "q58_pip_salted" -> { (s, dir) =>
      import s.implicits._
      val pts = Geo.docPoints(s, dir)
      val zs = Geo.zones(s, dir).select($"zone_id", $"ring")
      SpatialJoin.pointsInZonesAuto(pts, zs, level = 12,
          broadcastMaxCells = 0L, sampleFraction = 1.0, hotCellCap = 50L)
        .select($"doc_id", $"zone_id")
        .orderBy($"doc_id", $"zone_id")
    },

    // exact kNN by iterative cell-ring expansion
    "q13_knn" -> { (s, dir) =>
      import s.implicits._
      val pts = Geo.docPoints(s, dir).select($"doc_id".as("id"), $"lon", $"lat")
      val nation = Tables.read(s, dir, "nation")
      val k = $"n_nationkey".cast("long")
      val qs = nation.filter($"n_nationkey" < 10)
        .select(k.as("qid"), Geo.zoneCxCol(k).as("qx"), Geo.zoneCyCol(k).as("qy"))
      SpatialJoin.knnJoin(pts, qs, k = 5, level = 12)
        .select($"qid", $"rank".as("rnk"), $"id".as("doc_id"), $"dist2")
        .orderBy($"qid", $"rnk")
    },

    // temporal interval join (J2) on day buckets — equi-join scale path, no
    // theta join: intervals explode to covered day buckets, events carry one
    "q14_range_join" -> { (s, dir) =>
      import s.implicits._
      val day = 86400000L
      val nation = Tables.read(s, dir, "nation")
      val k = $"n_nationkey".cast("long")
      val intervals = nation.select(
        k.as("interval_id"),
        (lit(1704067200000L) + k * 43200000L).as("t0"))
        .withColumn("t1", $"t0" + (($"interval_id" % 7) + 1) * day)
      val ibuckets = intervals.withColumn(
        "bucket", explode(sequence(floor($"t0" / day).cast("long"), floor($"t1" / day).cast("long"))))
      val events = Tables.read(s, dir, "events")
        .withColumn("ms", unix_millis($"ts".cast("timestamp")))
        .withColumn("bucket", floor($"ms" / day).cast("long"))
      events.join(broadcast(ibuckets), "bucket")
        .filter($"ms" >= $"t0" && $"ms" <= $"t1")
        .groupBy($"interval_id", $"t0", $"t1")
        .agg(count(lit(1)).as("n_events"),
             sum(round($"value" * 100, 0).cast("bigint")).as("sum_value_cents"))
        .orderBy($"interval_id")
    })

  private def pipSqlCore: String =
    s"""SELECT p.doc_id, z.zone_id
       |FROM pts p, zones z
       |WHERE ((z.bx - z.ax) * (p.lat - z.ay) - (p.lon - z.ax) * (z.by - z.ay)) >= 0
       |  AND ((z.cx2 - z.bx) * (p.lat - z.by) - (p.lon - z.bx) * (z.cy2 - z.by)) >= 0
       |  AND ((z.ax - z.cx2) * (p.lat - z.cy2) - (p.lon - z.cx2) * (z.ay - z.cy2)) >= 0""".stripMargin

  val oracle: Map[String, String] = Map(
    "q10_tile_assign" ->
      s"""WITH ${Geo.pointsSqlCte}
         |SELECT doc_id,
         |       CAST(FLOOR((lon - $MinX) / (($MaxX - $MinX) / 934.0)) AS BIGINT) AS cx,
         |       CAST(FLOOR((lat - $MinY) / (($MaxY - $MinY) / 631.0)) AS BIGINT) AS cy,
         |       CAST(FLOOR((lon - $MinX) / (($MaxX - $MinX) / 934.0)) AS BIGINT) * 631
         |         + CAST(FLOOR((lat - $MinY) / (($MaxY - $MinY) / 631.0)) AS BIGINT) AS cell_idx,
         |       CAST(FLOOR(CAST(FLOOR((lon - $MinX) / (($MaxX - $MinX) / 934.0)) AS BIGINT) / 64.0) * 100
         |         + FLOOR(CAST(FLOOR((lat - $MinY) / (($MaxY - $MinY) / 631.0)) AS BIGINT) / 64.0) AS BIGINT) AS tile_id
         |FROM pts ORDER BY doc_id""".stripMargin,

    "q11_cell_morton" ->
      s"""WITH ${Geo.pointsSqlCte}
         |SELECT doc_id, ${cellIdSql("lon", "lat", 15)} AS cell
         |FROM pts ORDER BY doc_id""".stripMargin,

    "q12_pip_join" ->
      s"""WITH ${Geo.pointsSqlCte},
         |${Geo.zonesSqlCte}
         |$pipSqlCore
         |ORDER BY doc_id, zone_id""".stripMargin,

    // same relation as q12 — the salted physical strategy must not change
    // a single row
    "q58_pip_salted" ->
      s"""WITH ${Geo.pointsSqlCte},
         |${Geo.zonesSqlCte}
         |$pipSqlCore
         |ORDER BY doc_id, zone_id""".stripMargin,

    "q13_knn" ->
      s"""WITH ${Geo.pointsSqlCte},
         |qs AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS qid,
         |         ${Geo.zoneCxSql("CAST(n_nationkey AS BIGINT)")} AS qx,
         |         ${Geo.zoneCySql("CAST(n_nationkey AS BIGINT)")} AS qy
         |  FROM nation WHERE n_nationkey < 10),
         |c AS (
         |  SELECT q.qid, p.doc_id,
         |         (p.lon - q.qx) * (p.lon - q.qx) + (p.lat - q.qy) * (p.lat - q.qy) AS dist2
         |  FROM qs q, pts p),
         |r AS (
         |  SELECT qid, doc_id, dist2,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, doc_id) AS rnk
         |  FROM c)
         |SELECT qid, rnk, doc_id, dist2 FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q14_range_join" ->
      s"""WITH intervals AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS interval_id,
         |         1704067200000 + CAST(n_nationkey AS BIGINT) * 43200000 AS t0,
         |         1704067200000 + CAST(n_nationkey AS BIGINT) * 43200000
         |           + ((CAST(n_nationkey AS BIGINT) % 7) + 1) * 86400000 AS t1
         |  FROM nation)
         |SELECT i.interval_id, i.t0, i.t1, COUNT(*) AS n_events,
         |       CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |FROM events e JOIN intervals i
         |  ON epoch_ms(e.ts) >= i.t0 AND epoch_ms(e.ts) <= i.t1
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)
}
