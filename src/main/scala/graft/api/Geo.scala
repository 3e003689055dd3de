package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Shared deterministic derivations used by BOTH the Spark queries and the
 * DuckDB oracle SQL. Every constant is spelled as the same decimal literal on
 * both sides, and every formula uses the same operation order, so IEEE-754
 * evaluation produces bit-identical doubles in Spark and DuckDB
 * (FIXTURES.md §4: spatial operators get synthesized lon/lat derived
 * deterministically from integer keys so the oracle can replicate them).
 *
 * The bbox/grid is the reference's own test geometry "centralColombia":
 * 934x631 cells, EPSG:4326 (reference: RasterAdapterTest.java:38-39,
 * WCSAdapter.java:378-383).
 */
object Geo {
  // canonical bbox literals (identical text in Scala and SQL). The E0 suffix
  // matters: DuckDB types bare decimal literals as DECIMAL and would combine
  // them with exact decimal arithmetic (MaxX - MinX differs from the double
  // result in the last ulp); E-notation forces DOUBLE on both sides.
  val MinX = "-75.2281407807369E0"
  val MaxX = "-72.67107290964314E0"
  val MinY = "3.5641500380320963E0"
  val MaxY = "5.302943221927137E0"
  val GridW = 934
  val GridH = 631

  def minX: Double = MinX.toDouble
  def maxX: Double = MaxX.toDouble
  def minY: Double = MinY.toDouble
  def maxY: Double = MaxY.toDouble

  // ---- point derivation from doc_id ------------------------------------
  // lon = MinX + ((doc_id*7919) % 100000)/100000.0 * (MaxX - MinX)
  // lat = MinY + ((doc_id*104729) % 100000)/100000.0 * (MaxY - MinY)

  def lonCol(docId: Column): Column =
    lit(minX) + (docId * 7919 % 100000).cast("double") / 100000.0 * (lit(maxX) - lit(minX))
  def latCol(docId: Column): Column =
    lit(minY) + (docId * 104729 % 100000).cast("double") / 100000.0 * (lit(maxY) - lit(minY))

  def lonSql(id: String): String =
    s"$MinX + CAST(($id * 7919) % 100000 AS DOUBLE) / 100000.0 * ($MaxX - $MinX)"
  def latSql(id: String): String =
    s"$MinY + CAST(($id * 104729) % 100000 AS DOUBLE) / 100000.0 * ($MaxY - $MinY)"

  // ---- GeoJSON fixture builders (shared by q56/q57/q75/q78/q84/q86) ----
  // double->string->double round-trips exactly (Java shortest-repr), so
  // parsed ring coordinates carry the same bits the arithmetic produced —
  // the property every oracle replay of these zones relies on.

  /** Closed rect ring as GeoJSON [[x,y],...] text, CCW from (ax, ay). */
  def rectRingJson(ax: Column, ay: Column, bx: Column, by: Column): Column = {
    def d(c: Column) = c.cast("string")
    concat(lit("[["), d(ax), lit(","), d(ay), lit("],["), d(bx), lit(","), d(ay),
           lit("],["), d(bx), lit(","), d(by), lit("],["), d(ax), lit(","), d(by),
           lit("],["), d(ax), lit(","), d(ay), lit("]]"))
  }

  /** Nation-keyed zone origins (k, x0, y0): a 5-wide grid of 0.4 x 0.3
    * steps from the bbox's min corner (the q56/q57/q75/q86 zone layout). */
  private[api] def nationZoneOrigins(spark: SparkSession, dir: String): DataFrame = {
    val k = col("k")
    Tables.read(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("k"))
      .withColumn("x0", lit(minX) + (k % 5).cast("double") * 0.4)
      .withColumn("y0", lit(minY) + floor(k / 5.0).cast("double") * 0.3)
  }

  /** Event points: (event_id, lon, lat), spread by the document-point
    * recurrences ([[lonCol]]/[[latCol]]). */
  private[api] def eventPoints(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir, "events")
      .select(col("event_id"), lonCol(col("event_id")).as("lon"),
              latCol(col("event_id")).as("lat"))

  private def joined(parts: Seq[Column]): Column =
    parts.reduceLeft((a, b) => concat(a, lit(","), b))

  /** Feature with a Polygon geometry (rings beyond the first are holes)
    * and a single numeric "zone" property. */
  def polygonFeatureJson(zone: Column, rings: Seq[Column]): Column =
    concat(lit("{\"type\":\"Feature\",\"properties\":{\"zone\":"), zone.cast("string"),
           lit("},\"geometry\":{\"type\":\"Polygon\",\"coordinates\":["),
           joined(rings), lit("]}}"))

  /** Feature with a MultiPolygon geometry (each ring = one single-ring part). */
  def multiPolygonFeatureJson(zone: Column, parts: Seq[Column]): Column =
    concat(lit("{\"type\":\"Feature\",\"properties\":{\"zone\":"), zone.cast("string"),
           lit("},\"geometry\":{\"type\":\"MultiPolygon\",\"coordinates\":["),
           joined(parts.map(p => concat(lit("["), p, lit("]")))), lit("]}}"))

  /** Document points: (doc_id, lon, lat). */
  def docPoints(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.read(spark, dir, "documents")
    docs.select(col("doc_id"), lonCol(col("doc_id")).as("lon"), latCol(col("doc_id")).as("lat"))
  }

  // ---- zone derivation from n_nationkey ---------------------------------
  // Each nation gets a CCW triangle centered at a deterministic position in
  // the bbox: A=(cx-w, cy-h) B=(cx+w, cy-h) C=(cx, cy+h).
  //   cx = MinX + ((key*13+3) % 97)/97.0  * (MaxX-MinX)
  //   cy = MinY + ((key*29+7) % 89)/89.0  * (MaxY-MinY)
  //   w  = 0.08 + (key % 5) * 0.05 ; h = 0.06 + (key % 7) * 0.04

  def zoneCxCol(key: Column): Column =
    lit(minX) + (key * 13 + 3).cast("long") % 97 / lit(97.0) * (lit(maxX) - lit(minX))
  def zoneCyCol(key: Column): Column =
    lit(minY) + (key * 29 + 7).cast("long") % 89 / lit(89.0) * (lit(maxY) - lit(minY))
  def zoneWCol(key: Column): Column = lit(0.08) + (key % 5).cast("double") * 0.05
  def zoneHCol(key: Column): Column = lit(0.06) + (key % 7).cast("double") * 0.04

  def zoneCxSql(k: String): String =
    s"$MinX + CAST(($k * 13 + 3) AS BIGINT) % 97 / 97.0 * ($MaxX - $MinX)"
  def zoneCySql(k: String): String =
    s"$MinY + CAST(($k * 29 + 7) AS BIGINT) % 89 / 89.0 * ($MaxY - $MinY)"
  def zoneWSql(k: String): String = s"0.08 + CAST(($k % 5) AS DOUBLE) * 0.05"
  def zoneHSql(k: String): String = s"0.06 + CAST(($k % 7) AS DOUBLE) * 0.04"

  /** Zones: (zone_id, ax, ay, bx, by, cx2, cy2, ring) — CCW triangles. */
  def zones(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.read(spark, dir, "nation")
    val k = col("n_nationkey").cast("long")
    val cx = zoneCxCol(k); val cy = zoneCyCol(k)
    val w = zoneWCol(k); val h = zoneHCol(k)
    nation.select(
      col("n_nationkey").cast("long").as("zone_id"),
      (cx - w).as("ax"), (cy - h).as("ay"),
      (cx + w).as("bx"), (cy - h).as("by"),
      cx.as("cx2"), (cy + h).as("cy2"))
      .withColumn("ring", array(col("ax"), col("ay"), col("bx"), col("by"), col("cx2"), col("cy2")))
  }

  /** DuckDB CTE equivalent of [[zones]]. */
  def zonesSqlCte: String = {
    val k = "CAST(n_nationkey AS BIGINT)"
    s"""zones AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS zone_id,
       |         (${zoneCxSql(k)}) - (${zoneWSql(k)}) AS ax,
       |         (${zoneCySql(k)}) - (${zoneHSql(k)}) AS ay,
       |         (${zoneCxSql(k)}) + (${zoneWSql(k)}) AS bx,
       |         (${zoneCySql(k)}) - (${zoneHSql(k)}) AS by,
       |         (${zoneCxSql(k)}) AS cx2,
       |         (${zoneCySql(k)}) + (${zoneHSql(k)}) AS cy2
       |  FROM nation)""".stripMargin
  }

  def pointsSqlCte: String =
    s"""pts AS (
       |  SELECT doc_id, ${lonSql("doc_id")} AS lon, ${latSql("doc_id")} AS lat
       |  FROM documents)""".stripMargin
}
