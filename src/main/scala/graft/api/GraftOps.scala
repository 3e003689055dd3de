package graft.api

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model.Doc
import graft.operators.SpatialJoin

/**
 * Typed/fluent operator facade — the user-facing API boundary
 * (north rule: typed Dataset/DataFrame + Catalyst throughout).
 *
 * {{{
 *   import graft.api.GraftOps._
 *   val docs: Dataset[Doc] = InterleavedDocs.typedDocs(spark, dir)
 *   docs.geoSpans                        // (doc_id, span_idx, lon, lat)
 *       .withCell(level = 12)            // + Z-order cell id
 *       .pipJoin(zones, level = 12)      // cell-prefilter + winding refine
 * }}}
 */
object GraftOps {

  implicit class DocOps(private val docs: Dataset[Doc]) extends AnyVal {
    /** Geometry-bearing spans in array order: (doc_id, span_idx, lon, lat).
      * Decode shared with InterleavedDocs.geoPoints (one affine, one place). */
    def geoSpans: DataFrame = {
      import docs.sparkSession.implicits._
      import graft.extract.InterleavedDocs.{spanLat, spanLon}
      docs.select($"doc_id", posexplode($"spans").as(Seq("span_idx", "s")))
        .filter($"s.kind" === "geo")
        .select(
          $"doc_id", $"span_idx".cast("bigint").as("span_idx"),
          spanLon($"s.text").as("lon"), spanLat($"s.text").as("lat"))
    }
  }

  implicit class PointFrameOps(private val df: DataFrame) extends AnyVal {
    /** Append the Z-order cell id of (lon, lat). */
    def withCell(level: Int): DataFrame =
      df.withColumn("cell", GraftFunctions.cell_id(col("lon"), col("lat"), lit(level)))

    /** Point-in-polygon join against (zone_id, ring) zones. */
    def pipJoin(zones: DataFrame, level: Int): DataFrame =
      SpatialJoin.pointsInZones(df, zones, level)
  }
}
