package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, lit}

import graft.operators.SpatialJoin

/** The zone cell cover exactly as SpatialJoin builds it (its cover UDF is
  * package-private to graft), so the benchmark can count the cell-join
  * candidates that the refine step then filters. */
object ZoneCells {
  def apply(zones: DataFrame, level: Int): DataFrame =
    zones.withColumn("cell", explode(SpatialJoin.coverRingUdf(col("ring"), lit(level))))
}
