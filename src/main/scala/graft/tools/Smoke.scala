package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/**
 * End-to-end smoke: drives the library through its public surface
 * (Column API + SQL registration) on a real local SparkSession, over the
 * driver-provided testdata. Prints results and the physical plan so the
 * codegen path is observable. Run: sbt "runMain graft.tools.Smoke <sf dir>"
 */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error("usage: Smoke <sf dir>"))
    val spark = graft.LocalSpark(4)
    import spark.implicits._
    GraftFunctions.register(spark)

    // points derived deterministically from the docs table (public surface:
    // read parquet -> derive lon/lat -> graft_cell_id via Column API)
    val docs = graft.api.Tables.read(spark, dir, "documents")
    val pts = docs.select(
      $"doc_id",
      (lit(-75.2281407807369) + ($"doc_id" * 7919 % 100000) / 100000.0 * lit(2.557067871094)).as("lon"),
      (lit(3.5641500380320963) + ($"doc_id" * 104729 % 100000) / 100000.0 * lit(1.738793183895)).as("lat"))
    val cells = pts.withColumn("cell", GraftFunctions.cell_id($"lon", $"lat", lit(12)))
    println("== Column API ==")
    cells.show(5, truncate = false)
    println("== physical plan (expect WholeStageCodegen around graft_cell_id) ==")
    cells.explain("formatted")

    println("== SQL API ==")
    cells.createOrReplaceTempView("pts")
    spark.sql(
      """SELECT cell, count(*) n FROM (
        |  SELECT graft_cell_id(lon, lat, 12) AS cell FROM pts) GROUP BY cell ORDER BY n DESC LIMIT 5
        |""".stripMargin).show(false)

    println("== graft_contains (triangle around first point) ==")
    spark.sql(
      """SELECT doc_id, graft_contains(array(-76.0D, 3.0D, -72.0D, 3.0D, -74.0D, 6.0D), lon, lat) AS inside
        |FROM pts LIMIT 5""".stripMargin).show(false)

    val n = cells.filter($"cell".isNotNull).count()
    println(s"rows_with_cell=$n")

    println("== flagship entry (interleaved docs -> PIP) ==")
    val e = graft.SparkEntry.entry(spark)
    println(s"entry_rows=${e.count()}")
    e.show(3, truncate = false)

    println("== typed facade (GraftOps) ==")
    locally {
      import graft.api.GraftOps._
      val zones = graft.api.Geo.zones(spark, dir)
        .select($"zone_id", $"ring")
      val joined = graft.extract.InterleavedDocs
        .typedDocs(spark, dir)
        .geoSpans
        .withCell(level = 12)
        .drop("cell")
        .pipJoin(zones, level = 12)
      println(s"facade_pip_rows=${joined.count()}")
    }

    println("== probe: interleaved docs on edge-case texts ==")
    val edgeDir = "/tmp/graft_edge"
    Seq((0L, "", "xx", "s", 0L), (1L, "one", "xx", "s", 3L),
        (2L, "a  b", "xx", "s", 4L), (3L, "t1 t2 t3 t4 t5 t6", "xx", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$edgeDir/documents.parquet")
    graft.extract.InterleavedDocs.flatSpans(spark, edgeDir).show(20, truncate = false)

    println("== probes: null propagation, level clamp, degenerate ring ==")
    spark.sql(
      """SELECT graft_cell_id(CAST(NULL AS DOUBLE), 1.0D, 12)  AS null_lon,
        |       graft_cell_id(1.0D, 1.0D, 99)                  AS clamped_level,
        |       graft_cell_id(1.0D, 1.0D, 29)                  AS level29,
        |       graft_contains(array(0.0D, 0.0D, 1.0D, 1.0D), 0.5D, 0.5D) AS two_pt_ring,
        |       graft_contains(CAST(array() AS ARRAY<DOUBLE>), 0.5D, 0.5D) AS empty_ring
        |""".stripMargin).show(false)
    spark.stop()
  }
}
