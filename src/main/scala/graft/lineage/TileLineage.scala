package graft.lineage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Resumable per-tile materialization with lineage checkpoints — the
 * "Iceberg metadata table" stand-in (SURVEY.md §7.0: no Iceberg jar in this
 * environment, so parquet + an explicit `_lineage` manifest behind this
 * facade; the API shape stays swappable for a real catalog).
 *
 * Layout of a graft table (MANIFEST COMMITS, the Iceberg shape):
 *   <dir>/data/run-<uuid>/part-*.parquet   append-only data files; tile_id is
 *                                          a DATA column (never re-inferred
 *                                          from a path), each run writes its
 *                                          own directory
 *   <dir>/_lineage/...parquet              append-only commit records
 *                                          (tile_id, file, rows, file_bytes,
 *                                           attempt, completed_at_ms)
 *
 * A data file EXISTS only once a lineage record referencing it is committed:
 * [[readTable]] semi-joins the scan against the manifest's file list, so
 * files from killed runs are invisible (and GC-able) rather than corrupting
 * the table. This replaces the earlier one-directory-per-tile dynamic
 * overwrite, whose job commit renamed O(tiles) directories — at 148 tiles
 * that commit protocol dominated the write (measured ~2x the compute); a
 * manifest commit is one append job + one small manifest file regardless of
 * tile count.
 *
 * Write discipline (north rule: a killed run resumes without recomputing
 * completed tiles):
 *  1. completed = distinct tile_ids in _lineage (the commit log);
 *  2. todo = input tile set anti-joined against completed;
 *  3. one distributed job appends todo into a fresh run-<uuid> directory,
 *     repartitioned by tile_id so a tile lands in exactly one file;
 *  4. lineage records for the files just written are appended LAST — a tile
 *     is "done" only once its record is committed. A kill between 3 and 4
 *     recomputes those tiles into a new run directory (the orphan is never
 *     referenced), never skips and never double-reads.
 *
 * All filesystem access goes through the Hadoop FileSystem API (works on
 * HDFS/S3A, not just file://), and lineage records are produced by a
 * DISTRIBUTED aggregation over the just-written run directory — per-tile row
 * counts and the containing file's size come from a `_metadata` scan, never
 * from a driver-side per-tile stat loop.
 *
 * The reference analog: WCS/export file caches keyed by request
 * (WCSAdapter.java:114-158, RasterEncoder.java:69-80) — replaced here by
 * deterministic recompute + a durable commit log.
 */
object TileLineage {

  val DataDir = "data"
  val LineageDir = "_lineage"

  /** The commit records' schema, as `runResumable` writes them: declared on
    * read-back so opening the log infers nothing. */
  val LineageSchema: StructType = StructType.fromDDL(
    "tile_id STRING, file STRING, rows BIGINT, file_bytes BIGINT, attempt INT, completed_at_ms BIGINT")

  final case class RunStats(tilesTotal: Long, tilesSkipped: Long, tilesWritten: Long, rowsWritten: Long)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Distinct completed tile ids from the lineage log (empty on first run). */
  def completedTiles(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val path = s"$tableDir/$LineageDir"
    if (exists(spark, path))
      spark.read.schema(LineageSchema).parquet(path).select($"tile_id").distinct()
    else
      spark.emptyDataset[String].toDF("tile_id")
  }

  /** The lineage log itself
    * (tile_id, file, rows, file_bytes, attempt, completed_at_ms). */
  def lineage(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.schema(LineageSchema).parquet(s"$tableDir/$LineageDir")

  /** Read the materialized table back: the recursive data scan pruned to the
    * files the manifest has committed — orphans from killed runs are
    * invisible. The file column is projected AT THE SCAN (`_metadata` does
    * not resolve later) and dropped after the prune. */
  def readTable(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val committedFiles = lineage(spark, tableDir).select($"file").distinct()
    spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tableDir/$DataDir")
      .withColumn("__file", col("_metadata.file_path"))
      .join(broadcast(committedFiles), $"__file" === $"file", "left_semi")
      .drop("__file")
  }

  /**
   * Materialize `input` (must carry a `tile_id` column) under `tableDir`,
   * skipping tiles already committed to lineage. Returns run statistics.
   * `failTiles` injects a fault for resume tests: the job throws while
   * writing any of those tiles (simulating a killed spark-submit).
   */
  def runResumable(spark: SparkSession, input: DataFrame, tableDir: String,
                   attempt: Int = 1, failTiles: Set[String] = Set.empty): RunStats = {
    import spark.implicits._

    val done = completedTiles(spark, tableDir)
    // ONE materialization carries the census: each distinct input tile
    // flagged done/todo via a broadcast left join, then a single cached
    // aggregation yields both counts — the previous two checkpoint + two
    // count jobs per run (x2 runs in a resume check) were pure fixed
    // overhead on the same rows (round-6, guide §2.4)
    // LAZY checkpoint: the counts aggregation just below is the
    // materializing action, so census staging + counting is ONE job (x2
    // runs in a resume check); todoTiles then reads the cached blocks
    val flagged = input.select($"tile_id").distinct()
      .join(broadcast(done.withColumn("__done", lit(true))), Seq("tile_id"), "left")
      .localCheckpoint(false)
    val counts = flagged.agg(
      count(lit(1)).as("total"),
      sum(when($"__done".isNull, 1L).otherwise(0L)).as("todo")).head()
    val total = counts.getLong(0)
    val nTodo = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val todoTiles = flagged.filter($"__done".isNull).select($"tile_id")

    if (nTodo > 0) {
      val todo = input.join(broadcast(todoTiles), Seq("tile_id"), "left_semi")
      val poison = udf { t: String =>
        if (failTiles.contains(t)) throw new RuntimeException(s"injected failure at tile $t")
        t
      }
      val toWrite = if (failTiles.isEmpty) todo
                    else todo.withColumn("tile_id", poison($"tile_id"))
      // fresh run directory per attempt: append semantics by construction,
      // and "the files this run wrote" is a directory listing, not a diff.
      // repartition by tile_id: each tile lands in exactly one file (one
      // lineage record per tile), files = non-empty hash partitions, not
      // O(tiles)
      val runDir = s"$tableDir/$DataDir/run-${java.util.UUID.randomUUID()}"
      toWrite.repartition($"tile_id").write.parquet(runDir)
      // job committed: now (and only now) record lineage — per-tile rows and
      // containing file from a distributed scan of the run directory
      // (reading back what the job ACTUALLY wrote, not what it intended to)
      val now = System.currentTimeMillis()
      val records = spark.read.schema(toWrite.schema).parquet(runDir)
        .select($"tile_id",
                col("_metadata.file_path").as("file"),
                col("_metadata.file_size").as("file_bytes"))
        .groupBy($"tile_id", $"file")
        .agg(count(lit(1)).as("rows"), first($"file_bytes").as("file_bytes"))
        .select($"tile_id", $"file", $"rows", $"file_bytes",
                lit(attempt).as("attempt"), lit(now).as("completed_at_ms"))
        // lazy: the manifest append below materializes it; the stats agg
        // rereads the cached blocks instead of re-scanning the run dir
        .localCheckpoint(false)
      records.coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$tableDir/$LineageDir")
      val agg = records.agg(countDistinct($"tile_id"), coalesce(sum($"rows"), lit(0L))).head()
      RunStats(total, total - nTodo, agg.getLong(0), agg.getLong(1))
    } else {
      RunStats(total, total, 0L, 0L)
    }
  }
}
