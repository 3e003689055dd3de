package graft.api

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/**
 * The input-table catalog: every table the queries read (`<dir>/<table>.parquet`)
 * with its declared schema, and the one way to open it.
 *
 * Declared, not inferred: `spark.read.parquet(p)` infers the schema by
 * reading the footers in a Spark job (80-107 ms and one job per read at
 * sf0.1 on a 4-core local session), while `spark.read.schema(s).parquet(p)`
 * plans straight away (6-11 ms, no job). The schemas are code constants, like DDL — nothing is
 * memoized per session or per JVM. They are the TESTDATA schemas that
 * `perfbench/gen.py` also writes; timestamps are `TIMESTAMP_NTZ` because the
 * files store `TIMESTAMP(isAdjustedToUTC=false)`.
 *
 * Guard: a declared schema makes Spark return nulls for a column the file
 * lacks, so before the frame is built every data file's footer is read on
 * the driver (`SKIP_ROW_GROUPS`: schema only, ~1 ms, no job), converted as
 * Spark's own inference converts it, and compared with the declared schema
 * ignoring nullability. Any difference — a missing, renamed, reordered or
 * retyped column, or a UTC-adjusted timestamp — throws [[SchemaMismatch]].
 *
 * Scan-parallelism guard ([[wide]]): a small single-file input plans as ONE
 * scan task, so every per-row-expensive stage fused onto the scan (from_json,
 * regex extraction, per-token md5, higher-order array folds) runs on one core.
 * `wide` adds one round-robin repartition to the session default parallelism
 * iff the scan plans fewer partitions than that, and is a no-op when the input
 * already splits that wide (the 100-TB case, where an extra exchange of the
 * payload would be pure loss). The scan's partition count comes from the file
 * listing through Spark's own split rule (`FilePartition.maxSplitBytes`,
 * `PartitionedFileUtil.splitFiles`, `FilePartition.getFilePartitions`), so no
 * physical plan is built to ask `df.rdd.getNumPartitions`. Every declared query
 * is reshard-stable (detcheck: bit-identical at 4 vs 32 cores), so the
 * repartition is never a correctness input.
 */
object Tables {

  /** A data file under an input table does not hold the declared schema. */
  final class SchemaMismatch(val table: String, val file: String,
                             val declared: StructType, val found: StructType)
    extends RuntimeException(
      s"input table $table: $file holds ${found.simpleString}, " +
        s"declared ${declared.simpleString}")

  val declared: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  def path(dir: String, table: String): String = s"$dir/$table.parquet"

  /** `table`'s declared schema, once every data file under `dir` holds it. */
  def schema(s: SparkSession, dir: String, table: String): StructType =
    checked(s, table, dataFiles(s, path(dir, table)))

  /** Open `table` under `dir` with its declared schema. */
  def read(s: SparkSession, dir: String, table: String): DataFrame =
    s.read.schema(schema(s, dir, table)).parquet(path(dir, table))

  /** [[read]], round-robin widened to the session default parallelism iff
    * the scan plans fewer partitions (small local inputs); no-op at scale. */
  def wide(s: SparkSession, dir: String, table: String): DataFrame = {
    val files = dataFiles(s, path(dir, table))
    val df = s.read.schema(checked(s, table, files)).parquet(path(dir, table))
    val p = s.sparkContext.defaultParallelism
    if (scanPartitions(s, files) < p) df.repartition(p) else df
  }

  /** The data files a parquet scan of `path` reads: the file itself, or the
    * files under the directory without Spark's hidden (`_`, `.`) and
    * in-flight (`._COPYING_`) names. */
  private[graft] def dataFiles(s: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
    }
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(visible).flatMap(leaves)
      else Seq(st)
    leaves(fs.getFileStatus(p))
  }

  /** The number of partitions Spark's file scan plans over `files`. */
  private[graft] def scanPartitions(s: SparkSession, files: Seq[FileStatus]): Int = {
    val openCost = s.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(s, files.map(_.getLen + openCost).sum)
    val splits = files.flatMap { f =>
      PartitionedFileUtil.splitFiles(FileStatusWithMetadata(f), f.getPath,
        isSplitable = true, maxSplit, InternalRow.empty)
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(s, splits, maxSplit).size
  }

  private def checked(s: SparkSession, table: String, files: Seq[FileStatus]): StructType = {
    val want = declared.getOrElse(table,
      throw new IllegalArgumentException(s"unknown input table $table"))
    val conf = s.sparkContext.hadoopConfiguration
    val converter = new ParquetToSparkSchemaConverter(s.sessionState.conf)
    files.foreach { f =>
      val footer = ParquetFileReader.readFooter(conf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val found = converter.convert(footer.getFileMetaData.getSchema)
      if (loose(found) != loose(want))
        throw new SchemaMismatch(table, f.getPath.toString, want, found)
    }
    want
  }

  /** `t` with every nullability flag set and no field metadata: the
    * comparison ignores both. */
  private def loose(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(f => StructField(f.name, loose(f.dataType))))
    case a: ArrayType => ArrayType(loose(a.elementType), containsNull = true)
    case other => other
  }
}
