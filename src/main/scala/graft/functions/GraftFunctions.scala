package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{ColumnShim, GraftKernel}

/**
 * Public Column/SQL facade over graft's native kernels (the table in
 * org.apache.spark.sql.graft.GraftKernel — see expressions.scala).
 */
object GraftFunctions {

  private def call(name: String, cols: Column*): Column =
    ColumnShim.column(GraftKernel(name, cols.map(ColumnShim.expression)))

  def cell_id(lon: Column, lat: Column, level: Column): Column =
    call("graft_cell_id", lon, lat, level)

  def winding_contains(ring: Column, x: Column, y: Column): Column =
    call("graft_contains", ring, x, y)

  def jaccard_sorted(a: Column, b: Column): Column = call("graft_jaccard", a, b)

  def shingle_min_md5(toks: Column, k: Column): Column = call("graft_shingle_min_md5", toks, k)

  def hyperplane_bucket(v: Column, table: Column, planes: Column): Column =
    call("graft_hyperplane_bucket", v, table, planes)

  def minhash_band_sig(tset: Column, band: Column): Column =
    call("graft_minhash_band_sig", tset, band)

  def simhash16(toks: Column): Column = call("graft_simhash16", toks)

  def dot_d(a: Column, b: Column): Column = call("graft_dot", a, b)

  def count_eq(toks: Column, needle: Column): Column = call("graft_count_eq", toks, needle)

  def count_in(toks: Column, set: Column): Column = call("graft_count_in", toks, set)

  def langid_score(toks: Column, prefix: Column): Column = call("graft_langid_score", toks, prefix)

  def max_char_len(toks: Column): Column = call("graft_max_char_len", toks)

  def repetition_stats(toks: Column): Column = call("graft_repetition", toks)

  def minhash_sigs4(tset: Column): Column = call("graft_minhash_sigs4", tset)

  /** Cell cover of a WKB geometry (generator shape: explode the result).
    * JTS parse + cover runs once per geometry row, not per joined row. */
  val cover_wkb: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (wkb: Array[Byte], level: Int) =>
      val geom = new org.locationtech.jts.io.WKBReader().read(wkb)
      graft.index.CellIndex.coverGeometry(geom, level)
    }

  /** The SQL function surface as (identifier, info, builder) triples, one
    * per [[GraftKernel.table]] row — shared by per-session [[register]] and
    * the spark-submit-time [[graft.GraftExtensions]] injection. */
  private[graft] val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
                                        Seq[Expression] => Expression)] =
    GraftKernel.table.toSeq.map { case (name, sig) =>
      val arity = sig.inputs.length
      val build = (exprs: Seq[Expression]) => {
        require(exprs.length == arity, s"$name requires $arity arguments, got ${exprs.length}")
        GraftKernel(name, exprs)
      }
      (FunctionIdentifier(name), new ExpressionInfo(classOf[GraftKernel].getName, name), build)
    }

  /** Register SQL names so `spark.sql("SELECT graft_cell_id(...)")` works. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
  }
}
