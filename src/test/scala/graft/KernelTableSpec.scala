package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.graft.{AnnKernels, GeoKernels, GraftKernel, TextKernels}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.index.CellIndex

/** Walks [[GraftKernel.table]]: every kernel resolves by its SQL name, its
  * Column wrapper and its SQL call agree with a direct call of the kernel
  * body, whole-stage codegen and interpreted evaluation agree, a null
  * argument gives null, and a wrong arity or argument type fails analysis
  * instead of being cast. A table row without a sample below fails the
  * first test. */
class KernelTableSpec extends AnyFunSuite with SparkSuite {

  /** Sample argument rows, the public Column wrapper, and the kernel body
    * called directly on the Catalyst form of the arguments. */
  private case class Sample(rows: Seq[Seq[Any]], column: Seq[Column] => Column,
                            direct: Seq[Any] => Any)

  private def arr(v: Any) = v.asInstanceOf[ArrayData]
  private def int(v: Any) = v.asInstanceOf[Int]
  private def dbl(v: Any) = v.asInstanceOf[Double]
  private def str(v: Any) = v.asInstanceOf[UTF8String]

  private val toks = Seq("the", "quick", "brown", "fox", "the", "lazy", "dog")

  private val samples: Map[String, Sample] = Map(
    "graft_cell_id" -> Sample(
      Seq(Seq[Any](-75.0, 4.0, 12), Seq[Any](0.0, 0.0, 0), Seq[Any](179.9, -89.9, 20)),
      c => GraftFunctions.cell_id(c(0), c(1), c(2)),
      a => CellIndex.cellId(dbl(a(0)), dbl(a(1)), int(a(2)))),
    "graft_contains" -> Sample(
      Seq(Seq(Seq(0.0, 0.0, 4.0, 0.0, 2.0, 3.0), 2.0, 1.0),
          Seq(Seq(0.0, 0.0, 4.0, 0.0, 2.0, 3.0), 5.0, 1.0)),
      c => GraftFunctions.winding_contains(c(0), c(1), c(2)),
      a => GeoKernels.windingContains(arr(a(0)), dbl(a(1)), dbl(a(2)))),
    "graft_jaccard" -> Sample(
      Seq(Seq(Seq("a", "b", "c"), Seq("b", "c", "d")), Seq(Seq("a"), Seq("z"))),
      c => GraftFunctions.jaccard_sorted(c(0), c(1)),
      a => GeoKernels.jaccardSorted(arr(a(0)), arr(a(1)))),
    "graft_shingle_min_md5" -> Sample(
      Seq(Seq(toks, 3), Seq(Seq("a", "b"), 5)),
      c => GraftFunctions.shingle_min_md5(c(0), c(1)),
      a => TextKernels.shingleMinMd5Hex(arr(a(0)), int(a(1)))),
    "graft_hyperplane_bucket" -> Sample(
      Seq(Seq(Seq(0.5, -1.25, 3.0, 0.0), 0, 16), Seq(Seq(-2.0, 1.0), 2, 8)),
      c => GraftFunctions.hyperplane_bucket(c(0), c(1), c(2)),
      a => AnnKernels.hyperplaneBucket(arr(a(0)), int(a(1)), int(a(2)))),
    "graft_minhash_band_sig" -> Sample(
      Seq(Seq(toks.distinct, 0), Seq(Seq("x"), 7)),
      c => GraftFunctions.minhash_band_sig(c(0), c(1)),
      a => TextKernels.minhashBandSig(arr(a(0)), int(a(1)))),
    "graft_simhash16" -> Sample(
      Seq(Seq(toks), Seq(Seq("a", "a", "b"))),
      c => GraftFunctions.simhash16(c(0)),
      a => TextKernels.simhash16(arr(a(0)))),
    "graft_dot" -> Sample(
      Seq(Seq(Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 0.25)), Seq(Seq(0.1, 0.2), Seq(0.3, 0.4))),
      c => GraftFunctions.dot_d(c(0), c(1)),
      a => AnnKernels.dotD(arr(a(0)), arr(a(1)))),
    "graft_count_eq" -> Sample(
      Seq(Seq(toks, "the"), Seq(toks, "cat")),
      c => GraftFunctions.count_eq(c(0), c(1)),
      a => TextKernels.countEq(arr(a(0)), str(a(1)))),
    "graft_count_in" -> Sample(
      Seq(Seq(toks, Seq("the", "a", "fox")), Seq(toks, Seq("cat"))),
      c => GraftFunctions.count_in(c(0), c(1)),
      a => TextKernels.countIn(arr(a(0)), arr(a(1)))),
    "graft_langid_score" -> Sample(
      Seq(Seq(toks, "de|"), Seq(toks, "en|")),
      c => GraftFunctions.langid_score(c(0), c(1)),
      a => TextKernels.langidScore(arr(a(0)), str(a(1)))),
    "graft_max_char_len" -> Sample(
      Seq(Seq(toks), Seq(Seq("äöü", "ab"))),
      c => GraftFunctions.max_char_len(c(0)),
      a => TextKernels.maxCharLen(arr(a(0)))),
    "graft_repetition" -> Sample(
      Seq(Seq(toks), Seq(Seq("a", "b", "a", "b", "a"))),
      c => GraftFunctions.repetition_stats(c(0)),
      a => TextKernels.repetitionStats(arr(a(0)))),
    "graft_minhash_sigs4" -> Sample(
      Seq(Seq(toks.distinct), Seq(Seq("x"))),
      c => GraftFunctions.minhash_sigs4(c(0)),
      a => TextKernels.minhashSigs4(arr(a(0)))))

  test("every kernel in the table has a sample") {
    assert(samples.keySet == GraftKernel.table.keySet)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  private def argNames(n: Int): Seq[String] = (0 until n).map(i => s"a$i")

  /** The samples, each with every array argument emptied, and one row per
    * argument with that argument null. */
  private def inputRows(name: String): Seq[Seq[Any]] = {
    val rows = samples(name).rows
    val first = rows.head
    val empty = first.map { case _: Seq[_] => Seq.empty; case v => v }
    val nulls = first.indices.map(i => first.updated(i, null))
    rows ++ (empty +: nulls)
  }

  private def inputDf(name: String): DataFrame = {
    val inputs = GraftKernel.table(name).inputs
    val schema = StructType(argNames(inputs.length).zip(inputs).map {
      case (n, t) => StructField(n, t, nullable = true)
    })
    // an RDD source, not a local relation: a Project over a LocalRelation
    // is folded on the driver and would never reach whole-stage codegen
    spark.createDataFrame(
      spark.sparkContext.parallelize(inputRows(name).map(Row.fromSeq), 1), schema)
  }

  /** The kernel's value per input row, through the Column wrapper and
    * through SQL, under the given confs. */
  private def run(name: String, confs: Map[String, String], codegen: Boolean): Seq[(Any, Any)] = {
    val n = GraftKernel.table(name).inputs.length
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = inputDf(name)
      df.createOrReplaceTempView("kernel_in")
      val viaCol = df.select(samples(name).column(argNames(n).map(col)))
      val viaSql = spark.sql(s"SELECT $name(${argNames(n).mkString(", ")}) FROM kernel_in")
      Seq(viaCol, viaSql).foreach { q =>
        val wholeStage = q.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        assert(wholeStage.nonEmpty == codegen, q.queryExecution.executedPlan)
      }
      viaCol.collect().map(_.get(0)).toSeq.zip(viaSql.collect().map(_.get(0)).toSeq)
    } finally confs.keys.foreach(spark.conf.unset)
  }

  private val codegenConfs = Map(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  private val interpretedConfs = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  GraftKernel.table.keys.toSeq.sorted.foreach { name =>
    test(s"$name: Column == SQL == direct call, codegen and interpreted; null in, null out") {
      val dataType = GraftKernel.table(name).result
      val expected = inputRows(name).map { args =>
        if (args.contains(null)) null
        else CatalystTypeConverters.convertToScala(
          samples(name).direct(args.map(CatalystTypeConverters.convertToCatalyst)), dataType)
      }
      val codegen = run(name, codegenConfs, codegen = true)
      val interpreted = run(name, interpretedConfs, codegen = false)
      Seq("codegen" -> codegen, "interpreted" -> interpreted).foreach { case (mode, got) =>
        assert(got.map(_._1) == expected, s"$mode, Column API")
        assert(got.map(_._2) == expected, s"$mode, SQL")
      }
      if (name == "graft_minhash_band_sig") assert(expected(samples(name).rows.length) == null)
    }

    test(s"$name: arity, strict input types and the unaliased column name") {
      val df = inputDf(name)
      val args = df.columns.toSeq
      val unaliased = Seq(args.mkString(s"$name(", ", ", ")"))
      assert(df.select(samples(name).column(args.map(col))).columns.toSeq == unaliased)
      df.createOrReplaceTempView("kernel_in")
      assert(spark.sql(s"SELECT $name(${args.mkString(", ")}) FROM kernel_in").columns.toSeq ==
               unaliased)

      val tooMany = (args :+ args.head).mkString(", ")
      val err = intercept[Exception](spark.sql(s"SELECT $name($tooMany) FROM kernel_in"))
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null &&
        m.contains(s"$name requires ${args.length} arguments, got ${args.length + 1}")), err)

      // a first argument of a type that an implicit cast would accept
      val castable: Column = GraftKernel.table(name).inputs.head match {
        case DoubleType => lit(1)
        case _: ArrayType => array(lit(1))
        case t => fail(s"no castable stand-in for $t")
      }
      val wrong = intercept[org.apache.spark.sql.AnalysisException](
        df.select(samples(name).column(castable +: args.tail.map(col))).schema)
      assert(wrong.getMessage.contains("DATATYPE_MISMATCH"), wrong)
    }
  }
}
