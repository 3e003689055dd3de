package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native graft_dot must be bit-identical to the
  * aggregate(zip_with(...)) HOF fold it replaced in the ANN norms and
  * cosine refines — same left-to-right accumulation order, same NaN/Inf
  * propagation, same empty-array result. */
class DotProductSpec extends AnyFunSuite with SparkSuite {

  test("graft_dot equals the aggregate(zip_with) fold bitwise") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val n = if (i == 0) 0 else 64
      // mix magnitudes so the fold order matters: equal-magnitude sums are
      // order-insensitive and would not catch an accumulation-order bug
      (Array.fill(n)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3)),
       Array.fill(n)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3)))
    } :+ ((Array(1.0, Double.NaN, 3.0), Array(2.0, 1.0, 1.0))) :+
      ((Array(Double.MaxValue, Double.MaxValue), Array(2.0, 2.0))) // -> Inf
    val df = rows.toDF("a", "b")
    val reference = aggregate(zip_with($"a", $"b", (x, y) => x * y),
                              lit(0.0), (acc, x) => acc + x)
    val native = graft.functions.GraftFunctions.dot_d($"a", $"b")
    df.select(reference.as("ref"), native.as("got")).collect().foreach { r =>
      val ref = r.getDouble(0); val got = r.getDouble(1)
      assert(java.lang.Double.doubleToRawLongBits(ref) ==
             java.lang.Double.doubleToRawLongBits(got), s"ref=$ref got=$got")
    }
  }

  test("graft_dot in generated code equals the fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 50).map { i =>
      val n = if (i == 0) 0 else 64
      (Array.fill(n)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3)),
       Array.fill(n)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3)))
    }
    // an RDD source: a Project over a local relation is folded on the
    // driver by the interpreted path and never reaches generated code
    val df = spark.sparkContext.parallelize(rows, 2).toDF("a", "b")
    val confs = Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
                    "spark.sql.codegen.fallback" -> "false")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = df.select(
        aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (acc, x) => acc + x),
        graft.functions.GraftFunctions.dot_d($"a", $"b"))
      assert(q.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }.nonEmpty)
      q.collect().foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
               java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r)
      }
    } finally confs.keys.foreach(spark.conf.unset)
  }

  test("null input propagates null; SQL registration works") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]]),
                 (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0)))).toDF("a", "b")
    val got = df.select(graft.functions.GraftFunctions.dot_d($"a", $"b")).collect()
    assert(got(0).isNullAt(0))
    assert(got(1).getDouble(0) == 11.0)
    val viaSql = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").collect().head
    assert(viaSql.getDouble(0) == 11.0)
  }
}
