package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.AnnQueries

/** The literal-codebook IVF assignment (typedLit — right up to K in the
  * thousands) and the broadcast-codebook assignment (executor broadcast +
  * UDF — the K ~ sqrt(N) scale path) must produce BIT-IDENTICAL probe
  * assignments: same dot accumulation order, same (-dot, c) tiebreak. */
class AnnEquivalenceSpec extends AnyFunSuite with SparkSuite {

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("broadcast-codebook assignment == literal-codebook assignment") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    for (nprobe <- Seq(1, 4)) {
      val viaLit = AnnQueries.assignProbes(
          emb, typedLit(AnnQueries.LadderCents), nprobe, dot, "v")
        .select($"vec_id", $"rk", $"c").as[(Long, Int, Int)].collect().toSet
      val viaBc = AnnQueries.assignProbesBroadcast(
          emb, AnnQueries.LadderCents, nprobe, "v")
        .select($"vec_id", $"rk", $"c").as[(Long, Int, Int)].collect().toSet
      assert(viaBc === viaLit, s"nprobe=$nprobe")
      assert(viaLit.size == emb.count() * nprobe)
    }
  }

  test("trained path: broadcast-assigned Lloyd == literal-assigned Lloyd, bit-identical") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("q", transform($"v", x => round(x * AnnQueries.IvfQuant, 0).cast("bigint")))
    // the q103 K=1024 integer init: the training assignment through the
    // broadcast UDF (double accumulation of exact integers) must reproduce
    // the literal integer-dot path's codebook EXACTLY — same homes, same
    // member sums, same floor-means
    val viaLit = AnnQueries.trainCodebook(emb, AnnQueries.BigIntInit, broadcastAssign = false)
    val viaBc = AnnQueries.trainCodebook(emb, AnnQueries.BigIntInit, broadcastAssign = true)
    assert(viaBc === viaLit)
    // and the SEARCH assignment over the trained codebook agrees across
    // paths too (literal long codebook + integer dot vs broadcast doubles)
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val asgLit = AnnQueries.assignProbes(
        emb, typedLit(viaLit), nprobe = 4, idot, "q")
      .select($"vec_id", $"rk", $"c").as[(Long, Int, Int)].collect().toSet
    val asgBc = AnnQueries.assignProbesBroadcast(
        emb.withColumn("qd", $"q".cast("array<double>")),
        viaBc.map(_.map(_.toDouble)), nprobe = 4, "qd")
      .select($"vec_id", $"rk", $"c").as[(Long, Int, Int)].collect().toSet
    assert(asgBc === asgLit)
  }

  test("broadcast path plan stays shuffle-free below the explode") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val plan = AnnQueries.assignProbesBroadcast(emb, AnnQueries.LadderCents, 2, "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
  }
}
