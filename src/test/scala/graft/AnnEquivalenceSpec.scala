package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.AnnQueries

/** The IVF assignment (a broadcast codebook and a bounded top-k heap in a
  * UDF) must produce exactly the probes of a plain Column reference: the
  * nprobe smallest (-dot, c) structs of `array_sort(transform(codebook,
  * ...))`, with the dot as the left-to-right `aggregate(zip_with(...))`
  * fold. */
class AnnEquivalenceSpec extends AnyFunSuite with SparkSuite {

  private def dot(a: Column, b: Column, zero: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), zero, (acc, x) => acc + x)

  /** (vec_id, rk, c) of the reference assignment of `vecCol` against the
    * literal codebook `cents`. */
  private def reference(emb: DataFrame, cents: Column, zero: Column, nprobe: Int,
                        vecCol: String): Set[(Long, Int, Int)] = {
    import spark.implicits._
    val probes = slice(array_sort(transform(cents, (w, c) =>
      struct((-dot(col(vecCol), w, zero)).as("negd"), c.cast("int").as("c")))), 1, nprobe)
    emb.select($"vec_id", posexplode(probes))
      .select($"vec_id", ($"pos" + 1).as("rk"), $"col.c".as("c"))
      .as[(Long, Int, Int)].collect().toSet
  }

  private def assigned(emb: DataFrame, cents: Seq[Seq[Double]], nprobe: Int,
                       vecCol: String): Set[(Long, Int, Int)] = {
    import spark.implicits._
    AnnQueries.assignProbes(emb, cents, nprobe, vecCol)
      .select($"vec_id", $"rk", $"c").as[(Long, Int, Int)].collect().toSet
  }

  private def embeddings: DataFrame = {
    import spark.implicits._
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
  }

  test("ladder-codebook assignment == the array_sort reference") {
    val emb = embeddings
    for (nprobe <- Seq(1, 4)) {
      val want = reference(emb, typedLit(AnnQueries.LadderCents), lit(0.0), nprobe, "v")
      assert(assigned(emb, AnnQueries.LadderCents, nprobe, "v") === want, s"nprobe=$nprobe")
      assert(want.size == emb.count() * nprobe)
    }
  }

  test("trained codebook: Lloyd step and search assignment == integer reference") {
    import spark.implicits._
    val emb = embeddings
      .withColumn("q", transform($"v", x => round(x * AnnQueries.IvfQuant, 0).cast("bigint")))
      .withColumn("qd", $"q".cast("array<double>"))
    val init = AnnQueries.BigIntInit
    // the Lloyd step replayed in long arithmetic: homes from the reference
    // over the integer codebook, each centroid the floor-mean of its members
    val homes = reference(emb, typedLit(init), lit(0L), 1, "q").map { case (id, _, c) => id -> c }.toMap
    val members = emb.select($"vec_id", $"q").as[(Long, Array[Long])].collect()
      .groupBy { case (id, _) => homes(id) }
    val want = init.indices.map { c =>
      members.get(c).fold(init(c)) { ms =>
        (0 until 64).map(d => Math.floorDiv(ms.map(_._2(d)).sum, ms.length.toLong))
      }
    }
    val trained = AnnQueries.trainCodebook(emb, init)
    assert(trained === want)
    // the search pass: integer dots accumulated as doubles stay below 2^53
    assert(assigned(emb, trained.map(_.map(_.toDouble)), 4, "qd") ===
      reference(emb, typedLit(trained), lit(0L), 4, "q"))
  }

  test("edge cases: nprobe > K, duplicate centroids, NaN components") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 40L).map(id => id -> Array.fill(8)(rnd.nextInt(7) - 3.0)) ++ Seq(
      40L -> Array.fill(8)(0.0),                         // every dot ties at 0
      41L -> (Array.fill(7)(1.0) :+ Double.NaN),         // every dot is NaN
      42L -> (Double.NaN +: Array.fill(7)(-2.0)))
    val emb = spark.sparkContext.parallelize(vecs, 3).toDF("vec_id", "v")
    val base = (0 until 5).map(c => (0 until 8).map(d => ((c * 5 + d * 3) % 7 - 3).toDouble))
    // row 0 has a NaN component, so every dot with it is NaN and ranks last
    // although its c is lowest; rows 2 and 6, and rows 4 and 7, are the same
    // centroid: the lower c wins
    val cents = ((Double.NaN +: base(2).tail) +: base) :+ base(1) :+ base(3)
    val k = cents.length
    for (nprobe <- Seq(1, 3, k, k + 5)) {
      val got = assigned(emb, cents, nprobe, "v")
      assert(got === reference(emb, typedLit(cents), lit(0.0), nprobe, "v"), s"nprobe=$nprobe")
      assert(got.size == vecs.size * math.min(nprobe, k), s"nprobe=$nprobe")
    }
    val homes = assigned(emb, cents, 1, "v").map { case (id, _, c) => id -> c }.toMap
    assert(homes(40L) == 1 && homes(41L) == 0 && homes(42L) == 0)
    assert(homes.forall { case (id, c) => c != 6 && c != 7 && (c != 0 || id >= 41L) })
  }

  test("broadcast path plan stays shuffle-free below the explode") {
    val plan = AnnQueries.assignProbes(embeddings, AnnQueries.LadderCents, 2, "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
  }
}
