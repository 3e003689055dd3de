package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.AnnQueries
import graft.operators.BucketedSelfJoin

/** Multi-table hyperplane-LSH recall on PLANTED near-duplicates (the q42
  * scale path): OR'ing 3 x 16-plane tables must recover nearly all planted
  * pairs and strictly beat a single table — the quantitative basis for the
  * 65536-buckets-per-table design. */
class AnnRecallSpec extends AnyFunSuite with SparkSuite {

  override lazy val spark: SparkSession = LocalSpark(8)

  test("3x16-plane OR recovers planted near-dups; beats one table; random pairs stay rare") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val nBase = 300; val nDup = 40
    val base = (0 until nBase).map(i => i.toLong -> Array.fill(64)(rnd.nextGaussian()))
    // planted near-duplicates: tiny perturbation => cosine ~0.999988
    val dups = (0 until nDup).map { i =>
      (1000L + i) -> base(i)._2.map(_ + 0.005 * rnd.nextGaussian())
    }
    val emb = spark.createDataset(base ++ dups).toDF("vec_id", "v")

    def candidates(tables: Int): Set[(Long, Long)] = {
      val sigs = emb.select($"vec_id",
          posexplode(array((0 until tables).map(t =>
            AnnQueries.bucketCol($"v", t, 16)): _*)))
        .select($"vec_id", $"pos".as("t"), $"col".as("bucket"))
      BucketedSelfJoin.pairs(sigs, Seq("t", "bucket"), "vec_id", cap = 1000, "spec")
        .as[(Long, Long)].collect().toSet
    }

    val one = candidates(1)
    val three = candidates(3)
    def recall(c: Set[(Long, Long)]): Double =
      (0 until nDup).count(i => c.contains((i.toLong, 1000L + i))).toDouble / nDup

    assert(recall(three) >= 0.9, s"3-table recall ${recall(three)}")
    assert(recall(three) > recall(one), s"OR must beat one table: ${recall(three)} vs ${recall(one)}")
    // selectivity: non-planted candidate pairs stay a tiny fraction of the
    // ~58k possible pairs (the whole point of 65536 buckets/table)
    val spurious = three.count { case (a, b) => !(b == a + 1000 && a < nDup) }
    assert(spurious < 600, s"$spurious spurious candidates")
  }
}
