package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BucketedSelfJoin

/** The LSH bucket cap under adversarial input: one degenerate bucket (an
  * all-identical band signature) would self-join O(n^2); the cap must drop
  * it entirely while leaving under-cap buckets untouched. */
class BucketCapSpec extends AnyFunSuite with SparkSuite {

  test("adversarial all-identical band is dropped; small buckets survive; boundary kept") {
    import spark.implicits._
    // 500 docs all landing in ONE (band, sig) bucket — the stop-signature
    // case (on the synthetic 30-word corpus this actually happens)...
    val degenerate = (0 until 500).map(i => (s"doc-$i", 0, "STOPSIG"))
    // ...plus a 3-doc near-dup cluster and an exactly-at-cap bucket
    val smallCluster = (0 until 3).map(i => (s"dup-$i", 1, "RARESIG"))
    val atCap = (0 until 100).map(i => (s"cap-$i", 2, "CAPSIG"))
    val sigs = (degenerate ++ smallCluster ++ atCap).toDF("doc_id", "band", "sig")

    val pairs = BucketedSelfJoin.pairs(sigs, Seq("band", "sig"), "doc_id", cap = 100, "spec")
      .as[(String, String)].collect().toSet

    // the degenerate bucket contributes ZERO pairs (would have been 124,750)
    assert(!pairs.exists(p => p._1.startsWith("doc-") || p._2.startsWith("doc-")))
    // the small cluster's 3 pairs all survive
    assert(pairs.filter(p => p._1.startsWith("dup-")) ==
      Set(("dup-0", "dup-1"), ("dup-0", "dup-2"), ("dup-1", "dup-2")))
    // a bucket of exactly cap size is KEPT (cap is inclusive)
    assert(pairs.count(p => p._1.startsWith("cap-")) == 100 * 99 / 2)
  }

  test("NULL-key groups are capped too, and an existing n_bucket column survives") {
    import spark.implicits._
    // a >cap group whose key is NULL: GROUP BY groups the NULLs together,
    // and the null-safe cap join must drop them — null-unsafe equality
    // would let every NULL-key row bypass the cap silently
    val nullKeyed = (0 until 10).map(i => (s"n-$i", Option.empty[String]))
    val keptSmall = Seq(("k-1", Some("SIG")), ("k-2", Some("SIG")))
    val rows = (nullKeyed ++ keptSmall).toDF("doc_id", "sig")
      // a user column named n_bucket must not collide with the cap's marker
      .withColumn("n_bucket", lit(42))
    val kept = BucketedSelfJoin.cappedByKey(rows, Seq("sig"), cap = 5, "nullspec")
    val ids = kept.select("doc_id").as[String].collect().toSet
    assert(ids == Set("k-1", "k-2"))
    assert(kept.columns.toSeq == Seq("doc_id", "sig", "n_bucket"))
    assert(kept.select("n_bucket").as[Int].collect().forall(_ == 42))
  }

  test("key columns containing dots survive the alias-qualified cap join") {
    import spark.implicits._
    val rows = Seq(("a", "X"), ("b", "X"), ("c", "Y")).toDF("doc_id", "sig.band")
    val kept = BucketedSelfJoin.cappedByKey(rows, Seq("sig.band"), cap = 1, "dotspec")
    assert(kept.select("doc_id").as[String].collect().toSet == Set("c"))
    assert(kept.columns.toSeq == Seq("doc_id", "sig.band"))
  }

  test("pairs are distinct across buckets (no double-count when two bands agree)") {
    import spark.implicits._
    val sigs = Seq(
      ("a", 0, "X"), ("b", 0, "X"), // candidates via band 0
      ("a", 1, "Y"), ("b", 1, "Y")  // AND via band 1 — must still be one pair
    ).toDF("doc_id", "band", "sig")
    val pairs = BucketedSelfJoin.pairs(sigs, Seq("band", "sig"), "doc_id", cap = 10, "spec")
      .as[(String, String)].collect()
    assert(pairs.toSeq == Seq(("a", "b")))
  }
}
