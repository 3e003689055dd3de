package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft_simhash16 must be bit-identical to the explode + 16-aggregate
  * pipeline it replaced in q36 (ASCII-parity votes over the token
  * MULTISET, bit set iff the vote sum is positive). */
class Simhash16Spec extends AnyFunSuite with SparkSuite {

  test("native simhash equals the explode/aggregate pipeline") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a"),
      (3L, "repeat repeat repeat repeat"),   // multiset: repeats must count
      (4L, "unicode tökéns ärë fïnë"),
      (5L, ""),                               // split -> [""] single empty token
      (6L, "x y z x y z x"))
      .toDF("doc_id", "text")
    val tok = docs.select($"doc_id", explode(split($"text", " ")).as("tok"))
      .withColumn("h", md5($"tok"))
    val votes = (0 until 16).map { b =>
      sum(ascii(substring($"h", b + 1, 1)) % 2 * 2 - 1).as(s"v$b")
    }
    val ref = tok.groupBy($"doc_id")
      .agg(votes.head, votes.tail: _*)
      .select($"doc_id",
        (0 until 16).map(b => when(col(s"v$b") > 0, 1L << b).otherwise(0L)).reduce(_ + _)
          .as("ref"))
    val got = docs.select($"doc_id",
      graft.functions.GraftFunctions.simhash16(split($"text", " ")).as("got"))
    val joined = ref.join(got, "doc_id").collect()
    assert(joined.length == 6)
    joined.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
  }
}
