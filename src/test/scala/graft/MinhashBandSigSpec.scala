package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native graft_minhash_band_sig must be bit-identical to the Column
  * pipeline it replaced in neardupPairs (q37/q76 signature projection):
  * concat over j of array_min(transform(md5(band|t), substr(4j+1, 4))). */
class MinhashBandSigSpec extends AnyFunSuite with SparkSuite {

  test("native band sig equals the transform/array_min/substring pipeline") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c",
      "identical identical identical",
      "unicode tökéns ärë fïnë tøo",
      "x",
      "") // split("") -> [""] single empty token
      .toDF("text")
      .withColumn("tset", sort_array(array_distinct(split($"text", " "))))
    (0 until 4).foreach { band =>
      val mh = transform($"tset", t => md5(concat(lit(s"$band|"), t)))
      val reference = concat((0 until 6).map(j =>
        array_min(transform(mh, h => substring(h, j * 4 + 1, 4)))): _*)
      val native = graft.functions.GraftFunctions.minhash_band_sig($"tset", lit(band))
      val rows = docs.select(reference.as("ref"), native.as("got")).collect()
      rows.foreach { r =>
        assert(r.getString(0) == r.getString(1), s"band $band: $r")
        assert(r.getString(1).length == 24)
      }
    }
  }

  test("null and empty arrays") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq.empty[String]), Tuple1(null.asInstanceOf[Seq[String]]))
      .toDF("tset")
    val got = df.select(
      graft.functions.GraftFunctions.minhash_band_sig($"tset", lit(0))).collect()
    assert(got.forall(_.isNullAt(0)))
  }
}
