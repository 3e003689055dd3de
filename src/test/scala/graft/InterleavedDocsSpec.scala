package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.InterleavedDocs
import graft.model.{Doc, Span}

/** Span-sequence equality is the per-row invariant vs the reference
  * (BASELINE.json input_hint): (kind, text, media_ref) tuples in array order
  * per doc_id — the analog of the D2_XY fill-curve output order. */
class InterleavedDocsSpec extends AnyFunSuite with SparkSuite {

  val dir = "/root/testdata/sf0.001"

  test("typed Dataset[Doc] round-trips the schema") {
    val ds = InterleavedDocs.typedDocs(spark, dir)
    val first = ds.head()
    assert(first.doc_id.startsWith("doc-"))
    assert(first.spans.nonEmpty)
    // offsets strictly increasing within each doc
    val bad = ds.filter { d: Doc =>
      d.spans.sliding(2).exists { case Seq(a, b) => a.offset >= b.offset; case _ => false }
    }.count()
    assert(bad === 0)
  }

  test("span sequence survives shuffle: explode -> repartition -> reassemble") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val original = InterleavedDocs.typedDocs(spark, dir).collect()
      .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref)).toList).toMap

    // tear apart, shuffle hard, reassemble by explicit (offset) sort — the
    // discipline every operator must follow (never trust shuffle order)
    val reassembled = InterleavedDocs.docs(spark, dir)
      .select($"doc_id", explode($"spans").as("s"))
      .repartition(16, $"s.kind") // adversarial: co-locates by kind, not doc
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"s.offset", $"s"))).as("ss"))
      .select($"doc_id", transform($"ss", x => x("s")).as("spans"))
      .as[Doc].collect()
      .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref)).toList).toMap

    assert(reassembled.keySet === original.keySet)
    original.foreach { case (id, seq) =>
      assert(reassembled(id) === seq, s"span sequence mismatch for $id")
    }
  }

  test("geo extraction: span 0 of geo docs coincides with Geo.docPoints") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val geo = InterleavedDocs.geoPoints(spark, dir)
      .filter($"span_idx" === 0)
      .withColumn("d", expr("CAST(substring(doc_id, 5, 12) AS BIGINT)"))
      .select($"d", $"lon", $"lat")
    val base = graft.api.Geo.docPoints(spark, dir)
      .select($"doc_id".as("d"), $"lon".as("lon2"), $"lat".as("lat2"))
    // span 0 exists only for docs with d % 4 == 0
    val n = geo.join(base, "d")
      .filter($"lon" =!= $"lon2" || $"lat" =!= $"lat2")
      .count()
    assert(n === 0)
    assert(geo.count() > 0)
  }
}
