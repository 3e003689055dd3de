package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 native text kernels must be bit-identical to the exact
  * Column pipelines they replaced (q31 count-eq, q45 stopword count-in,
  * q38 langid marker score, q39 max-unit-length fold, q52 repetition
  * facts, q33 4-window MinHash signature). */
class TextKernelsSpec extends AnyFunSuite with SparkSuite {

  import graft.functions.GraftFunctions

  private def docsDf = {
    import spark.implicits._
    Seq(
      "the quick brown fox the lazy dog the end",
      "a a a a a",
      "one two one two one two",
      "x",
      "",                                  // split -> [""] single empty token
      "unicode tökéns ärë fïnë tøo tökéns",
      "the the",
      "0123456789 abc 0123456789 zz zz zz zz")
      .toDF("text").withColumn("toks", split($"text", " "))
  }

  test("count_eq == size(filter(t === needle))") {
    val rows = docsDf.select(
      size(filter(col("toks"), t => t === "the")).cast("bigint").as("ref"),
      GraftFunctions.count_eq(col("toks"), lit("the")).as("got")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  test("count_in == size(filter(t.isin(stops)))") {
    val stops = Seq("the", "of", "and", "a", "to", "in", "is", "it")
    val rows = docsDf.select(
      size(filter(col("toks"), t => t.isin(stops.map(lit): _*))).cast("bigint").as("ref"),
      GraftFunctions.count_in(col("toks"), typedLit(stops)).as("got")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  test("langid_score == size(filter(substring(md5(prefix||t),1,1) in 0..4))") {
    Seq("de|", "en|", "zh|").foreach { p =>
      val rows = docsDf.select(
        size(filter(col("toks"),
          t => substring(md5(concat(lit(p), t)), 1, 1).isin("0", "1", "2", "3", "4")))
          .cast("bigint").as("ref"),
        GraftFunctions.langid_score(col("toks"), lit(p)).as("got")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"$p: $r"))
    }
  }

  test("max_char_len == aggregate(units, 0L, greatest(acc, length(u)))") {
    val rows = docsDf.select(
      aggregate(col("toks"), lit(0L), (acc, u) => greatest(acc, length(u).cast("bigint")))
        .as("ref"),
      GraftFunctions.max_char_len(col("toks")).as("got")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    // character length, not byte length (unicode)
    import spark.implicits._
    val uni = Seq(Seq("äöü", "abcd")).toDF("toks")
      .select(GraftFunctions.max_char_len($"toks")).collect()
    assert(uni.head.getLong(0) == 4L)
  }

  test("repetition_stats == the bigram explode + two-agg + join pipeline") {
    import spark.implicits._
    val df = docsDf.select(monotonically_increasing_id().as("doc_id"),
                           col("toks").as("t"))
    val base = df.select($"doc_id", size($"t").as("n_tokens"),
                         size(array_distinct($"t")).as("n_distinct"))
    val bi = df.select($"doc_id",
        explode(when(size($"t") < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size($"t") - 1),
            i => concat(element_at($"t", i), lit(" "), element_at($"t", i + 1))))).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_bigram_n"), sum($"c").as("n_bigrams"))
    val ref = base.join(bi, "doc_id")
      .select($"doc_id", $"n_tokens", $"n_distinct", $"top_bigram_n", $"n_bigrams")
      .orderBy($"doc_id").collect()
    val got = df.select($"doc_id",
        graft.functions.GraftFunctions.repetition_stats($"t").as("r"))
      .filter($"r.n_tokens" >= 2)
      .select($"doc_id", $"r.n_tokens", $"r.n_distinct", $"r.top_bigram_n", $"r.n_bigrams")
      .orderBy($"doc_id").collect()
    assert(ref.length == got.length)
    ref.zip(got).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getInt(1) == b.getInt(1), s"n_tokens: $a vs $b")
      assert(a.getInt(2) == b.getInt(2), s"n_distinct: $a vs $b")
      assert(a.getLong(3) == b.getLong(3), s"top_bigram_n: $a vs $b")
      assert(a.getLong(4) == b.getLong(4), s"n_bigrams: $a vs $b")
    }
  }

  test("minhash_sigs4 == array_min(transform(md5 windows)) x 4") {
    val tset = array_distinct(col("toks"))
    val mh = transform(tset, t => md5(t))
    val refs = (0 until 4).map(i =>
      array_min(transform(mh, h => substring(h, i * 8 + 1, 8))).as(s"ref${i + 1}"))
    val rows = docsDf.select(
      (refs :+ GraftFunctions.minhash_sigs4(tset).as("got")): _*).collect()
    rows.foreach { r =>
      (0 until 4).foreach { i =>
        val ref = r.getString(i)
        val got = r.getStruct(4).getString(i)
        assert(ref == got, s"window $i: $ref vs $got")
        assert(got.length == 8)
      }
    }
    // empty array -> null fields, like array_min over an empty transform
    import spark.implicits._
    val empty = Seq(Seq.empty[String]).toDF("tset")
      .select(GraftFunctions.minhash_sigs4($"tset").as("got")).collect()
    assert(empty.head.getStruct(0).isNullAt(0))
  }

  test("SQL registration of the text kernels") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_count_eq(array('a','b','a'), 'a'), " +
      "graft_count_in(array('a','b','c'), array('b','c')), " +
      "graft_max_char_len(array('ab','abc')), " +
      "graft_repetition(array('x','y','x','y')).top_bigram_n").collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 2L) // bigrams: x y, y x, x y -> "x y" twice
  }
}
