package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the properties that make the hot queries
  * scale-sound, asserted on the actual plans so a refactor cannot silently
  * reintroduce a known scale-killer. */
class PlanShapeSpec extends AnyFunSuite with SparkSuite {

  val dir = "/root/testdata/sf0.001"

  private def optimized(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan.toString

  private def executed(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    needle.r.findAllIn(hay).length

  test("q33: exactly ONE digest pass per token (the round-2 regression, now native)") {
    // round 2 pinned ONE hoisted md5 array shared by the 4 signature
    // columns; round 6 folds all four windows into the single native
    // graft_minhash_sigs4 call, so the plan carries exactly one signature
    // expression and NO md5/array_min decomposition at all
    val p = optimized("q33_minhash_sigs")
    assert(count(p, "graft_minhash_sigs4") == 1)
    assert(count(p, "md5\\(") == 0)
    assert(count(p, "array_min") == 0)
  }

  test("q35: the shingle fingerprint is the single native expression") {
    val p = optimized("q35_fingerprint")
    assert(count(p, "graft_shingle_min_md5") == 1)
    // and not decomposed into per-shingle transform/slice pipelines
    assert(!p.contains("slice("))
  }

  test("q97: broadcast-codebook IVF assignment is shuffle-free below the probe join") {
    val plan = executed("q97_ann_ivf_broadcast")
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, "probe join missing from the plan")
    val below = plan.substring(joinIdx)
    assert(count(below, "Window") == 0, "argmax must not be a Window")
    assert(count(below, "ShuffleExchange") == 0, "assignment must not shuffle")
    // the K=4096 codebook must NOT be serialized into the plan: 262k
    // doubles as literals/expression trees would blow the plan string up by
    // orders of magnitude (the broadcast value rides outside the plan)
    assert(plan.length < 20000, s"plan unexpectedly large (${plan.length} chars)")
  }

  test("q43: IVF assignment is shuffle-free below the probe join") {
    val plan = executed("q43_ann_ivf")
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, "probe join missing from the plan")
    val below = plan.substring(joinIdx)
    assert(count(below, "Window") == 0, "argmax must not be a Window")
    assert(count(below, "ShuffleExchange") == 0, "assignment must not shuffle")
  }

  test("q103: trained broadcast codebook keeps O(1) plan size in K") {
    val plan = executed("q103_ann_ivf_trained_broadcast")
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, "probe join missing from the plan")
    val below = plan.substring(joinIdx)
    assert(count(below, "Window") == 0, "argmax must not be a Window")
    assert(count(below, "ShuffleExchange") == 0, "assignment must not shuffle")
    // the K=1024 TRAINED codebook must ride the broadcast, not the plan:
    // 65k longs as literals would blow the plan string up by orders of
    // magnitude (same bound as q97's untrained path)
    assert(plan.length < 20000, s"plan unexpectedly large (${plan.length} chars)")
  }

  test("q102: multi-assignment re-rank stays shuffle-free below the probe join") {
    val plan = executed("q102_ann_ivf_rerank")
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0, "probe join missing from the plan")
    val below = plan.substring(joinIdx)
    assert(count(below, "Window") == 0, "argmax must not be a Window")
    assert(count(below, "ShuffleExchange") == 0, "assignment must not shuffle")
  }

  test("q12: the winding refine lives in the join, not a post-join filter") {
    val plan = executed("q12_pip_join")
    assert(plan.contains("graft_contains"), "winding refine missing")
    // no Filter node evaluating the refine AFTER the join materializes rows
    val filterIdx = plan.linesIterator.filter(_.contains("graft_contains"))
      .filter(_.trim.startsWith("Filter")).size
    assert(filterIdx == 0, "refine must be pushed into the join condition")
  }

  test("q16 flagship: broadcast join on the long cell key, no sort-merge") {
    val plan = executed("q16_docs_pip")
    assert(count(plan, "BroadcastHashJoin") >= 1)
    assert(count(plan, "SortMergeJoin") == 0)
    assert(count(plan, "CartesianProduct") == 0)
  }

  test("no CartesianProduct anywhere except the labeled brute-force baseline") {
    for (q <- Seq("q37_jaccard_neardup", "q42_neardup_embedding",
                  "q34_lsh_buckets", "q13_knn", "q49_decontaminate",
                  "q52_repetition_stats", "q78_zonal_stats")) {
      val plan = executed(q)
      assert(count(plan, "CartesianProduct") == 0, q)
    }
  }

  test("q49: the kept bench-gram table is broadcast into the corpus probe") {
    val plan = executed("q49_decontaminate")
    assert(count(plan, "BroadcastHashJoin") >= 1, "bench grams must broadcast")
    assert(count(plan, "SortMergeJoin") == 0, "no wide join in decontamination")
  }

  test("q48: the per-source rate table is broadcast, docs never shuffle pre-agg") {
    val plan = executed("q48_mixture_sample")
    assert(count(plan, "BroadcastHashJoin") >= 1, "rate table must broadcast")
    assert(count(plan, "SortMergeJoin") == 0)
  }

  test("q78: zones broadcast into the PIP join; scan prunes to used columns") {
    val plan = executed("q78_zonal_stats")
    assert(count(plan, "BroadcastHashJoin") >= 1, "zone cover must broadcast")
    assert(count(plan, "CartesianProduct") == 0)
  }

  test("bucketed tables co-locate the join: SortMergeJoin with ZERO exchanges") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      docs.select($"doc_id", $"n_chars").write
        .bucketBy(8, "doc_id").sortBy("doc_id").mode("overwrite")
        .saveAsTable("b_left")
      docs.select($"doc_id", $"lang").write
        .bucketBy(8, "doc_id").sortBy("doc_id").mode("overwrite")
        .saveAsTable("b_right")
      val joined = spark.table("b_left").join(spark.table("b_right"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(count(plan, "SortMergeJoin") == 1, plan.take(2000))
      // the whole point of bucketing: both sides pre-partitioned on the
      // join key, so the join runs with NO shuffle exchange at all
      assert(count(plan, "Exchange") == 0, plan.take(2000))
      assert(joined.count() == docs.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_left")
      spark.sql("DROP TABLE IF EXISTS b_right")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      // saveAsTable writes under ./spark-warehouse (static conf) — clean up
      import scala.reflect.io.Directory
      new Directory(new java.io.File("spark-warehouse")).deleteRecursively()
    }
  }
}
