package graft.tools

/** Measures IVF/LSH ANN recall vs the q40 brute force at a given sf, and
  * prints the q43 assignment-stage plan check (no Window/Exchange before the
  * probe join). Run: sbt "runMain graft.tools.AnnRecall [sfDir]" */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.LocalSpark(16)
    import spark.implicits._

    def topSet(q: String): Map[Long, Set[Long]] =
      graft.SparkEntry.queries(q)(spark, dir)
        .select("qid", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

    val truth = topSet("q40_ann_bruteforce")
    for (q <- Seq("q43_ann_ivf", "q44_ann_ivf_trained", "q102_ann_ivf_rerank", "q108_ann_ivf_full")) {
      val got = topSet(q)
      val hits = truth.map { case (k, t) => (got.getOrElse(k, Set.empty) & t).size }.sum
      val total = truth.values.map(_.size).sum
      println(s"RECALL $q = $hits/$total = ${math.round(100.0 * hits / total)}%")
    }

    // plan check: the q43 assignment (everything below the probe join) must
    // contain no Window and no Exchange — a single shuffle-free projection
    val plan = graft.SparkEntry.queries("q43_ann_ivf")(spark, dir)
      .queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("Join")
    require(joinIdx >= 0, "q43 executed plan contains no probe join — plan shape changed")
    val below = plan.substring(joinIdx)
    println("Q43_WINDOW_BELOW_PROBE_JOIN=" + "Window".r.findAllIn(below).length)
    println("Q43_SHUFFLE_BELOW_PROBE_JOIN=" + "ShuffleExchange".r.findAllIn(below).length)
    println("Q43_BROADCAST_BELOW_PROBE_JOIN=" + "BroadcastExchange".r.findAllIn(below).length)
    spark.stop()
  }
}
