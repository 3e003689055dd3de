package graft

import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DocStream

class StreamingSpec extends AnyFunSuite with SparkSuite {

  val dir = "/root/testdata/sf0.001"

  test("streaming span counts equal the batch computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val q = DocStream.spanCounts(DocStream.readDocs(spark, dir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("span_counts").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.sql("SELECT kind, CAST(sum(n_spans) AS BIGINT) n FROM span_counts GROUP BY 1")
      .as[(String, Long)].collect().toMap
    val batch = graft.extract.InterleavedDocs.flatSpans(spark, dir)
      .groupBy($"kind").count().as[(String, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("q55 tumbling-window shape: streaming result equals batch result") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val q = DocStream.eventWindowCounts(DocStream.readEvents(spark, dir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("ev_windows").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.sql("SELECT * FROM ev_windows")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    val batch = DocStream.eventWindowCounts(spark.read.parquet(s"$dir/events.parquet"))
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch && batch.nonEmpty)
  }

  test("dedup state transition: TTL set on arrival, state removed on timeout") {
    import org.apache.spark.sql.streaming.TestGroupState
    // arrival: first-seen wins, timeout clock set
    val st = TestGroupState.create[DocStream.DedupState](
      optionalState = org.apache.spark.api.java.Optional.empty[DocStream.DedupState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out = DocStream.dedupUpdate(60000L)("h", Iterator((7L, "h"), (3L, "h")), st)
    assert(out.map(o => (o.doc_id, o.is_duplicate, o.first_doc_id)) ==
      Seq((3L, false, 3L), (7L, true, 3L)))
    assert(st.exists && st.get.firstDocId == 3L)
    assert(st.getTimeoutTimestampMs.isPresent) // TTL armed
    // timeout fires: state evicted, nothing emitted
    val st2 = TestGroupState.create[DocStream.DedupState](
      optionalState = org.apache.spark.api.java.Optional.of(DocStream.DedupState(3L)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 120000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    val out2 = DocStream.dedupUpdate(60000L)("h", Iterator.empty, st2)
    assert(out2.isEmpty && st2.isRemoved)
  }

  test("stateful dedup under the RocksDB state store provider") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // fresh session so the provider config cannot leak into other tests
    val s2 = spark.newSession()
    DocStream.useRocksDbStateStore(s2)
    assert(s2.conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    val q = DocStream.dedupStream(s2, DocStream.readDocs(s2, dir))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("dedup_rocks").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = s2.sql("SELECT * FROM dedup_rocks")
    assert(out.count() === 500)
    val bad = out.groupBy($"text_hash")
      .agg(sum(when(!$"is_duplicate", 1).otherwise(0)).as("owners"),
           min($"doc_id").as("min_id"), max($"first_doc_id").as("fid"))
      .filter($"owners" =!= 1 || $"min_id" =!= $"fid")
      .count()
    assert(bad === 0)
  }

  test("LSH bucket transition: pairs vs remembered members, cap bounds state, TTL evicts") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout
    def st(prev: Option[DocStream.BucketState], timedOut: Boolean = false) =
      TestGroupState.create[DocStream.BucketState](
        optionalState = prev.map(org.apache.spark.api.java.Optional.of[DocStream.BucketState])
          .getOrElse(org.apache.spark.api.java.Optional.empty[DocStream.BucketState]()),
        timeoutConf = ProcessingTimeTimeout, batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = timedOut)
    val f = DocStream.lshBucketUpdate(cap = 3, ttlMs = 60000L) _
    // first batch: 2 arrivals pair with each other, both remembered
    val s1 = st(None)
    assert(f((0, "sig"), Iterator(7L, 3L), s1).toSet === Set((3L, 7L)))
    assert(s1.get.members === Seq(3L, 7L))
    // second batch: new arrival pairs with BOTH members; cap 3 reached
    val s2 = st(Some(DocStream.BucketState(Seq(3L, 7L))))
    assert(f((0, "sig"), Iterator(5L), s2).toSet === Set((3L, 5L), (5L, 7L)))
    assert(s2.get.members === Seq(3L, 7L, 5L))
    // beyond the cap the bucket is a stop-signature (batch parity: an
    // oversized bucket is dropped WHOLE): the overflowing arrival emits
    // nothing, state collapses to the degenerate flag
    val s3 = st(Some(DocStream.BucketState(Seq(3L, 7L, 5L))))
    assert(f((0, "sig"), Iterator(9L), s3).isEmpty)
    assert(s3.get === DocStream.BucketState(Seq.empty, degenerate = true))
    // ... and every later arrival stays silent
    val s3b = st(Some(DocStream.BucketState(Seq.empty, degenerate = true)))
    assert(f((0, "sig"), Iterator(11L, 12L), s3b).isEmpty)
    assert(s3b.get.degenerate)
    // duplicate arrival: no self-pair, no growth
    val s4 = st(Some(DocStream.BucketState(Seq(3L, 7L))))
    assert(f((0, "sig"), Iterator(3L), s4).isEmpty)
    assert(s4.get.members === Seq(3L, 7L))
    // timeout evicts
    val s5 = st(Some(DocStream.BucketState(Seq(3L))), timedOut = true)
    assert(f((0, "sig"), Iterator.empty, s5).isEmpty && s5.isRemoved)
  }

  /** The q33 band-signature rows of the batch corpus: (doc_id, band, sig). */
  private def bandSigRows(): Array[(Long, Int, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("mh", transform(array_distinct(split($"text", " ")), t => md5(t)))
      .select(col("doc_id").cast("long").as("doc_id") +: (0 until 4).map(i =>
        array_min(transform(col("mh"), h => substring(h, i * 8 + 1, 8))).as(s"sig${i + 1}")): _*)
      .select($"doc_id", posexplode(array($"sig1", $"sig2", $"sig3", $"sig4")))
      .as[(Long, Int, String)].collect()
  }

  /** Driver-side replay of lshBucketUpdate: per bucket, ids arrive in
    * `parts` batches (batch of id = id % parts), sorted within a batch —
    * the ground truth for what the stream must emit. (iterator, NOT
    * Map.flatMap: tuple results would rebuild a Map and silently
    * deduplicate pairs by doc_a.) */
  private def simulatePairs(rows: Array[(Long, Int, String)], parts: Int,
                            cap: Int): Set[(Long, Long)] =
    rows.groupBy(r => (r._2, r._3)).iterator.flatMap { case (_, rs) =>
      var members = Vector.empty[Long]
      var degenerate = false
      val out = Seq.newBuilder[(Long, Long)]
      (0 until parts).foreach { b =>
        // batch-local buffer: a cap flip RETRACTS pairs buffered in the
        // same trigger (they never left the transition function)
        val buf = Seq.newBuilder[(Long, Long)]
        rs.map(_._1).filter(_ % parts == b).distinct.sorted.foreach { id =>
          if (!degenerate && !members.contains(id)) {
            if (members.length >= cap) {
              degenerate = true; members = Vector.empty; buf.clear()
            } else {
              members.foreach(m => buf += (if (m < id) (m, id) else (id, m)))
              members :+= id
            }
          }
        }
        out ++= buf.result()
      }
      out.result()
    }.toSet

  test("streaming LSH candidates end-to-end match the transition semantics") {
    import spark.implicits._
    val cap = 100
    val q = DocStream.lshCandidateStream(spark, DocStream.readDocs(spark, dir), cap)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("lsh_cand").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.sql("SELECT doc_a, doc_b FROM lsh_cand")
      .as[(Long, Long)].collect().toSet
    val expected = simulatePairs(bandSigRows(), parts = 1, cap)
    assert(streamed.nonEmpty && streamed === expected)
  }

  test("cross-batch LSH state: candidates accumulate over three micro-batches") {
    import spark.implicits._
    val cap = 100
    val parts = 3
    val q = DocStream
      .lshCandidateStream(spark, DocStream.readDocsSplit(spark, dir, parts), cap)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("lsh_cand_mb").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.sql("SELECT doc_a, doc_b FROM lsh_cand_mb")
      .as[(Long, Long)].collect().toSet
    val expected = simulatePairs(bandSigRows(), parts, cap)
    // pairs spanning different micro-batches prove state carried between
    // triggers (a batch-2 arrival paired with a batch-0 remembered member)
    assert(streamed.exists { case (a, b) => a % parts != b % parts })
    assert(streamed === expected)
  }

  test("batch/stream LSH parity on a cap-crossing corpus, drop counts visible in both") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cap = 5
    val parts = 3
    // planted corpus: a HOT text whose bucket crosses the cap inside its
    // FIRST micro-batch (6 distinct members > cap=5 -> flip + same-trigger
    // retraction -> zero emissions, exactly the batch drop), plus 8 normal
    // groups of 3 duplicates spread one-per-batch (buckets of 3 <= cap ->
    // all pairs in both paths)
    def batchDocs(b: Int): Seq[(Long, String)] =
      (0 until 6).map(i => (100L * b + i, "hotword")) ++
      (0 until 8).map(g => (1000L * (g + 1) + b, s"w${g}alpha w${g}beta w${g}gamma"))
    val stageDir = java.nio.file.Files.createTempDirectory("graft_lsh_parity")
    (0 until parts).foreach { b =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_parity_tmp")
      spark.createDataset(batchDocs(b)).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = java.nio.file.Files.list(tmp)
      val part = try ls.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
                 finally ls.close()
      val dst = stageDir.resolve(f"batch-$b%03d.parquet")
      java.nio.file.Files.move(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + b * 60000L))
    }
    val schema = spark.read.parquet(stageDir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(stageDir.toString)
    val drops = spark.sparkContext.longAccumulator("graft_lsh_degenerate_buckets")
    val q = DocStream.lshCandidateStream(spark, stream, cap, dropCounter = Some(drops))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("lsh_parity").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.sql("SELECT doc_a, doc_b FROM lsh_parity")
      .as[(Long, Long)].collect().toSet

    // batch path: identical signature arithmetic + BucketedSelfJoin cap
    val allDocs = spark.read.parquet(stageDir.toString)
    val sigs = allDocs
      .withColumn("mh", transform(array_distinct(split($"text", " ")), t => md5(t)))
      .select($"doc_id".cast("long").as("doc_id") +: (0 until 4).map(i =>
        array_min(transform($"mh", h => substring(h, i * 8 + 1, 8))).as(s"sig${i + 1}")): _*)
      .select($"doc_id", posexplode(array($"sig1", $"sig2", $"sig3", $"sig4")))
      .select($"doc_id", $"pos".as("band"), $"col".as("sig"))
    val batch = graft.operators.BucketedSelfJoin
      .pairs(sigs, Seq("band", "sig"), "doc_id", cap, "parity_spec")
      .as[(Long, Long)].collect().toSet

    assert(streamed === batch, "stream candidates must equal batch candidates")
    assert(batch.nonEmpty)
    // drop accounting: the hot text's 4 band buckets flip exactly once each
    // on the stream side; the batch side counts the same 4 oversized buckets
    assert(drops.value === 4L, s"stream drop counter ${drops.value}")
    val batchOversized = sigs.groupBy($"band", $"sig").count().filter($"count" > cap).count()
    assert(batchOversized === 4L)
  }

  test("stream-stream interval join matches the identical batch join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val q = DocStream.docEventJoin(
        DocStream.readDocs(spark, dir), DocStream.readEvents(spark, dir))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ss_join").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.sql("SELECT doc_id, event_id FROM ss_join")
      .as[(Long, Long)].collect().toSet

    // the batch twin: same projections, same interval predicate
    val bd = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("event_time",
        timestamp_millis(lit(1704067200000L) + col("doc_id") * 60000L))
      .select($"doc_id", ($"doc_id" % 50).as("d_shard"), $"event_time")
    val be = spark.read.parquet(s"$dir/events.parquet")
      .select($"event_id", ($"user_id" % 50).as("e_shard"),
              $"ts".cast("timestamp").as("ev_time"))
    val batch = bd.join(be, expr(
        """d_shard = e_shard AND
          |ev_time >= event_time - INTERVAL 120 MINUTES AND
          |ev_time <= event_time + INTERVAL 120 MINUTES""".stripMargin))
      .select($"doc_id", $"event_id").as[(Long, Long)].collect().toSet

    assert(streamed.nonEmpty, "planted time ranges must overlap")
    assert(streamed === batch)
  }

  test("stateful streaming dedup: first doc owns the hash, dups flagged") {
    import spark.implicits._
    val q = DocStream.dedupStream(spark, DocStream.readDocs(spark, dir))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("dedup").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.sql("SELECT * FROM dedup")
    val n = out.count()
    assert(n === 500) // every doc classified exactly once
    // invariant: per hash, exactly one non-duplicate and it is the min id
    import org.apache.spark.sql.functions._
    val bad = out.groupBy($"text_hash")
      .agg(sum(when(!$"is_duplicate", 1).otherwise(0)).as("owners"),
           min($"doc_id").as("min_id"), max($"first_doc_id").as("fid"))
      .filter($"owners" =!= 1 || $"min_id" =!= $"fid")
      .count()
    assert(bad === 0)
    // matches the batch dedup query's keep ids
    val batchKeeps = graft.api.TextQueries.queries("q30_dedup_exact")(spark, dir)
      .select($"keep_id").as[Long].collect().toSet
    val streamKeeps = out.filter(!$"is_duplicate").select($"doc_id").as[Long].collect().toSet
    assert(streamKeeps === batchKeeps)
  }
}
