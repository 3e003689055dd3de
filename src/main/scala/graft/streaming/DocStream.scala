package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.api.Tables

/**
 * Structured Streaming surface. The reference itself has NO streaming
 * (SURVEY.md §2.9 — batch/pull only); this module exists because a
 * 100 TB training-data pipeline ingests documents continuously, and the
 * engine's operators must compose with readStream/writeStream unchanged:
 *
 *  - [[spanCounts]]: streaming span extraction + watermarked windowed
 *    aggregation (event-time, late-data tolerant);
 *  - [[dedupStream]]: stateful exact dedup across micro-batches via
 *    mapGroupsWithState on the text hash — first-seen wins, duplicates
 *    carry the original doc's id (the streaming restatement of q30).
 *
 * Batch parquet drives the streams synchronously in tests
 * (`processAllAvailable`), per the Spark testing idiom.
 */
object DocStream {

  /** Streaming docs source: one file-per-trigger parquet stream with an
    * event-time column derived deterministically from doc_id.
    * FileStreamSource requires a directory, while the driver testdata is a
    * single parquet file — stage it into a per-sf temp directory once
    * (a real deployment streams an arriving-files directory anyway). */
  def readDocs(spark: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(Tables.path(dir, "documents"))
    val staged = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_stream", dir.replaceAll("[^A-Za-z0-9]", "_"))
    java.nio.file.Files.createDirectories(staged)
    val dst = staged.resolve("part-00000.parquet")
    // REPLACE_EXISTING: never serve a stale/truncated staged copy if the
    // source was regenerated or a previous JVM died mid-copy
    java.nio.file.Files.copy(src, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.readStream
      .schema(Tables.schema(spark, dir, "documents"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .withColumn("event_time",
        timestamp_millis(lit(1704067200000L) + col("doc_id") * 60000L))
  }

  /** [[readDocs]] split into `parts` files so `maxFilesPerTrigger=1` yields
    * `parts` MICRO-BATCHES in a deterministic order: part i holds doc_id %
    * parts == i, and file modification times are staggered (FileStreamSource
    * orders by mtime, not name) so batch i is exactly partition i. The
    * cross-batch path of every stateful operator — state carried between
    * triggers — is only exercised with more than one batch. */
  def readDocsSplit(spark: SparkSession, dir: String, parts: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val src = java.nio.file.Paths.get(Tables.path(dir, "documents"))
    // FixtureStage (stage-once, atomic-rename commit); the key STAMPS the
    // source file (size + mtime) so a regenerated corpus auto-invalidates
    // the split instead of silently serving stale batches
    val stamp = s"${java.nio.file.Files.size(src)}_" +
      s"${java.nio.file.Files.getLastModifiedTime(src).toMillis}"
    val name = "stream_split_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
      s"_${parts}_$stamp"
    val staged = graft.api.FixtureStage.stage(name, version = 1) { out =>
      val docs = Tables.read(spark, dir, "documents")
      (0 until parts).foreach { i =>
        val tmp = java.nio.file.Files.createTempDirectory("graft_split")
        docs.filter(col("doc_id") % parts === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        // NIO directory streams hold a file descriptor until closed —
        // unclosed, each staging leaked one fd per part
        val ls = java.nio.file.Files.list(tmp)
        val part =
          try ls.filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get()
          finally ls.close()
        val dst = java.nio.file.Paths.get(out, f"batch-$i%03d.parquet")
        java.nio.file.Files.move(part, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))
        val wk = java.nio.file.Files.walk(tmp)
        try wk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally wk.close()
      }
    }
    spark.readStream
      .schema(Tables.schema(spark, dir, "documents"))
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(staged)
  }

  /** The events table as a file stream (same staging pattern as
    * [[readDocs]]: one parquet file copied into a dedicated source dir). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(Tables.path(dir, "events"))
    val staged = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_stream_ev", dir.replaceAll("[^A-Za-z0-9]", "_"))
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.copy(src, staged.resolve("part-00000.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.readStream
      .schema(Tables.schema(spark, dir, "events"))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
  }

  /** The q55 tumbling-window aggregation, shared verbatim by the batch
    * oracle query and the streaming variant (StreamingSpec proves the two
    * produce identical rows): 1-hour windows per event_type, value sums in
    * integer cents. Callers add the watermark on the streaming side. */
  def eventWindowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(round(col("value") * 100, 0).cast("bigint")).as("sum_value_cents"),
           min(col("event_id")).as("min_ev"), max(col("event_id")).as("max_ev"))
      .select(unix_millis(col("window.start")).as("w_start_ms"), col("event_type"),
              col("n_events"), col("sum_value_cents"), col("min_ev"), col("max_ev"))

  /** Span extraction per micro-batch + windowed counts with a watermark:
    * (window, kind) -> span count. */
  def spanCounts(docs: DataFrame): DataFrame = {
    val spans = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_spans", ceil(size(col("toks")) / 5.0).cast("int"))
      .withColumn("i", explode(sequence(lit(0), col("n_spans") - 1)))
      .withColumn("kind",
        when((col("doc_id") + col("i")) % 4 === 0, "geo")
          .when((col("doc_id") + col("i")) % 4 === 1, "media")
          .otherwise("text"))
    spans
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("kind"))
      .agg(count(lit(1)).as("n_spans"))
  }

  /**
   * Watermarked STREAM-STREAM interval join (the remaining Structured
   * Streaming join shape the engine's streams need): documents joined to
   * telemetry events by shard within a bounded event-time interval —
   * "attach the events that happened around each document's ingest". Both
   * sides carry watermarks, so Spark bounds the join state: a buffered row
   * is dropped once the other side's watermark passes its interval, which
   * is what makes the state finite on an endless stream (an unwatermarked
   * stream-stream join accumulates forever). The interval condition rides
   * IN the join predicate (event_time between doc time - lower and doc
   * time + upper), so the state pruning is automatic.
   * StreamingSpec proves row parity with the identical batch join.
   */
  def docEventJoin(docs: DataFrame, events: DataFrame,
                   lowerMinutes: Int = 120, upperMinutes: Int = 120,
                   watermark: String = "30 days"): DataFrame = {
    val d = docs
      .select(col("doc_id"), (col("doc_id") % 50).as("d_shard"), col("event_time"))
      .withWatermark("event_time", watermark)
    val e = events
      .select(col("event_id"), col("user_id"),
              (col("user_id") % 50).as("e_shard"),
              col("ts").cast("timestamp").as("ev_time"), col("value"))
      .withWatermark("ev_time", watermark)
    d.join(e, expr(
      s"""d_shard = e_shard AND
         |ev_time >= event_time - INTERVAL $lowerMinutes MINUTES AND
         |ev_time <= event_time + INTERVAL $upperMinutes MINUTES""".stripMargin))
      .select(col("doc_id"), col("event_id"), col("user_id"), col("value"))
  }

  /** Fully-qualified RocksDB state-store provider (shipped with Spark).
    * HDFSBackedStateStoreProvider (the default) holds every version of every
    * key IN EXECUTOR HEAP — at 100-TB corpus scale the dedup hash state is
    * billions of keys and the heap store is the first thing to die. RocksDB
    * keeps state off-heap/on-disk with incremental checkpointing, so state
    * size is bounded by local disk, not heap; combined with the TTL below
    * the state story is config + eviction, not hope. */
  val RocksDbProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch the session's streaming state store to RocksDB (applies to
    * queries started afterwards; per-query state lives under the query's
    * checkpoint dir as usual). */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)

  final case class DedupState(firstDocId: Long)
  final case class DedupOut(doc_id: Long, text_hash: String, is_duplicate: Boolean, first_doc_id: Long)

  /** The per-group dedup transition, factored out so the timeout branch is
    * unit-testable with TestGroupState. On a processing-time timeout the
    * state is REMOVED (the hash can be "first-seen" again afterwards — the
    * standard bounded-state trade of streaming dedup); otherwise first-seen
    * wins and the TTL clock is extended on every arrival. */
  private[graft] def dedupUpdate(ttlMs: Long)(
      hash: String, rows: Iterator[(Long, String)],
      state: GroupState[DedupState]): Seq[DedupOut] = {
    if (state.hasTimedOut) {
      state.remove()
      Seq.empty
    } else {
      val sorted = rows.map(_._1).toSeq.sorted
      val first = state.getOption.map(_.firstDocId).getOrElse(sorted.head)
      if (!state.exists) state.update(DedupState(first))
      if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
      sorted.map(id => DedupOut(id, hash, id != first, first))
    }
  }

  final case class BucketState(members: Seq[Long], degenerate: Boolean = false)

  /** Per-(band, sig) LSH transition: each arrival pairs with the bucket's
    * REMEMBERED members (candidate pairs a < b, the streaming analog of
    * BucketedSelfJoin). Cap semantics MIRROR the batch cap: a bucket that
    * exceeds `cap` distinct members is a stop-signature — it flips to
    * `degenerate`, drops its member list (state shrinks to one flag), and
    * emits NOTHING from then on, exactly as BucketedSelfJoin drops the
    * whole oversized bucket. A flip additionally RETRACTS the pairs
    * buffered earlier in the SAME invocation (they were never emitted
    * downstream yet), so a bucket that crosses the cap within one
    * micro-batch contributes zero candidates — exactly batch semantics.
    * The one unavoidable divergence is temporal ACROSS batches: pairs
    * emitted while the bucket was still small in an EARLIER trigger cannot
    * be recalled (batch, seeing the full bucket at once, never emits
    * them) — a downstream exact-Jaccard refine makes those extra
    * candidates harmless. Every flip bumps `dropCounter` (a named
    * accumulator in the stream composition — the streaming twin of the
    * batch observe() drop log; BucketedSelfJoin warns with counts, this
    * surfaces them in the Spark UI and to tests). `ttlMs` evicts idle
    * buckets (same trade as [[dedupUpdate]]). Unit-tested with
    * TestGroupState; at stream level the composition is readStream ->
    * minhash band signatures -> groupByKey ((band, sig)) ->
    * flatMapGroupsWithState(this). */
  private[graft] def lshBucketUpdate(cap: Int, ttlMs: Long,
      dropCounter: Option[org.apache.spark.util.LongAccumulator] = None)(
      key: (Int, String), rows: Iterator[Long],
      state: GroupState[BucketState]): Iterator[(Long, Long)] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val st = state.getOption.getOrElse(BucketState(Seq.empty))
      var members = st.members
      var degenerate = st.degenerate
      val out = Seq.newBuilder[(Long, Long)]
      if (!degenerate) {
        rows.toSeq.sorted.foreach { id =>
          if (!degenerate && !members.contains(id)) {
            if (members.length >= cap) {
              degenerate = true
              members = Seq.empty
              // retract this invocation's pairs: the bucket is oversized,
              // and none of them left this function yet
              out.clear()
              dropCounter.foreach(_.add(1))
            } else {
              members.foreach { m =>
                out += (if (m < id) (m, id) else (id, m))
              }
              members :+= id
            }
          }
        }
      }
      state.update(BucketState(members, degenerate))
      if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
      out.result().iterator
    }
  }

  /** Streaming LSH near-dup candidates: per-micro-batch minhash band
    * signatures (the q33 arithmetic — one md5 array, band i = array_min of
    * substring i), then the capped stateful bucket transition
    * [[lshBucketUpdate]] keyed by (band, sig). Candidate pairs accumulate
    * across the whole stream with per-bucket state bounded by `cap`
    * (oversized buckets flip degenerate and go silent — batch cap parity,
    * see [[lshBucketUpdate]]); a downstream exact-Jaccard refine consumes
    * the pairs exactly like q37's batch path. */
  def lshCandidateStream(spark: SparkSession, docs: DataFrame, cap: Int = 100,
                         stateTtl: scala.concurrent.duration.Duration =
                           scala.concurrent.duration.Duration.Zero,
                         dropCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import spark.implicits._
    val ttlMs = if (stateTtl.isFinite && stateTtl.toMillis > 0) stateTtl.toMillis else 0L
    val timeout = if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    val sigs = docs
      .withColumn("mh", transform(array_distinct(split(col("text"), " ")), t => md5(t)))
      .select(col("doc_id").cast("long").as("doc_id") +: (0 until 4).map(i =>
        array_min(transform(col("mh"), h => substring(h, i * 8 + 1, 8))).as(s"sig${i + 1}")): _*)
    sigs
      .select(col("doc_id"),
              posexplode(array(col("sig1"), col("sig2"), col("sig3"), col("sig4"))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("sig"))
      .as[(Long, Int, String)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[BucketState, (Long, Long)](OutputMode.Append(), timeout) {
        (key: (Int, String), rows: Iterator[(Long, Int, String)],
         state: GroupState[BucketState]) =>
          lshBucketUpdate(cap, ttlMs, dropCounter)(key, rows.map(_._1), state)
      }
      .toDF("doc_a", "doc_b")
  }

  /** Stateful streaming dedup: the first doc_id seen for a text hash owns
    * it; later arrivals are flagged duplicates. `stateTtl` bounds the state
    * store (hashes idle longer than the TTL are evicted — state must not
    * grow without bound on an endless corpus); Duration.Zero keeps state
    * forever (bounded test corpora). */
  def dedupStream(spark: SparkSession, docs: DataFrame,
                  stateTtl: scala.concurrent.duration.Duration =
                    scala.concurrent.duration.Duration.Zero): DataFrame = {
    import spark.implicits._
    val ttlMs = if (stateTtl.isFinite && stateTtl.toMillis > 0) stateTtl.toMillis else 0L
    val timeout = if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    docs
      .select($"doc_id".cast("long").as("doc_id"), md5($"text").as("text_hash"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .mapGroupsWithState[DedupState, Seq[DedupOut]](timeout)(dedupUpdate(ttlMs))
      .flatMap(identity)
      .toDF()
  }
}
