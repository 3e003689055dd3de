package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Tables

/** The input-table catalog: declared == inferred on the test data, a
  * differing file is a typed error (never null rows), the widen gate's
  * listing-based partition count is Spark's own, and building a query
  * frame starts no Spark job. */
class TablesSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private val testdata = "/root/testdata"
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdata/$sf")
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_tables").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  /** `df` written as `<fresh dir>/<table>.parquet` (a directory of part
    * files, as Spark writes it); returns the fresh dir. */
  private def written(df: DataFrame, table: String, parts: Int = 1): String = {
    val d = freshDir()
    df.repartition(parts).write.parquet(Tables.path(d, table))
    d
  }

  private def listed(dir: String, table: String): Int =
    Tables.scanPartitions(spark, Tables.dataFiles(spark, Tables.path(dir, table)))

  private def planned(dir: String, table: String): Int =
    spark.read.schema(Tables.declared(table)).parquet(Tables.path(dir, table)).rdd.getNumPartitions

  test("declared schema == inferred schema for every table at sf0.001, sf0.01, sf0.1") {
    assert(Tables.declared.keySet == tables.toSet)
    for (d <- sfDirs; t <- tables) {
      val inferred = spark.read.parquet(Tables.path(d, t)).schema
      assert(Tables.declared(t) == inferred, s"$d $t")
      assert(Tables.read(spark, d, t).schema == inferred, s"$d $t")
    }
  }

  test("a file that differs from the declared schema is a SchemaMismatch, never null rows") {
    val src = s"$testdata/sf0.001"
    val docs = Tables.read(spark, src, "documents")
    val bad = Seq(
      "missing column" -> ("documents", written(docs.drop("n_chars"), "documents")),
      "renamed column" -> ("documents", written(docs.withColumnRenamed("doc_id", "id"), "documents")),
      "long read as int" -> ("documents", written(docs.withColumn("n_chars", col("n_chars").cast("int")), "documents")),
      "int read as long" -> ("nation",
        written(Tables.read(spark, src, "nation").withColumn("n_nationkey", col("n_nationkey").cast("long")), "nation")),
      "UTC-adjusted timestamp" -> ("events", {
        // TIMESTAMP(isAdjustedToUTC=true): the LTZ type, not the declared NTZ
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try written(Tables.read(spark, src, "events").withColumn("ts", col("ts").cast("timestamp")), "events")
        finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }))
    // the hazard the guard closes: a declared read of a file without the
    // column silently yields nulls
    val (_, (_, missing)) = bad.head
    assert(spark.read.schema(Tables.declared("documents")).parquet(Tables.path(missing, "documents"))
      .filter(col("n_chars").isNull).count() == docs.count())
    bad.foreach { case (what, (t, d)) =>
      val e = intercept[Tables.SchemaMismatch](Tables.read(spark, d, t))
      assert(e.table == t && e.declared == Tables.declared(t), what)
      intercept[Tables.SchemaMismatch](Tables.wide(spark, d, t))
      intercept[Tables.SchemaMismatch](Tables.schema(spark, d, t))
    }
    // nullability is not part of the check: tuple columns are written as
    // required fields, and the read-back equals the source
    val tuples = Seq((1L, "a b", "en", "s", 3L), (2L, "c", "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ok = written(tuples, "documents", parts = 2)
    assert(Tables.read(spark, ok, "documents").as[(Long, String, String, String, Long)]
      .collect().toSet == tuples.as[(Long, String, String, String, Long)].collect().toSet)
  }

  test("listing split count == planned scan partitions, both sides of the widen gate") {
    val p = spark.sparkContext.defaultParallelism
    for (d <- sfDirs; t <- tables) assert(listed(d, t) == planned(d, t), s"$d $t")
    // one file Spark splits: lineitem at sf0.1 is one ~11 MB file
    val li = s"$testdata/sf0.1"
    assert(Tables.dataFiles(spark, Tables.path(li, "lineitem")).size == 1)
    assert(listed(li, "lineitem") > 1 && listed(li, "lineitem") == planned(li, "lineitem"))
    def repartitions(df: DataFrame) = df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.size
    val sf001 = s"$testdata/sf0.01"
    assert(listed(sf001, "documents") < p)
    assert(repartitions(Tables.wide(spark, sf001, "documents")) == 1)
    // at least defaultParallelism part files: at the default 4 MB open cost
    // Spark packs these small files into fewer partitions than files
    val manyFiles = written(Tables.read(spark, sf001, "documents"), "documents", parts = p + 2)
    assert(Tables.dataFiles(spark, Tables.path(manyFiles, "documents")).size == p + 2)
    assert(listed(manyFiles, "documents") == planned(manyFiles, "documents"))
    // ... and at a 1-byte open cost every file is its own partition: the
    // no-op branch of the gate
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try {
      assert(listed(manyFiles, "documents") == p + 2)
      assert(planned(manyFiles, "documents") == p + 2)
      assert(repartitions(Tables.wide(spark, manyFiles, "documents")) == 0)
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
    // the rule follows the session's split settings
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try {
      assert(listed(sf001, "documents") > p)
      assert(listed(sf001, "documents") == planned(sf001, "documents"))
      assert(repartitions(Tables.wide(spark, sf001, "documents")) == 0)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("building the suite's table-reading query frames starts no Spark job") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      val dir = s"$testdata/sf0.001"
      // control: an inferred read's footer job is seen under its group
      sc.setJobGroup("inferred", "inferred read")
      try spark.read.parquet(Tables.path(dir, "orders")) finally sc.clearJobGroup()
      Seq("q04_top100_orders", "q10_tile_assign", "q16_docs_pip", "q17_span_tiles",
          "q33_minhash_sigs", "q41_lsh_buckets", "q51_frame_sample", "q93_wcs_time_domain")
        .foreach { q =>
          sc.setJobGroup(q, s"build $q")
          try SparkEntry.queries(q)(spark, dir) finally sc.clearJobGroup()
        }
      // listener events arrive in order: once the marker job is seen, every
      // job the builds started has been seen too
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("marker"))
      assert(started.contains("inferred"))
      val builds = started.toArray.toSeq.filter(g => g != null && g != "marker" && g != "inferred")
      assert(builds.isEmpty, s"build jobs: ${builds.groupBy(identity).map(kv => kv._1 -> kv._2.size)}")
    } finally sc.removeSparkListener(listener)
  }
}
