package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Geo
import graft.functions.GraftFunctions
import graft.operators.SpatialJoin

/**
 * Two-cluster-size scaling evidence (BASELINE.json north rule: throughput
 * scaling efficiency >= 0.8 between N and 4N executors; no real cluster in
 * this sandbox, so the same job runs at local[8] and local[32] on the same
 * input — BASELINE.md documents this restatement).
 *
 * The job is the flagship operator chain, compute-bound and shuffle-light by
 * design (the shape that must scale at 10^12 docs): synthesize N doc points
 * (deterministic, no I/O bottleneck), Z-order cell-encode (codegen'd
 * expression), broadcast cell-cover PIP join against 400 dense 16-vertex
 * zones, winding refine, assign D2_XY tiles, aggregate per (zone, tile).
 * One wide stage (the tiny final agg); the join itself is map-side
 * (broadcast), so wall-clock ~ 1/cores. Measured results in BENCH.md.
 *
 * Run: sbt "runMain graft.tools.ScalingBench [nDocs]"   (default 20M)
 * Env: SCALE_N_SMALL / SCALE_N_BIG pick the two parallelism levels
 * (default 8/32; BENCH.md uses 4/16 where the host's frequency-throttle
 * ceiling doesn't mask engine behavior).
 */
object ScalingBench {

  /** 400 deterministic 16-vertex convex zones on a 20x20 grid over the
    * canonical bbox, radii sized so a typical point falls in several zones —
    * the realistic dense-PIP regime where the winding refine (not row
    * streaming) dominates. A bandwidth-bound toy join would misreport
    * scaling: this host's memory bus saturates near 8 cores while its 32
    * hardware threads give ~3.2x more compute. */
  private def zones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val spanX = Geo.maxX - Geo.minX; val spanY = Geo.maxY - Geo.minY
    val rows = (0 until 400).map { k =>
      val cx = Geo.minX + (k % 20 + 0.5) / 20.0 * spanX
      val cy = Geo.minY + (k / 20 + 0.5) / 20.0 * spanY
      val rx = 0.15 + (k % 7) * 0.04
      val ry = 0.12 + (k % 5) * 0.04
      val ring = (0 until 32).flatMap { i =>
        val a = 2 * math.Pi * i / 32
        Seq(cx + rx * math.cos(a), cy + ry * math.sin(a))
      }
      (k.toLong, ring)
    }
    rows.toDF("zone_id", "ring")
  }

  private def pipeline(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val pts = spark.range(0, n)
      .select($"id".as("doc_id"),
              Geo.lonCol($"id").as("lon"), Geo.latCol($"id").as("lat"))
    SpatialJoin.pointsInZones(pts, zones(spark), level = 12)
      .withColumn("cx", floor(($"lon" - lit(Geo.minX)) / ((lit(Geo.maxX) - lit(Geo.minX)) / 934.0)).cast("long"))
      .withColumn("cy", floor(($"lat" - lit(Geo.minY)) / ((lit(Geo.maxY) - lit(Geo.minY)) / 631.0)).cast("long"))
      .withColumn("tile_id", (floor($"cx" / 64.0) * 100 + floor($"cy" / 64.0)).cast("long"))
      .groupBy($"zone_id", $"tile_id")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Second scaling workload (SCALE_WORKLOAD=lsh): the q42 embedding
    * near-dup shape — deterministic synthetic 64-d vectors, 3 x 16-plane
    * native hyperplane signatures, capped bucket self-join, exact-cosine
    * refine. Bucket-joined by construction (no all-pairs stage); the per-
    * pair 64-element dot keeps it compute-bound like real refine work. */
  def lshPipeline(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val emb = spark.range(0, n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        d => sin(($"id" % 100000 + 1) * (d + 7) * 0.0137)).as("v"))
    val sigs = emb.select($"vec_id",
        posexplode(array((0 until 3).map(t =>
          GraftFunctions.hyperplane_bucket($"v", lit(t), lit(16))): _*)))
      .select($"vec_id", $"pos".as("t"), $"col".as("bucket"))
      .localCheckpoint(true) // computed once, not per self-join side (as in q42)
    val cand = graft.operators.BucketedSelfJoin
      .pairs(sigs, Seq("t", "bucket"), "vec_id", cap = 200, "scaling")
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    // refine payload is float32 + precomputed norm: halves the bytes the
    // candidate joins shuffle (the TileBuffer narrowing argument applied to
    // embeddings — refine only needs float precision)
    val slim = emb.select($"vec_id", $"v".cast("array<float>").as("vf"),
                          sqrt(dot($"v", $"v")).cast("float").as("vn"))
    cand
      .join(slim.select($"vec_id".as("doc_a"), $"vf".as("va"), $"vn".as("na")), "doc_a")
      .join(slim.select($"vec_id".as("doc_b"), $"vf".as("vb"), $"vn".as("nb")), "doc_b")
      .filter(aggregate(zip_with($"va", $"vb", (x, y) => x * y), lit(0.0f), (acc, x) => acc + x)
        / ($"na" * $"nb") >= 0.9f)
      .select($"doc_a", $"doc_b")
  }

  private def workload(spark: SparkSession, n: Long): DataFrame =
    if (sys.env.getOrElse("SCALE_WORKLOAD", "pip") == "lsh") lshPipeline(spark, n)
    else pipeline(spark, n)

  def runAt(cores: Int, n: Long): (Double, Long) = {
    val spark = graft.LocalSpark(cores)
    GraftFunctions.register(spark)
    // warmup (JIT + codegen) on 10% of the load, then min-of-3 timed runs
    // (JIT compilation noise on a shared host otherwise dominates)
    workload(spark, n / 10).write.format("noop").mode("overwrite").save()
    var rows = 0L
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      rows = workload(spark, n).count()
      (System.nanoTime() - t0) / 1e9
    }
    spark.stop()
    System.out.println(s"TIMES $cores ${times.mkString(",")}")
    (times.min, rows)
  }

  /** Each parallelism level runs in its own forked JVM: a second
    * SparkContext in one JVM measures ~4x slower regardless of cores
    * (observed on this host), which would corrupt the comparison. */
  private def runForked(cores: Int, n: Long): (Double, Long) = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a => a.startsWith("--add-opens") || a.startsWith("-Xmx"))
    val cmd = (Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Dspark.ui.enabled=false", "-cp", System.getProperty("java.class.path"),
          "graft.tools.ScalingBench", "--single", cores.toString, n.toString))
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(false).start()
    val out = new String(p.getInputStream.readAllBytes())
    p.waitFor()
    out.linesIterator.filter(_.startsWith("TIMES")).foreach(l => System.err.println(l))
    val line = out.linesIterator.find(_.startsWith("SINGLE ")).getOrElse(
      sys.error(s"child produced no result (cores=$cores): $out"))
    val Array(_, sec, rows) = line.split(" ")
    (sec.toDouble, rows.toLong)
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 3 && args(0) == "--single") {
      val (sec, rows) = runAt(args(1).toInt, args(2).toLong)
      println(s"SINGLE $sec $rows")
      return
    }
    val n = if (args.nonEmpty) args(0).toLong else 20000000L
    val small = sys.env.getOrElse("SCALE_N_SMALL", "8").toInt
    val big = sys.env.getOrElse("SCALE_N_BIG", "32").toInt
    val (tSmall, rowsSmall) = runForked(small, n)
    val (tBig, rowsBig) = runForked(big, n)
    require(rowsSmall == rowsBig, s"nondeterminism: $rowsSmall vs $rowsBig result rows")
    val thrSmall = n / tSmall
    val thrBig = n / tBig
    val efficiency = (thrBig / thrSmall) / (big.toDouble / small)
    println(
      s"""{"metric":"scaling","n_docs":$n,"result_rows":$rowsSmall,""" +
      s""""cores_small":$small,"cores_big":$big,"t_small_sec":$tSmall,"t_big_sec":$tBig,""" +
      s""""docs_per_sec_small":$thrSmall,"docs_per_sec_big":$thrBig,""" +
      s""""speedup":${tSmall / tBig},"scaling_efficiency":$efficiency}""")
  }
}
