package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.api.Geo
import graft.extract.InterleavedDocs
import graft.functions.GraftFunctions
import graft.lineage.TileLineage
import graft.model.{Raster, TileGeometry}
import graft.operators.SpatialJoin
import graft.raster.{CogFile, Crs, Focal, Mosaic, Resample}
import graft.sources.{GeoTiff, StacIngest}

/**
 * Closed-loop benchmark harness: one driver thread submits the next op only
 * after the previous one completes, on local[cores].
 *
 * Phases of one run: set-up (session, fixture staging, one untimed warm-up
 * pass), timed passes until `seconds` have elapsed
 * (whole passes only), then untimed output checks. With --trace 1 the same
 * passes run a second time under listeners that record spans, and the layer
 * probes run. Writes one JSON record to `<out>/result.json`; run.py turns it
 * into metrics.
 *
 * Lives under org.apache.spark only to drain the listener bus
 * (`listenerBus.waitUntilEmpty`) before reading per-op listener totals.
 */
object PerfBench {

  final case class Op(name: String, module: String, body: Ctx => Unit)

  /** Per-op execution context: `span` times a child region in traced runs. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer, val checkDir: Option[String] = None) {
    def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SpatialJoin.clearPlanCache(spark)
  }

  // ---------------------------------------------------------------- tracing

  final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, var endNs: Long,
                        startMs: Long, var endMs: Long)

  final class Tracer(val enabled: Boolean) {
    val spans = ArrayBuffer[Span]()
    private var stack: List[Int] = Nil
    @volatile var op: Int = -1
    def span[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val s = Span(spans.length, name, stack.headOption.getOrElse(-1), op, System.nanoTime(), 0L,
          System.currentTimeMillis(), 0L)
        spans += s
        stack = s.id :: stack
        try body finally { s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis(); stack = stack.tail }
      }
  }

  final case class Job(op: Int, startMs: Long, var endMs: Long)

  /** Job, task and Catalyst-phase records keyed by op id: jobs and tasks by
    * the graftbench.op local property, Catalyst phases by the op window that
    * holds the first phase's start. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    final class Acc {
      var taskMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
      val stageTasks = mutable.Map[Int, ArrayBuffer[Long]]()
    }
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageOp = new ConcurrentHashMap[Int, Int]()
    val accs = new ConcurrentHashMap[Int, Acc]()
    val phases = new ConcurrentHashMap[Int, Array[Double]]() // op -> analysis, optimization, planning (s)
    /** (op, start ms, end ms) per op; opened before the op body runs, so
      * events of actions inside the body find their op whenever they arrive. */
    @volatile private var opWindows: Vector[(Int, Long, Long)] = Vector.empty
    def openOp(op: Int, startMs: Long): Unit = synchronized { opWindows :+= ((op, startMs, Long.MaxValue)) }
    def closeOp(op: Int, endMs: Long): Unit = synchronized {
      opWindows = opWindows.map { case (o, s, e) => if (o == op) (o, s, endMs) else (o, s, e) }
    }

    private def opOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty("graftbench.op"))).map(_.toInt).getOrElse(-1)
    private def acc(op: Int): Acc = accs.computeIfAbsent(op, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobs.put(e.jobId, Job(op, e.time, -1L))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(stageOp.getOrDefault(e.stageId, -1))
        a.synchronized {
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += e.taskInfo.duration
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      val op = opWindows.find { case (_, s, e) => start >= s && start <= e }.map(_._1).getOrElse(-1)
      val arr = phases.computeIfAbsent(op, _ => new Array[Double](3))
      arr.synchronized {
        Seq("analysis", "optimization", "planning").zipWithIndex.foreach { case (k, i) =>
          ph.get(k).foreach(p => arr(i) += (p.endTimeMs - p.startTimeMs) / 1000.0)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // ------------------------------------------------------------ host probes

  private def readProc(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
    catch { case _: Exception => None }

  def hostBusyJiffies(): Long = readProc("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
    .map { l => val f = l.trim.split("\\s+").map(x => scala.util.Try(x.toLong).getOrElse(0L))
      f(1) + f(2) + f(3) + f(6) + f(7) + f(8) }.getOrElse(0L)

  def procJiffies(): Long = readProc("/proc/self/stat").map { s =>
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong
  }.getOrElse(0L)

  def vmHwmMb(): Double = readProc("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM")))
    .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def cpuMhzMin(): Double = readProc("/proc/cpuinfo").map(_.linesIterator
    .filter(_.startsWith("cpu MHz")).map(l => l.substring(l.indexOf(':') + 1).trim.toDouble)
    .minOption.getOrElse(0.0)).getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Fixed single-thread CPU spin: the host-speed calibration. */
  def calibSpin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  // -------------------------------------------------------------- workloads

  /** The suite slice: the flagship chain (q16 + q17) plus the cheapest
    * query of every other module, so one pass covers all nine modules and a
    * run times several passes. */
  val SuiteOps: Seq[String] = Seq(
    "q04_top100_orders", "q10_tile_assign", "q16_docs_pip", "q17_span_tiles",
    "q24_resample_nearest", "q33_minhash_sigs", "q41_lsh_buckets",
    "q51_frame_sample", "q79_flow_direction", "q93_wcs_time_domain")

  /** The fixpoint queries, timed once each (first call, so JIT-cold) in
    * traced suite runs: too slow for every pass of a bounded run. */
  val CarriedOps: Seq[String] = Seq(
    "q18_lineage_tiles", "q70_stac_traversal", "q76_neardup_clusters", "q80_flow_accumulation")

  def moduleOf(q: String): String = {
    def in(m: Map[String, _]) = m.contains(q)
    import graft.api._
    if (in(RelationalQueries.queries)) "RelationalQueries"
    else if (in(SpatialQueries.queries)) "SpatialQueries"
    else if (in(RasterQueries.queries)) "RasterQueries"
    else if (in(TextQueries.queries)) "TextQueries"
    else if (in(AnnQueries.queries)) "AnnQueries"
    else if (in(DocQueries.queries)) "DocQueries"
    else if (in(MediaQueries.queries)) "MediaQueries"
    else if (in(TerrainQueries.queries)) "TerrainQueries"
    else "SourceQueries"
  }

  def queryOp(q: String, dir: String): Op = {
    val fn = SparkEntry.queries(q)
    Op(q, moduleOf(q), ctx => {
      val df = ctx.span("build")(fn(ctx.spark, dir))
      ctx.checkDir match {
        case Some(d) => df.write.mode("overwrite").parquet(s"$d/$q")
        case None => ctx.span("force")(force(df))
      }
    })
  }

  /** Seeded raster_mosaic inputs: overlapping tiled GeoTIFF items on a fixed
    * 4-column layout that covers the region, so every seed does the same
    * amount of work; the seed sets cell values, timestamps and a small origin
    * jitter (never across a target-tile boundary). Every 4th item is
    * georeferenced in UTM zone 18N over the same footprint. */
  final class MosaicInputs(seed: Long, val nItems: Int, val itemPx: Int, val regionW: Int, val regionH: Int) {
    val region = TileGeometry(regionW, regionH, -76.0, -73.0, 2.0, 4.0, 4326, 0L, 0L)
    val maxCells = 250000L
    private val rnd = new java.util.Random(seed * 7919L + 17L)
    val items: Seq[Raster] = (0 until nItems).map { k =>
      val w = itemPx; val h = itemPx
      val phase = rnd.nextDouble() * 6.28
      val vals = (0 until 2).map { b =>
        Array.tabulate(w * h) { i =>
          val x = i / h; val y = i % h
          val v = 500.0 + 300.0 * math.sin(phase + x * 0.021 + b) * math.cos(y * 0.017) + rnd.nextGaussian()
          if ((i + k) % 211 == 0) Double.NaN else v.toFloat.toDouble
        }
      }
      val x0 = -76.05 + (k % 4) * 0.72 + (rnd.nextDouble() - 0.5) * 0.04
      val y0 = 1.95 + (k / 4 % 3) * 0.62 + (rnd.nextDouble() - 0.5) * 0.04
      val ts = 1000L + rnd.nextInt(1000)
      if (k % 4 != 3) Raster(f"item-$k%03d", ts, w, h, x0, x0 + 0.9, y0, y0 + 0.9, 4326, vals)
      else {
        val (ux0, ux1, uy0, uy1) = Crs.transformEnvelope(4326, 32618, x0, x0 + 0.9, y0, y0 + 0.9)
        Raster(f"item-$k%03d", ts, w, h, ux0, ux1, uy0, uy1, 32618, vals)
      }
    }
    /** LZW and DEFLATE alternate; 32-bit float, 64x64 internal tiles. */
    val files: Seq[CogFile] = items.zipWithIndex.map { case (r, k) =>
      CogFile(r.item_id, r.ts, GeoTiff.encode(r, bits = 32, tile = Some((64, 64)),
        lzw = k % 2 == 0, deflate = k % 2 == 1))
    }
    val inputBytes: Long = files.map(_.bytes.length.toLong).sum
    /** (name, mode, kernel, cog): cog = Mosaic.mergeToTilesCog on the files,
      * else Mosaic.mergeToTiles over items GeoTiff.parse-decoded in the op.
      * The COG path runs the nearest kernel only: with bilinear or bicubic
      * its output differs from the full-decode mosaic in the last bits on
      * these inputs (see cogInterpDrift). */
    val variants: Seq[(String, Mosaic.MergeMode, Resample.Kernel, Boolean)] = Seq(
      ("cog_substitute_nearest", Mosaic.Substitute, Resample.Nearest, true),
      ("cog_sum_nearest", Mosaic.Sum, Resample.Nearest, true),
      ("decoded_substitute_bilinear", Mosaic.Substitute, Resample.Bilinear, false),
      ("decoded_sum_bicubic", Mosaic.Sum, Resample.Bicubic, false))
    val nTiles: Int = Mosaic.splitTiles(region, maxCells).length
    /** Cells produced per pass: every mosaic variant plus the slope grid. */
    val cellsPerPass: Long = (variants.length + 1).toLong * region.cells
  }

  def mosaicOps(m: MosaicInputs, state: mutable.Map[String, Any]): Seq[Op] = {
    def files(s: SparkSession): Dataset[CogFile] = { import s.implicits._; s.createDataset(m.files) }
    def decoded(s: SparkSession): Dataset[Raster] = {
      import s.implicits._
      files(s).map(f => GeoTiff.parse(f.bytes, f.item_id, f.ts))
    }
    val merges = m.variants.map { case (name, mode, kernel, cog) =>
      Op(s"mosaic_$name", "Mosaic", ctx => {
        val ds = ctx.span("build") {
          if (cog) Mosaic.mergeToTilesCog(files(ctx.spark), m.region, mode, kernel, m.maxCells)
          else Mosaic.mergeToTiles(decoded(ctx.spark), m.region, mode, kernel, m.maxCells)
        }
        if (ctx.checkDir.isDefined) state(s"check_$name") = ds.collect().sortBy(_.item_id)
        if (name == "decoded_substitute_bilinear")
          state("tiles") = ctx.span("collect")(ds.collect().sortBy(_.item_id))
        else ctx.span("force")(force(ds.toDF()))
      })
    }
    val slope = Op("focal_slope", "Focal", ctx => {
      import ctx.spark.implicits._
      val tiles = state("tiles").asInstanceOf[Array[Raster]]
      val out = ctx.span("build")(Focal.slope(ctx.spark.createDataset(tiles.toSeq), m.region, m.maxCells))
      state("slope") = ctx.span("collect")(out.collect().sortBy(_.item_id))
    })
    val encodes = (0 until m.nTiles).map { t =>
      Op(f"encode_tile_$t%02d", "GeoTiff", ctx => {
        val tile = state("slope").asInstanceOf[Array[Raster]](t)
        state(s"enc$t") = GeoTiff.encode(tile, bits = 64, tile = Some((64, 64)),
          lzw = t % 2 == 0, deflate = t % 2 == 1)
      })
    }
    merges ++ Seq(slope) ++ encodes
  }

  // ----------------------------------------------------------------- checks

  /** raster_mosaic checks, on the outputs collected in the warm-up pass:
    *  - a COG-window mosaic == the mosaic of the fully decoded items (the
    *    CogMosaicSpec invariant), bit for bit;
    *  - a decoded-item mosaic split into tiles == the same mosaic computed as
    *    one tile (region-anchored sampling: split size never changes values);
    *  - parse(encode(tile)) bit-identical for every tile encoded in the last
    *    timed pass. */
  def rasterChecks(spark: SparkSession, m: MosaicInputs, state: mutable.Map[String, Any]): Seq[(String, String)] = {
    import spark.implicits._
    def same(a: Array[Raster], b: Array[Raster]): Option[String] = {
      if (a.length != b.length) return Some(s"tiles ${a.length} != ${b.length}")
      a.zip(b).collectFirst(Function.unlift { case (x, y) =>
        if (x.item_id != y.item_id || x.width != y.width || x.height != y.height) Some(s"${x.item_id} shape")
        else x.bands.zip(y.bands).zipWithIndex.collectFirst(Function.unlift { case ((p, q), b) =>
          p.indices.find(i => !(p(i) == q(i) || (p(i).isNaN && q(i).isNaN)))
            .map(i => s"${x.item_id} band $b cell $i: ${p(i)} vs ${q(i)}")
        })
      })
    }
    val decoded = spark.createDataset(m.files.map(f => GeoTiff.parse(f.bytes, f.item_id, f.ts)))
    // whole region as one tile, cut into the op's tiles
    val oneTile = m.region.width.toLong * m.region.width max m.region.height.toLong * m.region.height
    val tileAt = Mosaic.splitTilesWithOffsets(m.region, m.maxCells)
    def cutWhole(whole: Raster): Array[Raster] = tileAt.zipWithIndex.map { case ((t, x0, y0), i) =>
      Raster(s"tile-$i", 0L, t.width, t.height, t.minX, t.maxX, t.minY, t.maxY, t.epsg,
        whole.bands.map(b => Array.tabulate(t.width * t.height) { c =>
          b((x0 + c / t.height) * m.region.height + y0 + c % t.height)
        }))
    }.toArray.sortBy(_.item_id)
    val out = ArrayBuffer[(String, String)]()
    m.variants.foreach { case (name, mode, kernel, cog) =>
      val got = state(s"check_$name").asInstanceOf[Array[Raster]]
      val want =
        if (cog) Mosaic.mergeToTiles(decoded, m.region, mode, kernel, m.maxCells).collect().sortBy(_.item_id)
        else cutWhole(Mosaic.mergeToTiles(decoded, m.region, mode, kernel, oneTile).collect().head)
      out += s"mosaic_$name" -> same(got, want).getOrElse("")
    }
    val slope = state("slope").asInstanceOf[Array[Raster]]
    slope.indices.foreach { t =>
      val bytes = state(s"enc$t").asInstanceOf[Array[Byte]]
      val back = GeoTiff.parse(bytes, slope(t).item_id, slope(t).ts)
      val err = same(Array(back.copy(ts = slope(t).ts)), Array(slope(t)))
      out += f"encode_tile_$t%02d" -> err.getOrElse("")
    }
    out.toSeq
  }

  /** Known engine defect, reported and not gated: with bilinear or bicubic
    * resampling, Mosaic.mergeToTilesCog differs from Mosaic.mergeToTiles over
    * the fully decoded items in the last bits of some cells when item origins
    * are not exactly representable (a window fragment's origin and cell size
    * are recomputed, which moves the interpolation weights by an ulp). Each
    * decoded-item variant's warm-up output is compared with the COG path on
    * the same mode and kernel: cells that differ, and the largest relative
    * difference. */
  def cogInterpDrift(spark: SparkSession, m: MosaicInputs, state: mutable.Map[String, Any]): Map[String, Double] = {
    import spark.implicits._
    val files = spark.createDataset(m.files)
    m.variants.filter(!_._4).flatMap { case (name, mode, kernel, _) =>
      val cog = Mosaic.mergeToTilesCog(files, m.region, mode, kernel, m.maxCells).collect().sortBy(_.item_id)
      val full = state(s"check_$name").asInstanceOf[Array[Raster]]
      val diffs = cog.zip(full).flatMap { case (a, b) =>
        a.bands.head.zip(b.bands.head).collect {
          case (p, q) if !(p == q || (p.isNaN && q.isNaN)) => math.abs(p - q) / math.max(math.abs(q), 1e-300)
        }
      }
      val k = name.stripPrefix("decoded_")
      Seq(s"cog_$k.cells_differing" -> diffs.length.toDouble,
        s"cog_$k.max_rel_diff" -> (if (diffs.isEmpty) 0.0 else diffs.max))
    }.toMap
  }

  // ---------------------------------------------------------------- probes

  /** Median over `reps` of f(), after one untimed call. */
  def probe(reps: Int)(f: => Double): Double = { f; median((0 until reps).map(_ => f)) }

  def kernelProbes(spark: SparkSession): Map[String, Double] = {
    val n = 500000L
    val base = spark.range(n).select(
      (lit(-75.0) + (col("id") % 1000).cast("double") / 500.0).as("lon"),
      (lit(4.0) + (col("id") % 777).cast("double") / 600.0).as("lat"),
      (col("id") % 97).as("k")).localCheckpoint(true)
    val ring = array(Seq(-75.5, 3.5, -74.0, 3.6, -74.5, 5.0).map(lit): _*)
    val vecs = base.select(col("lon"), col("lat"),
      transform(sequence(lit(0), lit(15)), i => col("lon") * i).as("a"),
      transform(sequence(lit(0), lit(15)), i => col("lat") - i).as("b")).localCheckpoint(true)
    val toks = base.select(
      split(concat_ws(" ", lit("spark"), col("k").cast("string"), lit("join"),
        (col("k") * 7 % 13).cast("string"), lit("scan"), lit("join")), " ").as("toks")).localCheckpoint(true)
    val tset = toks.select(sort_array(array_distinct(col("toks"))).as("tset")).localCheckpoint(true)
    def nsPerRow(df: DataFrame, withK: Seq[org.apache.spark.sql.Column], without: Seq[org.apache.spark.sql.Column]): Double = {
      val rows = df.count().toDouble
      def run(cs: Seq[org.apache.spark.sql.Column]): Double = timed(force(df.select(cs: _*)))._2
      val k = probe(2)(run(withK)); val b = probe(2)(run(without))
      (k - b) * 1e9 / rows
    }
    // cheap kernels run K times per row on shifted inputs; the baseline
    // projects the same shifted inputs
    val K = 8
    def shifted(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      (0 until K).map(i => f(col("lon") + i * 1e-3, col("lat") - i * 1e-3))
    val out = Map(
      "kernel.cell_id_ns_per_row" -> nsPerRow(base,
        shifted((x, y) => GraftFunctions.cell_id(x, y, lit(12))), shifted(_ + _)) / K,
      "kernel.winding_contains_ns_per_row" -> nsPerRow(base,
        shifted((x, y) => GraftFunctions.winding_contains(ring, x, y)), shifted(_ < _)) / K,
      "kernel.dot_d_ns_per_row" -> nsPerRow(vecs,
        Seq(GraftFunctions.dot_d(col("a"), col("b"))), Seq(size(col("a")) + size(col("b")))),
      "kernel.minhash_band_sig_ns_per_row" -> nsPerRow(tset,
        Seq(GraftFunctions.minhash_band_sig(col("tset"), lit(1))), Seq(size(col("tset")))),
      "kernel.simhash16_ns_per_row" -> nsPerRow(toks,
        Seq(GraftFunctions.simhash16(col("toks"))), Seq(size(col("toks")))),
      "kernel.repetition_stats_ns_per_row" -> nsPerRow(toks,
        Seq(GraftFunctions.repetition_stats(col("toks"))), Seq(size(col("toks")))))
    cleanup(spark)
    out
  }

  def sourceProbes(spark: SparkSession, m: MosaicInputs, eventsDir: Option[String]): Map[String, Double] = {
    val sample = m.items.take(2)
    val mb = sample.map(r => r.width.toLong * r.height * r.bands.length * 4).sum / 1e6
    def enc(kind: String) = sample.map(r => GeoTiff.encode(r, bits = 32, tile = Some((64, 64)),
      lzw = kind == "lzw", deflate = kind == "deflate"))
    val decode = Seq("raw", "lzw", "deflate").map { kind =>
      val bytes = enc(kind)
      s"sources.tiff_decode_mb_per_s.$kind" ->
        mb / probe(2)(timed(bytes.foreach(b => GeoTiff.parse(b, "p")))._2)
    }
    val encode = Seq("lzw", "deflate").map { kind =>
      s"sources.tiff_encode_mb_per_s.$kind" -> mb / probe(2)(timed(enc(kind))._2)
    }
    // STAC item JSON in the shape of the q65 input, one item per events row
    val stac = eventsDir.map(d => spark.read.parquet(s"$d/events.parquet").limit(50000))
      .getOrElse(spark.range(50000).select(col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) + col("id") * 26).as("ts")))
      .select(col("event_id").cast("string").as("eid"),
        date_format(col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("dt"),
        (lit(-76.0) + (col("event_id") % 40).cast("double") * 0.05).cast("string").as("x"))
      .select(concat(lit("{\"type\":\"Feature\",\"stac_version\":\"1.0.0\",\"id\":\"item-"), col("eid"),
        lit("\",\"bbox\":["), col("x"), lit(",2.0,"), col("x"), lit(",2.5],\"properties\":{\"datetime\":\""),
        col("dt"), lit("\",\"proj:epsg\":4326},\"assets\":{\"B01\":{\"href\":\"s3://items/item-"), col("eid"),
        lit("/B01.tif\",\"type\":\"image/tiff\",\"eo:bands\":[{\"name\":\"red\"}]}},"),
        lit("\"links\":[{\"rel\":\"self\",\"href\":\"https://cat/items/item-"), col("eid"),
        lit(".json\"}]}")).as("doc")).localCheckpoint(true)
    val rows = stac.count().toDouble
    val parse = rows / probe(2)(timed(force(StacIngest.parseItems(stac, "doc")))._2)
    cleanup(spark)
    (decode ++ encode).toMap + ("sources.stac_parse_rows_per_s" -> parse)
  }

  def rasterProbes(spark: SparkSession, m: MosaicInputs, rec: Recorder, opId: Int): Map[String, Double] = {
    import spark.implicits._
    val files = spark.createDataset(m.files)
    val mosaic = Mosaic.mergeToTilesCog(files, m.region, Mosaic.Substitute, Resample.Bilinear, m.maxCells)
    spark.sparkContext.setLocalProperty("graftbench.op", opId.toString)
    val mosaicS = probe(1)(timed(force(mosaic.toDF()))._2)
    spark.sparkContext.listenerBus.waitUntilEmpty()
    val shuffleMb = Option(rec.accs.get(opId)).map(_.shuffleWrite / 2.0 / 1e6).getOrElse(0.0)
    spark.sparkContext.setLocalProperty("graftbench.op", null)
    val tiles = mosaic.collect()
    val focalS = probe(1)(timed(force(Focal.slope(spark.createDataset(tiles.toSeq), m.region, m.maxCells).toDF()))._2)
    val src = m.items.head
    val target = TileGeometry(400, 400, src.minX, src.maxX, src.minY, src.maxY, 4326, 0L, 0L)
    val resample = Seq("nearest" -> Resample.Nearest, "bilinear" -> Resample.Bilinear,
      "bicubic" -> Resample.Bicubic).map { case (k, kern) =>
      s"raster.resample_ns_per_cell.$k" ->
        probe(5)(timed(Resample.toGrid(src, target, kern))._2) * 1e9 / target.cells
    }
    cleanup(spark)
    Map("raster.mosaic_s" -> mosaicS, "raster.mosaic_shuffle_mb" -> shuffleMb,
      "raster.focal_s" -> focalS) ++ resample
  }

  /** Extract, operator and lineage probes on one documents/nation dir. */
  def docProbes(spark: SparkSession, dir: String, tmp: String, rec: Recorder, opId: Int): Map[String, Double] = {
    import spark.implicits._
    val gp = InterleavedDocs.geoPoints(spark, dir)
    val gpRows = gp.count().toDouble
    val extract = gpRows / probe(1)(timed(force(gp))._2)
    val pts = Geo.docPoints(spark, dir).localCheckpoint(true)
    val zs = Geo.zones(spark, dir).select($"zone_id", $"ring").localCheckpoint(true)
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val k = $"n_nationkey".cast("long")
    val qs = nation.filter($"n_nationkey" < 10)
      .select(k.as("qid"), Geo.zoneCxCol(k).as("qx"), Geo.zoneCyCol(k).as("qy")).localCheckpoint(true)
    val knnPts = pts.select($"doc_id".as("id"), $"lon", $"lat")
    val pip = probe(1)(timed(force(SpatialJoin.pointsInZones(pts, zs, level = 12)))._2)
    val pipAuto = probe(1)(timed(force(SpatialJoin.pointsInZonesAuto(pts, zs, level = 12)))._2)
    val knn = probe(1)(timed(force(SpatialJoin.knnJoin(knnPts, qs, k = 5, level = 12)))._2)
    // wasted candidates: cell-join rows per row kept after winding_contains
    // (the refine is pushed into the join condition, so the executed plan
    // exposes only kept rows; candidates are counted on the same cover)
    val kept = SpatialJoin.pointsInZones(pts, zs, level = 12).count().toDouble
    val candidates = pts.withColumn("cell", GraftFunctions.cell_id($"lon", $"lat", lit(12)))
      .join(broadcast(graft.perfbench.ZoneCells(zs, 12)), "cell").count().toDouble
    // lineage: q18's tiled input, written then resumed
    import Geo._
    val tiled = InterleavedDocs.geoPoints(spark, dir)
      .withColumn("cx", floor(($"lon" - lit(minX)) / ((lit(maxX) - lit(minX)) / 934.0)).cast("long"))
      .withColumn("cy", floor(($"lat" - lit(minY)) / ((lit(maxY) - lit(minY)) / 631.0)).cast("long"))
      .withColumn("tile_id",
        concat(lit("t"), (floor($"cx" / 64.0) * 100 + floor($"cy" / 64.0)).cast("long").cast("string")))
      .select($"doc_id", $"span_idx", $"tile_id").localCheckpoint(true)
    val table = Files.createTempDirectory(Paths.get(tmp), "lineage_probe").toString
    val (first, writeS) = timed(TileLineage.runResumable(spark, tiled, table))
    val (second, resumeS) = timed(TileLineage.runResumable(spark, tiled, table, attempt = 2))
    val bytes = Files.walk(Paths.get(table)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum.toDouble
    cleanup(spark)
    Map("extract.geo_points_rows_per_s" -> extract,
      "operators.pip_s" -> pip, "operators.pip_auto_s" -> pipAuto, "operators.knn_s" -> knn,
      "operators.pip_refine_ratio" -> (if (kept > 0) candidates / kept else 0.0),
      "lineage.write_s" -> writeS, "lineage.resume_s" -> resumeS,
      "lineage.bytes_per_row" -> (if (first.rowsWritten > 0) bytes / first.rowsWritten else 0.0),
      "lineage.resume_tiles_written" -> second.tilesWritten.toDouble)
  }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val data = a("data"); val out = a("out"); val cores = a("cores").toInt
    val tmp = sys.props("java.io.tmpdir")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val calibBefore = calibSpin()
    val state = mutable.Map[String, Any]()
    val inputs = mutable.LinkedHashMap[String, Any]()
    // raster inputs are generated in this JVM; like the Python-side
    // generators this is untimed and excluded from set-up
    val (mosaic, genS) = timed {
      if (workload != "raster_mosaic") null
      else new MosaicInputs(seed, nItems = 12, itemPx = 384, regionW = 1200, regionH = 900)
    }
    if (mosaic != null) {
      inputs("items") = mosaic.nItems
      inputs("item_bytes") = mosaic.inputBytes
      inputs("region_cells") = mosaic.region.cells
      inputs("tiles") = mosaic.nTiles
      inputs("cells_per_pass") = mosaic.cellsPerPass
      inputs("generate_s") = genS
    }
    // ---- set-up: session start, staging, one untimed warm-up pass. It
    // keeps each op's output for the checks (parquet for the DuckDB oracle;
    // collected tiles for the raster invariants).
    val checkDir = s"$out/check"
    val queryChecks = workload != "raster_mosaic"
    val nullTracer = new Tracer(false)
    val spark = SparkSession.builder()
      .master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ops = workload match {
      case "suite_sf01" => SuiteOps.map(queryOp(_, data))
      case "raster_mosaic" => mosaicOps(mosaic, state)
      case other => sys.error(s"unknown workload $other")
    }
    val warm = new Ctx(spark, nullTracer, Some(checkDir))
    ops.foreach(op => op.body(warm))
    cleanup(spark)
    // from JVM (process) start, less input generation and the calibration spin
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS - calibBefore

    // ---- timed closed loop
    val opErrors = ArrayBuffer[String]()
    def passes(tracer: Tracer, rec: Option[Recorder], budget: Double, opBase: Int)
        : (Seq[Double], Seq[(String, String, Double)], Map[String, Double]) = {
      val passWalls = ArrayBuffer[Double](); val opWalls = ArrayBuffer[(String, String, Double)]()
      opErrors.clear()
      val gc0 = gcSeconds(); val hb0 = hostBusyJiffies(); val pj0 = procJiffies()
      val t0 = System.nanoTime()
      var opId = opBase
      var mhzMin = Double.MaxValue
      while ((System.nanoTime() - t0) / 1e9 < budget || passWalls.isEmpty) {
        val p0 = System.nanoTime()
        ops.foreach { op =>
          tracer.op = opId
          spark.sparkContext.setLocalProperty("graftbench.op", opId.toString)
          rec.foreach(_.openOp(opId, System.currentTimeMillis()))
          val (err, w) = timed(tracer.span(op.name) {
            try { op.body(new Ctx(spark, tracer)); "" }
            catch { case t: Throwable => t.printStackTrace(); t.toString.take(300) }
          })
          rec.foreach(_.closeOp(opId, System.currentTimeMillis()))
          opWalls += ((op.name, op.module, w)); opErrors += err
          opId += 1
        }
        spark.sparkContext.setLocalProperty("graftbench.op", null)
        passWalls += (System.nanoTime() - p0) / 1e9
        mhzMin = math.min(mhzMin, cpuMhzMin())
        cleanup(spark)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val pc = (procJiffies() - pj0) / 100.0
      val host = Map("wall_s" -> wall, "gc_s" -> (gcSeconds() - gc0),
        "other_cpu_s" -> math.max(0.0, (hostBusyJiffies() - hb0) / 100.0 - pc), "proc_cpu_s" -> pc,
        "mhz_min" -> (if (mhzMin == Double.MaxValue) 0.0 else mhzMin))
      (passWalls.toSeq, opWalls.toSeq, host)
    }

    val phaseS = mutable.LinkedHashMap[String, Double]("setup_end" -> (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val (passWalls, opWalls, host) = passes(nullTracer, None, seconds, 0)
    phaseS("timed_end") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val untracedErrors = opErrors.toSeq
    val rssPeak = vmHwmMb()

    // ---- traced passes + layer probes
    val layer = mutable.LinkedHashMap[String, Double]()
    val traceSpans = ArrayBuffer[Span]()
    if (trace) {
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val tracer = new Tracer(true)
      val base = 1000000
      // at most 10 s of traced passes keeps a traced run within its time limit
      val (tPass, tOps, tHost) = passes(tracer, Some(rec), math.min(seconds, 10.0), base)
      spark.sparkContext.listenerBus.waitUntilEmpty()
      Thread.sleep(200)
      val nPass = tPass.length.toDouble
      val opIds = (base until base + tOps.length)
      val names = opIds.zip(tOps.map(_._1)).toMap
      val jobsByOp = rec.jobs.values.asScala.filter(j => j.op >= base).groupBy(_.op)
      def union(iv: Seq[(Long, Long)]): Double = {
        var tot = 0L; var curS = -1L; var curE = -1L
        iv.sortBy(_._1).foreach { case (s, e) =>
          if (s > curE) { if (curE > curS) tot += curE - curS; curS = s; curE = e } else curE = math.max(curE, e) }
        if (curE > curS) tot += curE - curS
        tot / 1000.0
      }
      val gapByOp = opIds.zip(tOps.map(_._3)).map { case (id, w) =>
        val iv = jobsByOp.getOrElse(id, Nil).map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs)).toSeq
        id -> math.max(0.0, w - union(iv))
      }.toMap
      val fixpoint = Set("q18", "q70", "q76", "q80")
      def isFix(id: Int) = fixpoint.exists(p => names(id).startsWith(p + "_"))
      val totalWall = tOps.map(_._3).sum
      val ph = opIds.flatMap(i => Option(rec.phases.get(i)))
        .foldLeft(Array(0.0, 0.0, 0.0)) { (s, x) => Array(s(0) + x(0), s(1) + x(1), s(2) + x(2)) }
      val buildS = tracer.spans.filter(s => s.name == "build" && s.op >= base).map(s => (s.endNs - s.startNs) / 1e9).sum
      val accs = opIds.flatMap(i => Option(rec.accs.get(i)))
      val taskS = accs.map(_.taskMs).sum / 1000.0
      val straggler = opIds.flatMap(i => Option(rec.accs.get(i))).map { acc =>
        // slowest stage of the op (largest summed task time): max / median task
        val st = acc.stageTasks.values.maxByOption(_.sum)
        st.map(ts => { val md = median(ts.map(_.toDouble).toSeq); if (md > 0) ts.max / md else 1.0 }).getOrElse(1.0)
      }
      layer ++= Seq(
        "driver.analysis_s" -> ph(0) / nPass, "driver.optimization_s" -> ph(1) / nPass,
        "driver.planning_s" -> ph(2) / nPass, "driver.build_s" -> buildS / nPass,
        "driver.jobs" -> opIds.map(i => jobsByOp.getOrElse(i, Nil).size).sum / nPass,
        "driver.gap_s" -> gapByOp.values.sum / nPass,
        "driver.gap_share" -> (if (totalWall > 0) gapByOp.values.sum / totalWall else 0.0),
        "driver.fixpoint_jobs" -> opIds.filter(isFix).map(i => jobsByOp.getOrElse(i, Nil).size).sum / nPass,
        "driver.fixpoint_gap_s" -> opIds.filter(isFix).map(gapByOp).sum / nPass,
        "exec.task_s" -> taskS / nPass,
        "exec.task_gc_s" -> accs.map(_.gcMs).sum / 1000.0 / nPass,
        "exec.busy_cores" -> taskS / math.max(1e-9, tHost("wall_s")),
        "exec.shuffle_read_mb" -> accs.map(_.shuffleRead).sum / 1e6 / nPass,
        "exec.shuffle_write_mb" -> accs.map(_.shuffleWrite).sum / 1e6 / nPass,
        "exec.spill_mb" -> accs.map(_.spill).sum / 1e6 / nPass,
        "exec.straggler_ratio" -> (if (straggler.isEmpty) 1.0 else straggler.max),
        "trace.overhead" -> (median(tPass) / median(passWalls) - 1.0))
      val modules = Seq("RelationalQueries", "SpatialQueries", "RasterQueries", "TextQueries",
        "AnnQueries", "DocQueries", "MediaQueries", "TerrainQueries", "SourceQueries")
      modules.foreach(m => layer(s"api.${m}_s") = tOps.filter(_._2 == m).map(_._3).sum / nPass)
      // planner jobs: jobs started while an op was still building its plan
      val plannerJobs = tracer.spans.filter(s => s.op >= base && s.name == "build").map { b =>
        jobsByOp.getOrElse(b.op, Nil).count(j => j.startMs >= b.startMs && j.startMs <= b.endMs)
      }
      layer("operators.planner_runs") = plannerJobs.sum / nPass
      traceSpans ++= tracer.spans

      // carried-over queries (suite only): one timed call each
      if (workload == "suite_sf01") {
        val carried = CarriedOps.map(queryOp(_, data))
        val cBase = 5000000
        carried.zipWithIndex.foreach { case (op, i) =>
          spark.sparkContext.setLocalProperty("graftbench.op", (cBase + i).toString)
          val (_, w) = timed(op.body(new Ctx(spark, nullTracer)))
          layer(s"carried.${op.name.takeWhile(_ != '_')}_s") = w
          cleanup(spark)
        }
        spark.sparkContext.setLocalProperty("graftbench.op", null)
        spark.sparkContext.listenerBus.waitUntilEmpty()
        val cj = rec.jobs.values.asScala.filter(j => j.op >= cBase).groupBy(_.op)
        val fixIds = carried.indices.filter(i => fixpoint.exists(p => carried(i).name.startsWith(p + "_")))
        layer("driver.fixpoint_jobs") = layer("driver.fixpoint_jobs") + fixIds.map(i => cj.getOrElse(cBase + i, Nil).size).sum
        layer("driver.fixpoint_gap_s") = layer("driver.fixpoint_gap_s") + fixIds.map { i =>
          val iv = cj.getOrElse(cBase + i, Nil).map(j => (j.startMs, math.max(j.startMs, j.endMs))).toSeq
          math.max(0.0, layer(s"carried.${carried(i).name.takeWhile(_ != '_')}_s") - union(iv))
        }.sum
      }

      // layer probes: generated hotspot docs for extract/operators/lineage;
      // the raster workload's items (or 8 generated items) for sources/raster
      val probeOp = 9000000
      val m = if (mosaic != null) mosaic else new MosaicInputs(seed, nItems = 8, itemPx = 512, regionW = 600, regionH = 400)
      def group(name: String)(body: => Map[String, Double]): Unit = {
        val (r, s) = timed(body); layer ++= r; layer(s"probe_s.$name") = s
      }
      group("docs")(docProbes(spark, a("probe_docs"), tmp, rec, probeOp))
      group("kernel")(kernelProbes(spark))
      group("sources")(sourceProbes(spark, m, if (workload == "suite_sf01") Some(data) else None))
      group("raster")(rasterProbes(spark, m, rec, probeOp + 1))
      layer ++= Seq("host.calib_s" -> calibBefore, "host.other_cpu_s" -> tHost("other_cpu_s"),
        "host.gc_s" -> tHost("gc_s"), "host.mhz_min" -> tHost("mhz_min"))
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }

    phaseS("trace_end") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // ---- untimed output checks
    val checks = ArrayBuffer[(String, String)]()
    if (queryChecks) {
      val oracle = SparkEntry.oracleSql
      writeJson(s"$checkDir/oracle_sql.json", ops.map(o => o.name -> oracle(o.name)).toMap)
    } else checks ++= rasterChecks(spark, mosaic, state)
    phaseS("check_end") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val knownDefects = if (mosaic == null) Map.empty[String, Double] else cogInterpDrift(spark, mosaic, state)
    val calibAfter = calibSpin()
    phaseS("defects_end") = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val opNames = ops.map(_.name)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "pass_s" -> passWalls, "ops" -> opNames,
      "op_s" -> opWalls.map(_._3), "op_names" -> opWalls.map(_._1), "op_errors" -> untracedErrors,
      "rss_peak_mb" -> rssPeak, "phase_s" -> phaseS, "host" -> host,
      "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
      "checks" -> checks.map { case (k, v) => Map("op" -> k, "error" -> v) },
      "inputs" -> inputs, "known_defects" -> knownDefects, "layer" -> layer,
      "spans" -> traceSpans.map(s => Seq(s.id, s.name, s.parent, s.op, s.startNs, s.endNs)))
    writeJson(s"$out/result.json", record)
    spark.stop()
  }
}
