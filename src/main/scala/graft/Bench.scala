package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

/**
 * Per-round benchmark main (driver contract): runs every SparkEntry query on
 * SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS], prints ONE JSON line.
 *
 * Timing forces full computation through the noop sink (a bare count() lets
 * Spark skip column evaluation via parquet count pushdown / sort elimination
 * — that would flatter every query). The flagship interleaved-docs pipeline
 * (q16 + q17) is additionally reported as docs/sec — the BASELINE.json
 * headline metric (spatial-join + tile-assignment throughput).
 *
 * Warmup: every query runs once at the SMALLEST testdata scale before any
 * measurement, so the measured pass times the PLAN (JIT-compiled, codegen
 * cache warm) rather than first-call classloading — one-shot cold numbers
 * vary 3-5x on codegen-heavy plans and made earlier rounds' BENCH.md
 * irreproducible. Failures are never silent: a failed query records -1 in
 * "queries", lands in "errors" with its exception, and prints a full stack
 * to stderr.
 *
 * SELF-DIAGNOSIS (round 4): three consecutive rounds produced one-shot
 * driver numbers that disagreed with steady-state local runs by 10-30x on a
 * handful of queries, and the bench could not say WHY. Every measured query
 * now records enough telemetry to separate the three candidate causes:
 *
 *  - engine regression  -> task_sec tracks wall (work really grew);
 *  - GC / memory storm  -> gc_sec and task_gc_sec dominate wall, heap near
 *    heap_max (also the motivation for the per-query cache hygiene below);
 *  - host event (thermal throttle / external contention) -> mhz_mean drops
 *    during the query and/or other_cpu_cores shows non-benchmark load.
 *
 * Hygiene: after every query (warmup and measured) the cached-relation map
 * and all persistent RDDs are dropped. Eager localCheckpoints (q65/q70/q76
 * and every fixpoint round) otherwise accumulate MEMORY_AND_DISK blocks for
 * the whole 92-query run — the ContextCleaner only reaps them after a
 * driver GC, which a large-heap one-shot JVM may never run — squeezing
 * execution memory exactly in the checkpoint-heavy query block. A fixed,
 * documented cooldown (SPARK_GRAFT_COOLDOWN_SEC, default 25 s, untimed)
 * separates the warmup pass from the measured pass because sustained
 * all-core load depresses this host's clock for ~20 s afterwards
 * (BENCH.md, measurement-discipline note).
 */
object Bench {

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---------- host probes (Linux; degrade to -1 when unreadable) ----------

  private def readProc(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)))) catch { case _: Exception => None }

  /** Mean "cpu MHz" across cores — sampled DURING queries to catch
    * frequency throttling while it happens (idle MHz is meaningless on an
    * ondemand governor). */
  def cpuMhz(): Double = readProc("/proc/cpuinfo").map { s =>
    var sum = 0.0; var n = 0
    s.linesIterator.foreach { l =>
      if (l.startsWith("cpu MHz")) { sum += l.substring(l.indexOf(':') + 1).trim.toDouble; n += 1 }
    }
    if (n == 0) -1.0 else sum / n
  }.getOrElse(-1.0)

  /** Whole-host busy jiffies (user+nice+system+irq+softirq+steal) from the
    * aggregate cpu line of /proc/stat. */
  def hostBusyJiffies(): Long = readProc("/proc/stat").flatMap { s =>
    s.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal ...
      def g(i: Int): Long = if (i < f.length) f(i).toLong else 0L
      g(1) + g(2) + g(3) + g(6) + g(7) + g(8)
    }
  }.getOrElse(-1L)

  /** This process's utime+stime jiffies from /proc/self/stat (fields 14/15,
    * counted after the parenthesized comm which may contain spaces). */
  def procJiffies(): Long = readProc("/proc/self/stat").map { s =>
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong // state is rest(0) -> utime is field 14
  }.getOrElse(-1L)

  private def gcStats(): (Long, Long) = {
    var ms = 0L; var n = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      if (b.getCollectionTime > 0) ms += b.getCollectionTime
      if (b.getCollectionCount > 0) n += b.getCollectionCount
    }
    (ms, n)
  }

  /** Background thread sampling cpu MHz every 200 ms into per-window
    * accumulators, so each query gets the clock distribution observed while
    * it ran (min = deepest throttle seen). */
  private final class MhzSampler extends Thread("graft-mhz-sampler") {
    setDaemon(true)
    private var sum = 0.0; private var min = Double.MaxValue; private var n = 0
    @volatile private var halted = false
    def reset(): Unit = synchronized { sum = 0.0; min = Double.MaxValue; n = 0 }
    /** (mean, min) over the window; (-1,-1) if no sample landed. */
    def window(): (Double, Double) = synchronized {
      if (n == 0) (-1.0, -1.0) else (sum / n, min)
    }
    def shutdown(): Unit = halted = true
    override def run(): Unit = while (!halted) {
      val m = cpuMhz()
      if (m > 0) synchronized { sum += m; min = math.min(min, m); n += 1 }
      Thread.sleep(200)
    }
  }

  /** Drop every cached relation and persistent RDD (localCheckpoint blocks
    * included) so no query's storage lingers into the next measurement. */
  def cleanup(spark: SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case _: Exception => () }
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Exception => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSpark(cpus.toInt)

    // executor-side task accounting (local mode: same JVM, async listener
    // bus — captured a beat after each action returns; tasks of a completed
    // job are posted by then in practice, and a 50 ms grace covers backlog)
    val taskMs = new AtomicLong; val taskGcMs = new AtomicLong; val nTasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          taskGcMs.addAndGet(m.jvmGCTime)
          nTasks.incrementAndGet()
        }
      }
    })
    val sampler = new MhzSampler; sampler.start()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    // JVM/codegen warmup: every query once at the smallest scale (falls back
    // to the bench scale if no sibling sf dir exists). Warmup failures are
    // reported but don't abort — the measured pass decides.
    val warmDir = {
      val small = new java.io.File(sfDir).getParent + "/sf0.001"
      if (new java.io.File(small).isDirectory) small else sfDir
    }
    val warmupSec = time {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try force(fn(spark, warmDir))
        catch { case t: Throwable =>
          System.err.println(s"[bench] warmup $name failed: $t")
        }
        cleanup(spark)
      }
    }

    // cooldown before the measured pass: reap freed blocks now (one full GC
    // here instead of pressure later) and let the host clock recover from
    // the sustained warmup load. Untimed by construction.
    val cooldownSec = sys.env.getOrElse("SPARK_GRAFT_COOLDOWN_SEC", "25").toInt
    val mhzBeforeCooldown = cpuMhz()
    System.gc()
    Thread.sleep(cooldownSec * 1000L)
    val mhzAfterCooldown = cpuMhz()

    case class Tele(gcSec: Double, gcN: Long, heapMb: Long, taskSec: Double,
                    taskGcSec: Double, tasks: Long, procCpuSec: Double,
                    otherCpuSec: Double, mhzMean: Double, mhzMin: Double)
    val telemetry = scala.collection.mutable.LinkedHashMap[String, Tele]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    def measured(name: String)(body: => Unit): Double = {
      val (gc0, gn0) = gcStats()
      val tm0 = taskMs.get(); val tg0 = taskGcMs.get(); val nt0 = nTasks.get()
      val hb0 = hostBusyJiffies(); val pj0 = procJiffies()
      sampler.reset()
      val sec = time(body)
      Thread.sleep(50) // listener-bus grace
      val (gc1, gn1) = gcStats()
      val hb1 = hostBusyJiffies(); val pj1 = procJiffies()
      val (mhzMean, mhzMin) = sampler.window()
      val rt = Runtime.getRuntime
      val procCpu = if (pj0 >= 0 && pj1 >= 0) (pj1 - pj0) / 100.0 else -1.0
      val hostBusy = if (hb0 >= 0 && hb1 >= 0) (hb1 - hb0) / 100.0 else -1.0
      telemetry(name) = Tele(
        gcSec = (gc1 - gc0) / 1000.0, gcN = gn1 - gn0,
        heapMb = (rt.totalMemory - rt.freeMemory) / (1024 * 1024),
        taskSec = (taskMs.get() - tm0) / 1000.0,
        taskGcSec = (taskGcMs.get() - tg0) / 1000.0,
        tasks = nTasks.get() - nt0,
        procCpuSec = procCpu,
        otherCpuSec = if (procCpu >= 0 && hostBusy >= 0) hostBusy - procCpu else -1.0,
        mhzMean = mhzMean, mhzMin = mhzMin)
      sec
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val sec = try measured(name)(force(fn(spark, sfDir))) catch {
        case t: Throwable =>
          errors(name) = t.toString.take(300)
          System.err.println(s"[bench] $name FAILED:")
          t.printStackTrace()
          -1.0
      }
      cleanup(spark)
      name -> sec
    }

    // flagship docs/sec: interleaved docs -> extract -> PIP join + tiles
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val flagshipSec = measured("flagship") {
      force(SparkEntry.queries("q16_docs_pip")(spark, sfDir))
      force(SparkEntry.queries("q17_span_tiles")(spark, sfDir))
    }
    val docsPerSec = if (flagshipSec > 0) nDocs / flagshipSec else 0.0

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def jnum(d: Double): String =
      if (d.isNaN || d.isInfinite) "-1"
      // Locale.ROOT: the f-interpolator is locale-sensitive — a
      // comma-decimal locale would emit invalid JSON
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val teleJson = telemetry.map { case (k, t) =>
      jstr(k) + ":{" +
        s""""gc_sec":${jnum(t.gcSec)},"gc_n":${t.gcN},"heap_mb":${t.heapMb},""" +
        s""""task_sec":${jnum(t.taskSec)},"task_gc_sec":${jnum(t.taskGcSec)},"tasks":${t.tasks},""" +
        s""""proc_cpu_sec":${jnum(t.procCpuSec)},"other_cpu_sec":${jnum(t.otherCpuSec)},""" +
        s""""mhz_mean":${jnum(t.mhzMean)},"mhz_min":${jnum(t.mhzMin)}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val heapMaxMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val fullRecord =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,""" +
      s""""sf":"$sfDir","flagship_docs_per_sec":$docsPerSec,"flagship_sec":$flagshipSec,""" +
      s""""n_docs":$nDocs,"cpus":$cpus,"warmup_dir":"$warmDir","warmup_sec":${jnum(warmupSec)},""" +
      s""""heap_max_mb":$heapMaxMb,"cooldown_sec":$cooldownSec,""" +
      s""""mhz_before_cooldown":${jnum(mhzBeforeCooldown)},"mhz_after_cooldown":${jnum(mhzAfterCooldown)},""" +
      s""""telemetry":$teleJson}"""
    // Full record: persisted to a file AND printed, because the driver's
    // stdout capture keeps only the last 2000 characters — round 4's
    // telemetry evicted the per-query wall dict from that window, leaving
    // BENCH_r04.json with parsed:null (VERDICT r4, "Next round #1").
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "/tmp/graft_bench_full.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(fullPath),
      (fullRecord + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[bench] full-record write failed: $e") }
    println(fullRecord)
    // Compact FINAL line, guaranteed to fit (and parse) inside a 2000-char
    // tail: per-query walls under short keys (the qNN prefix of the full
    // name — unique by construction), 2-decimal seconds, no telemetry.
    // This line is the driver-facing record; the full record (exact names,
    // 3-decimal walls, telemetry) lives at full_record.
    def shortKey(k: String): String = {
      val i = k.indexOf('_'); if (k.startsWith("q") && i > 0) k.substring(0, i) else k
    }
    def j2(d: Double): String =
      if (d.isNaN || d.isInfinite) "-1"
      else String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    def compactLine(walls: Seq[(String, Double)], omitted: Int): String = {
      val w = walls.map { case (k, v) => jstr(shortKey(k)) + ":" + j2(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${j2(total)},"unit":"sec","n_queries":${results.size},""" +
      s""""n_errors":${errors.size},"sf":"$sfDir","cpus":$cpus,""" +
      s""""flagship_docs_per_sec":${j2(docsPerSec)},"flagship_sec":${j2(flagshipSec)},""" +
      s""""full_record":${jstr(fullPath)},""" +
      (if (omitted > 0) s""""queries_omitted":$omitted,""" else "") +
      s""""queries":$w}"""
    }
    // the guarantee is ENFORCED, not asserted: if the full per-query dict
    // would push the line past the capture window (2000 chars), keep only
    // the slowest walls that fit and say how many were omitted — the full
    // dict always lives in full_record. Without this, ~20 more queries
    // would silently reproduce the round-4 parsed:null failure.
    val allWalls = results :+ ("flagship" -> flagshipSec)
    val full = compactLine(allWalls, 0)
    println(
      if (full.length <= 1900) full
      else {
        val bySlow = allWalls.sortBy(-_._2)
        var keep = bySlow.length
        var line = full
        while (line.length > 1900 && keep > 10) {
          keep = math.min(keep - 10, (keep * 1900) / line.length)
          line = compactLine(bySlow.take(keep), allWalls.length - keep)
        }
        line
      })
    sampler.shutdown()
    spark.stop()
  }
}
