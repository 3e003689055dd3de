package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.GraftFunctions
import graft.index.CellIndex

/**
 * Spatial join operators: cell-cover prefilter equi-join + exact refine.
 *
 * Reference semantics: item-vs-region spatial intersection selection
 * (adapters/stac/StacEngine.java:154-162, StacResource.java:316-321) — the
 * reference pushes the bbox filter to a server; at 10^12-row scale we instead
 * index both sides with hierarchical Z-order cells and equi-join on cell id,
 * then refine exactly (winding-number PIP), so Catalyst plans a standard
 * broadcast/sort-merge hash join whose keys are longs.
 *
 * Scale notes:
 *  - the polygon side is exploded to its cell cover once (N_cells(zone) rows),
 *    the point side computes one codegen'd cell id per row — no theta join;
 *  - a point has exactly one cell at a level, so PIP results need no distinct;
 *  - small polygon sides get a broadcast hint; large ones go sort-merge on the
 *    long key, AQE handles residual skew (salting hook: raise `level` so hot
 *    cells split — the hierarchical index is its own salt).
 */
object SpatialJoin {

  /** UDF: flat-ring triangle/polygon -> cell cover at a level (bbox cells
    * refined by JTS intersects). Runs once per polygon, not per row.
    * private[graft] so probes/benchmarks measure THIS kernel, not a copy. */
  private[graft] val coverRingUdf = udf { (ring: Seq[Double], level: Int) =>
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val n = ring.length / 2
    val coords = new Array[org.locationtech.jts.geom.Coordinate](n + 1)
    var i = 0
    while (i < n) {
      coords(i) = new org.locationtech.jts.geom.Coordinate(ring(2 * i), ring(2 * i + 1)); i += 1
    }
    coords(n) = coords(0)
    CellIndex.coverGeometry(gf.createPolygon(coords), level)
  }

  /**
   * Points-in-polygons join.
   * @param points  (lon, lat, …carry-through columns)
   * @param zones   (ring: array<double> flat [x0,y0,...], …carry-through)
   * @param level   cell level of the prefilter (planner picks from zone size;
   *                higher = finer cover = fewer false candidates)
   */
  def pointsInZones(points: DataFrame, zones: DataFrame, level: Int): DataFrame = {
    val zoneCells = zones
      .withColumn("cell", explode(coverRingUdf(col("ring"), lit(level))))
    val pts = points.withColumn("cell", GraftFunctions.cell_id(col("lon"), col("lat"), lit(level)))
    pts.join(broadcast(zoneCells), "cell")
      .filter(GraftFunctions.winding_contains(col("ring"), col("lon"), col("lat")))
      .drop("cell", "ring")
  }

  /**
   * PIP join against FULL polygon geometry — zones carry
   * `rings: array<array<double>>` with rings(0) the outer ring and
   * rings(1..) interior holes (the [[graft.sources.GeoJson.parseFeatures]]
   * shape; MultiPolygon parts arrive as separate zone rows and parts must
   * be disjoint for per-zone counts to stay exact). The cell-cover
   * prefilter runs on the OUTER ring only (holes can only shrink it);
   * the refine is outer-contains AND no-hole-contains, with the hole test
   * a higher-order `filter` over the ring array — all inside the join
   * condition, no post-join pass.
   */
  def pointsInZonesRings(points: DataFrame, zones: DataFrame, level: Int): DataFrame = {
    val zoneCells = zones
      .withColumn("cell", explode(coverRingUdf(element_at(col("rings"), 1), lit(level))))
    val pts = points.withColumn("cell", GraftFunctions.cell_id(col("lon"), col("lat"), lit(level)))
    val holes = slice(col("rings"), lit(2), size(col("rings")) - 1)
    pts.join(broadcast(zoneCells), "cell")
      .filter(
        GraftFunctions.winding_contains(element_at(col("rings"), 1), col("lon"), col("lat")) &&
        size(filter(holes, h =>
          GraftFunctions.winding_contains(h, col("lon"), col("lat")))) === 0)
      .drop("cell", "rings")
  }

  /**
   * Skew-aware join planning (SURVEY.md §4 "join-strategy selection" +
   * north rule: salted broadcast-or-sort-merge selection driven by per-cell
   * histogram skew statistics).
   *
   * Strategy choice is driver-side (not a SparkStrategy — SURVEY §7.3):
   *  - zone-cover side small  -> broadcast hash join (map-side, no shuffle);
   *  - otherwise              -> shuffled join on the long cell key, with
   *    histogram-driven salting: a sampled per-cell point histogram finds
   *    hot cells (urban-area skew at 10^12 docs), each hot cell gets a salt
   *    fan-out S_c ~ est_count / cap; points pick pmod(hash(lon,lat), S_c),
   *    the zone-cover side explodes every cover cell x its S_c salts, and
   *    the join key becomes (cell, salt) — hot reducers split S_c ways.
   *    AQE's skew-join handles residual imbalance.
   *
   * Returns the same rows as [[pointsInZones]] (verified in tests).
   */
  final case class JoinPlan(strategy: String, hotCells: Map[Long, Int])

  /** Session-scoped planner cache: session -> (zone-side semantic plan
    * hash, level, planner params) -> JoinPlan. Repeated auto-joins against
    * the SAME zone table (the dominant pattern: one zone layer, many point
    * batches) skip the zone-cover count AND the sampled point histogram —
    * two driver-blocking jobs per call otherwise.
    * DATA-STALENESS ASSUMPTION (ADVICE r5): the key hashes the zones'
    * canonicalized LOGICAL plan, so zone DATA that changes in-session under
    * the same plan (a rewritten parquet path, a zone table grown past
    * broadcastMaxCells) reuses the stale strategy — rows stay correct on
    * either path (SkewJoinSpec parity), but a now-huge zone side could be
    * broadcast. Long-lived sessions with mutating zone sources should clear
    * via [[clearPlanCache]]. A 32-bit semanticHash collision likewise only
    * risks a suboptimal strategy, never wrong rows. The inner key hashes the
    * zones' ANALYZED logical plan (canonicalized), so any semantically
    * different zone frame misses; the point-side histogram is deliberately
    * NOT keyed — within one session the salting degree is a performance
    * heuristic for one workload's distribution, never a correctness input
    * (the salted and broadcast paths return identical rows, SkewJoinSpec).
    * Lifecycle: the OUTER map holds the session WEAKLY, so a session's
    * plans are collectable the moment the session is — no growth across
    * session churn in a long-lived JVM, and no identity-hash collision can
    * ever hand a new session a dead session's plan. */
  private val planCaches = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[(Int, Int, Long, Long, Long), JoinPlan]]())
  private def planCacheFor(s: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.ConcurrentHashMap[(Int, Int, Long, Long, Long), JoinPlan] =
    planCaches.synchronized {
      var m = planCaches.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long, Long, Long), JoinPlan]()
        planCaches.put(s, m)
      }
      m
    }
  /** Planner executions (cache misses) — observable by SkewJoinSpec. */
  private[graft] val plannerRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Drop every cached join plan for `session` — the escape hatch for
    * long-lived sessions whose zone SOURCES mutate under an unchanged
    * logical plan (see the staleness note on the cache above). */
  def clearPlanCache(session: org.apache.spark.sql.SparkSession): Unit =
    planCaches.synchronized {
      val m = planCaches.get(session)
      if (m != null) m.clear()
    }

  def planPointsInZones(points: DataFrame, zoneCells: DataFrame,
                        broadcastMaxCells: Long = 200000L,
                        sampleFraction: Double = 0.01,
                        hotCellCap: Long = 2000000L): JoinPlan = {
    plannerRuns.incrementAndGet()
    val nZoneCells = zoneCells.count()
    if (nZoneCells <= broadcastMaxCells) JoinPlan("broadcast", Map.empty)
    else {
      import points.sparkSession.implicits._
      val hist = points.sample(sampleFraction)
        .groupBy($"cell").agg(count(lit(1)).as("n"))
        .filter($"n" > hotCellCap * sampleFraction)
        .as[(Long, Long)].collect()
      val hot = hist.map { case (cell, n) =>
        val est = (n / sampleFraction).toLong
        cell -> math.min(64, math.max(2, math.ceil(est.toDouble / hotCellCap).toInt))
      }.toMap
      JoinPlan("salted-shuffle", hot)
    }
  }

  /** Points-in-polygons with automatic strategy + salting (scale path). */
  def pointsInZonesAuto(points: DataFrame, zones: DataFrame, level: Int,
                        broadcastMaxCells: Long = 200000L,
                        sampleFraction: Double = 0.01,
                        hotCellCap: Long = 2000000L): DataFrame = {
    import points.sparkSession.implicits._
    val pts = points.withColumn("cell", GraftFunctions.cell_id(col("lon"), col("lat"), lit(level)))
    val planCache = planCacheFor(points.sparkSession)
    val cacheKey = (zones.queryExecution.analyzed.semanticHash(), level,
                    broadcastMaxCells, math.round(sampleFraction * 1e9), hotCellCap)
    val cached = planCache.get(cacheKey)
    val (plan, zoneCells) =
      if (cached != null) {
        // plan cache hit: no count, no histogram sample — and no eager
        // checkpoint either, since the join is now the cover kernel's only
        // consumer (it evaluates once, lazily, inside the join job)
        (cached,
         zones.withColumn("cell", explode(coverRingUdf(col("ring"), lit(level)))))
      } else {
        // localCheckpoint the exploded cover: the planner's count() and the
        // join itself would otherwise both evaluate the JTS cover kernel per
        // zone; the eager checkpoint ties the materialization to this job
        // (GC'd with the RDD) instead of leaking a session-lifetime cache
        // entry
        val zc = zones.withColumn("cell", explode(coverRingUdf(col("ring"), lit(level))))
          .localCheckpoint(true)
        val p = planPointsInZones(pts, zc, broadcastMaxCells, sampleFraction, hotCellCap)
        planCache.put(cacheKey, p)
        (p, zc)
      }
    val joined = plan match {
      case JoinPlan("broadcast", _) =>
        pts.join(broadcast(zoneCells), "cell")
      case JoinPlan(_, hot) =>
        val saltOf = typedLit(hot) // broadcast literal map cell -> fan-out
        val saltedPts = pts.withColumn("salt",
          when(element_at(saltOf, $"cell").isNotNull,
               pmod(hash($"lon", $"lat"), element_at(saltOf, $"cell"))).otherwise(0))
        val saltedZc = zoneCells.withColumn("salt",
          explode(sequence(lit(0), coalesce(element_at(saltOf, $"cell"), lit(1)) - 1)))
        saltedPts.join(saltedZc, Seq("cell", "salt")).drop("salt")
    }
    joined
      .filter(GraftFunctions.winding_contains(col("ring"), col("lon"), col("lat")))
      .drop("cell", "ring")
  }

  /**
   * Exact kNN join by iterative cell-ring expansion (SURVEY.md §2.5 note).
   *
   * Each round r joins points whose cell lies in the queries' Chebyshev
   * disk(r) and keeps the best k per query; a query is settled once its kth
   * distance is provably inside the guaranteed-covered radius
   * (r-1)*cellMin — then no point outside disk(r) can beat it. Unsettled
   * queries double r. The query side stays tiny (broadcast of exploded disk
   * cells); the point side is touched once per round through a hash join on
   * the long cell key — no cross join at any scale.
   *
   * @param points  (id, lon, lat)
   * @param queries (qid, qx, qy) — small side
   * @return (qid, rank, id, dist2) exact k nearest by squared euclidean
   *         (lon/lat planar), ties broken by id.
   */
  def knnJoin(points: DataFrame, queries: DataFrame, k: Int, level: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    import IterativeLoops.materializedLeafLazy

    val cellMin = math.min(360.0, 180.0) / (1L << level)  // degrees per cell (lat axis)
    // lazy leaf: materialized inside the first round's job, reused by every round
    val pts = materializedLeafLazy(
      points.withColumn("cell", GraftFunctions.cell_id(col("lon"), col("lat"), lit(level))))

    val diskUdf = udf { (qx: Double, qy: Double, r: Int) =>
      CellIndex.disk(CellIndex.cellId(qx, qy, level), r)
    }

    // Ring rounds double r = 2, 4, ..., 64 (r = 1 could never settle: the
    // guaranteed-covered radius (r-1)*cellMin must be > 0). Queries still
    // open after them get one full-scan round (rare: only queries in
    // near-empty regions get there), which settles every query — so the
    // loop always converges within ringRounds + 1 rounds.
    val ringRounds = 6
    val remaining0 = materializedLeafLazy(queries.select($"qid", $"qx", $"qy"))
    // state: (open queries, settled top-k per round so far)
    val (_, settled) = IterativeLoops.fixpoint("knn ring expansion",
        (remaining0, Vector.empty[DataFrame]), remaining0.count(), ringRounds + 1, blockCap = 1)(
      { case ((remaining, parts), _) =>
        val r = 2 << parts.size
        val lastRound = parts.size == ringRounds
        val cand = (if (lastRound) pts.crossJoin(broadcast(remaining))
                    else pts.join(
                      broadcast(remaining.withColumn("cell", explode(diskUdf($"qx", $"qy", lit(r))))),
                      Seq("cell")))
          .withColumn("dist2",
            ($"lon" - $"qx") * ($"lon" - $"qx") + ($"lat" - $"qy") * ($"lat" - $"qy"))
        val w = Window.partitionBy($"qid").orderBy($"dist2", $"id")
        val topk = cand
          .withColumn("rank", row_number().over(w).cast("bigint"))
          .filter($"rank" <= k)
          .select($"qid", $"rank", $"id", $"dist2")
        // settled iff the kth distance is provably inside the covered radius
        val guaranteed = (r - 1).toDouble * cellMin
        val done =
          if (lastRound) remaining.select($"qid")
          else topk.groupBy($"qid")
            .agg(count(lit(1)).as("n"), max($"dist2").as("worst"))
            .filter($"n" === k && $"worst" <= lit(guaranteed * guaranteed))
            .select($"qid")
        // settled rows (t = 0) and still-open queries (t = 1) materialize
        // together, so topk and the done broadcast are built once
        topk.join(broadcast(done), "qid").withColumn("t", lit(0))
          .unionByName(remaining.join(broadcast(done), Seq("qid"), "left_anti")
            .withColumn("t", lit(1)), allowMissingColumns = true)
      },
      { case ((_, parts), both) =>
        (both.filter($"t" === 1).select($"qid", $"qx", $"qy"),
         parts :+ both.filter($"t" === 0).select($"qid", $"rank", $"id", $"dist2"))
      }) { case (_, (remaining, _)) => remaining.count() }
    if (settled.isEmpty)
      // keep the (qid, rank, id, dist2) contract even with no queries —
      // qid/id take the CALLER'S column types so the schema never depends on
      // whether the query side happened to be empty
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid", queries.schema("qid").dataType),
          org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("id", points.schema("id").dataType),
          org.apache.spark.sql.types.StructField("dist2", org.apache.spark.sql.types.DoubleType))))
    else settled.reduce(_ unionByName _)
  }
}
