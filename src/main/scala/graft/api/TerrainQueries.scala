package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.TileGeometry
import graft.raster.{Focal, Mosaic, Terrain}

/**
 * Geomorphology queries (reference library/HMGeomorphology.java, implemented
 * for real — see graft.raster.Terrain/Focal):
 *   q61: distributed fractal terrain generation (value noise, D2_XY);
 *   q62: slope via distributed halo exchange over the terrain tiles.
 *
 * The DuckDB oracle replays the noise arithmetic exactly; accumulated double
 * constants (octave amplitudes, 2*cellsize) are emitted as CAST('...' AS
 * DOUBLE) of the Scala-computed values so both engines use identical bits.
 */
object TerrainQueries {

  private val W = 100; private val H = 80
  private val region = TileGeometry(W, H, 0.0, 10.0, 0.0, 8.0, 4326, 0L, 0L)
  private val MaxCells = 2000L // force a multi-tile layout (distribution on)

  /** SQL expression for Terrain.noise at frequency f over the (cx, cy) grid. */
  private def noiseSql(freq: Double): String = {
    val x = s"((cx + 0.5) * CAST('$freq' AS DOUBLE) / $W)"
    val y = s"((cy + 0.5) * CAST('$freq' AS DOUBLE) / $H)"
    def hash(i: String, j: String) =
      s"(CAST((($i) * 73856093 + ($j) * 19349663) % 100000 AS DOUBLE) / 100000.0)"
    val ix = s"CAST(FLOOR($x) AS BIGINT)"; val iy = s"CAST(FLOOR($y) AS BIGINT)"
    val fx = s"($x - $ix)"; val fy = s"($y - $iy)"
    val sx = s"($fx * $fx * (3.0 - 2.0 * $fx))"
    val sy = s"($fy * $fy * (3.0 - 2.0 * $fy))"
    s"""((${hash(ix, iy)} * (1.0 - $sx) + ${hash(s"$ix + 1", iy)} * $sx) * (1.0 - $sy)
       | + (${hash(ix, s"$iy + 1")} * (1.0 - $sx) + ${hash(s"$ix + 1", s"$iy + 1")} * $sx) * $sy)""".stripMargin
  }

  /** SQL for the 4-octave elevation, mirroring Terrain.elevation's
    * accumulation order and emitting Scala-computed amplitude bits. */
  private def elevationSql: String = {
    val amps = Iterator.iterate(1.0)(_ * 0.55).take(4).toSeq
    val norm = amps.sum // same accumulation order as the Scala loop
    val terms = amps.zipWithIndex.map { case (amp, o) =>
      s"CAST('$amp' AS DOUBLE) * ${noiseSql(4.0 * math.pow(2.0, o))}"
    }
    s"(0.0 + (4000.0 - 0.0) * ((${terms.mkString("\n  + ")}) / CAST('$norm' AS DOUBLE)))"
  }

  private def terrainCte: String =
    s"""terrain AS (
       |  SELECT cx.cx, cy.cy, $elevationSql AS elev
       |  FROM generate_series(0, ${W - 1}) cx(cx), generate_series(0, ${H - 1}) cy(cy))""".stripMargin

  /** The q79/q80 shared D8 flow-direction table (cx, cy, dir). */
  private def flowDirRows(s: SparkSession): DataFrame = {
    import s.implicits._
    val terrain = Focal.terrainTiles(s, region, maxCells = MaxCells)
    Mosaic.cellRows(Focal.flowDir(terrain, region, maxCells = MaxCells), region, "dir")
      .withColumn("dir", $"dir".cast("bigint"))
  }

  /** DuckDB CTE chain ending in `dirs(cx, cy, dir)` — the D8 replay shared
    * by the q79 and q80 oracles. Distances and tie-breaks mirror
    * Focal.flowDir exactly (same double bits, lowest code wins ties). */
  private def flowDirCtes: String = {
    val dw = region.cellWidth; val dh = region.cellHeight
    val ddiag = math.sqrt(dw * dw + dh * dh)
    def drop(a: String, dist: Double) = s"(c.elev - $a.elev) / CAST('$dist' AS DOUBLE)"
    val g = "GREATEST(w1, w2, w3, w4, w5, w6, w7, w8)"
    s"""$terrainCte,
       |pq8 AS (
       |  SELECT c.cx, c.cy,
       |         ${drop("e", dw)} AS w1, ${drop("ne_", ddiag)} AS w2,
       |         ${drop("n", dh)} AS w3, ${drop("nw_", ddiag)} AS w4,
       |         ${drop("w", dw)} AS w5, ${drop("sw_", ddiag)} AS w6,
       |         ${drop("s", dh)} AS w7, ${drop("se_", ddiag)} AS w8
       |  FROM terrain c
       |  LEFT JOIN terrain e   ON e.cx = c.cx + 1 AND e.cy = c.cy
       |  LEFT JOIN terrain ne_ ON ne_.cx = c.cx + 1 AND ne_.cy = c.cy + 1
       |  LEFT JOIN terrain n   ON n.cx = c.cx AND n.cy = c.cy + 1
       |  LEFT JOIN terrain nw_ ON nw_.cx = c.cx - 1 AND nw_.cy = c.cy + 1
       |  LEFT JOIN terrain w   ON w.cx = c.cx - 1 AND w.cy = c.cy
       |  LEFT JOIN terrain sw_ ON sw_.cx = c.cx - 1 AND sw_.cy = c.cy - 1
       |  LEFT JOIN terrain s   ON s.cx = c.cx AND s.cy = c.cy - 1
       |  LEFT JOIN terrain se_ ON se_.cx = c.cx + 1 AND se_.cy = c.cy - 1),
       |dirs AS (
       |  SELECT cx, cy,
       |         CASE WHEN cx = 0 OR cx = ${W - 1} OR cy = 0 OR cy = ${H - 1} THEN NULL
       |              WHEN $g <= 0.0E0 THEN 0
       |              WHEN w1 = $g THEN 1 WHEN w2 = $g THEN 2
       |              WHEN w3 = $g THEN 3 WHEN w4 = $g THEN 4
       |              WHEN w5 = $g THEN 5 WHEN w6 = $g THEN 6
       |              WHEN w7 = $g THEN 7 ELSE 8 END AS dir
       |  FROM pq8)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q61_terrain" -> { (s, dir) =>
      import s.implicits._
      val _ = dir // terrain is synthesized; scale-independent golden
      Mosaic.cellRows(Focal.terrainTiles(s, region, maxCells = MaxCells), region, "elev")
        .orderBy($"cx", $"cy")
    },

    "q62_slope" -> { (s, dir) =>
      import s.implicits._
      val _ = dir
      val terrain = Focal.terrainTiles(s, region, maxCells = MaxCells)
      Mosaic.cellRows(Focal.slope(terrain, region, maxCells = MaxCells), region, "slope")
        .orderBy($"cx", $"cy")
    },

    // Aspect octant + analytic hillshade (Focal.aspectHillshade): one halo
    // exchange, two output bands. Octant = comparison-only classification
    // of the downslope direction; hillshade = Lambertian dot product with
    // the exact az-315/alt-45 light vector — both transcendental-free, so
    // the oracle replay is bit-for-bit (see Focal.aspectHillshade docs).
    "q77_aspect_hillshade" -> { (s, dir) =>
      import s.implicits._
      val _ = dir
      val terrain = Focal.terrainTiles(s, region, maxCells = MaxCells)
      Mosaic.cellRows(Focal.aspectHillshade(terrain, region, maxCells = MaxCells), region,
                      "octant", "illum")
        .withColumn("octant", $"octant".cast("bigint"))
        .orderBy($"cx", $"cy")
    },

    // Raster region labeling (the GDAL-polygonize shape), TWO-LEVEL: each
    // tile union-finds its own < 1300 m cells locally (no shuffle —
    // Focal.localRegionRoots), then only the CROSS-TILE root adjacencies
    // (grid-shifted equi-joins where roots differ) reach the distributed
    // CC loop — a graph of O(regions x tiles) nodes whose diameter is the
    // number of tiles a region spans, NOT the region's cell diameter.
    // (Running min-label directly on cells measured 22 rounds / 11 s: a
    // value wave walks a grid corridor one cell per round; contracting
    // tiles first makes the loop 4-5 rounds.) Region id = min cell id —
    // identical to the recursive-CTE oracle over raw cell adjacency.
    "q85_basin_regions" -> { (s, dir) =>
      import s.implicits._
      val _ = dir
      // ONE terrain materialization feeds both the root labeling and the
      // final cell frame (building the tiles twice is harmless on synthetic
      // terrain but the wrong pattern for a real input)
      val tiles = Focal.terrainTiles(s, region, maxCells = MaxCells)
        .localCheckpoint(true)
      val roots = Focal.localRegionRoots(tiles, region)(_ < 1300.0)
        .toDF().localCheckpoint(true) // edges (x2) + final labeling read it
      val e1 = roots.as("a").join(roots.as("b"),
          col("a.cx") + 1 === col("b.cx") && col("a.cy") === col("b.cy")
            && col("a.root") =!= col("b.root"))
        .select(col("a.root").as("u"), col("b.root").as("v"))
      val e2 = roots.as("a").join(roots.as("b"),
          col("a.cx") === col("b.cx") && col("a.cy") + 1 === col("b.cy")
            && col("a.root") =!= col("b.root"))
        .select(col("a.root").as("u"), col("b.root").as("v"))
      val comp = graft.operators.ConnectedComponents
        .minLabel(e1.union(e2), "u", "v")
        .withColumnRenamed("id", "rid").withColumnRenamed("lbl", "region_id")
      val cells = Mosaic.cellRows(tiles, region, "elev")
        .filter($"elev" < 1300.0)
        .select(($"cx" * H + $"cy").as("cell"), $"elev")
      cells.join(roots.select($"cell", $"root"), "cell")
        .join(comp, $"root" === $"rid", "left")
        .select(coalesce($"region_id", $"root").as("region_id"), $"elev")
        .groupBy($"region_id")
        .agg(count(lit(1)).as("n_cells"), min($"elev").as("min_elev"))
        .orderBy($"region_id")
    },

    // Aggregation resampling (GDAL "average" semantics): downsample the
    // terrain 4x by the exact mean of each 4x4 block. Tiles don't align
    // with block boundaries, so each tile emits PARTIAL quantized sums for
    // the output cells it covers and one shuffle keyed by output cell
    // combines them — the map-side-combine shape that never materializes
    // the full grid anywhere. Quantized-integer sums make the mean
    // order-independent and oracle-exact.
    "q83_downsample_mean" -> { (s, dir) =>
      import s.implicits._
      val _ = dir
      val f = 4
      val cells = Mosaic.cellRows(Focal.terrainTiles(s, region, maxCells = MaxCells),
                                  region, "elev")
      cells
        .select(expr(s"cx div $f").as("ocx"), expr(s"cy div $f").as("ocy"),
                round($"elev" * 1000000.0, 0).cast("bigint").as("q"))
        .groupBy($"ocx", $"ocy")
        .agg(count(lit(1)).as("n_cells"), sum($"q").as("sum_q"))
        // mean at 1e-6 via exact integer floor division — a rounded double
        // mean hits exact .5 ties on power-of-two block sizes (16 cells),
        // where Spark's BigDecimal rounding and DuckDB's scaled-double
        // rounding can disagree by one ulp of the last digit
        .select($"ocx", $"ocy", $"n_cells", $"sum_q",
                (expr("sum_q div n_cells").cast("double") / 1000000.0)
                  .as("mean_elev"))
        .orderBy($"ocx", $"ocy")
    },

    // Per-cell temporal trend over a raster stack — the remote-sensing
    // change-detection staple (NDVI trends): 5 epochs of a drifting terrain
    // (epoch t samples the surface at cx + t), OLS slope per cell. Values
    // are 1e-6-quantized BIGINTs so every sum is exact integer arithmetic
    // (double-sum order would differ between engines); the closed-form
    // slope numerator n*S(t*y) - S(t)*S(y) only goes through doubles in the
    // final division. Generation is a pure (cell, t) function = map-side;
    // the aggregation is one partial-agg shuffle keyed by cell.
    "q82_cell_trend" -> { (s, dir) =>
      import s.implicits._
      val _ = dir
      val w = W; val h = H // capture ints, not the object, in the closure
      val stack = s.range(W.toLong * H).select(
          expr(s"id div $H").as("cx"), ($"id" % H).as("cy"))
        .crossJoin(s.range(5).select($"id".as("t")))
        .as[(Long, Long, Long)]
        .map { case (cx, cy, t) => (cx, cy, t, Terrain.elevation(cx + t, cy, w, h)) }
        .toDF("cx", "cy", "t", "y")
        .withColumn("yq", round($"y" * 1000000.0, 0).cast("bigint"))
      // n = 5, S(t) = 10, n*S(t^2) - S(t)^2 = 50
      stack.groupBy($"cx", $"cy")
        .agg(sum($"yq").as("sum_y"), sum($"t" * $"yq").as("sum_ty"))
        .select($"cx", $"cy", $"sum_y",
                round(($"sum_ty" * 5L - $"sum_y" * 10L).cast("double")
                        / 50.0 / 1000000.0, 9).as("slope"))
        .orderBy($"cx", $"cy")
    },

    // Profile + planform curvature (Focal.curvatures): Evans second-order
    // finite differences on the 3x3 window (corner strips via the halo
    // exchange), 1.5-powers as x*sqrt(x) — all correctly-rounded IEEE ops,
    // bit-replayed by the oracle. Flats and the border are NULL.
    "q81_curvatures" -> { (s, dir) =>
      import s.implicits._
      val _ = dir
      val terrain = Focal.terrainTiles(s, region, maxCells = MaxCells)
      Mosaic.cellRows(Focal.curvatures(terrain, region, maxCells = MaxCells), region,
                      "profile_curv", "plan_curv")
        .orderBy($"cx", $"cy")
    },

    // D8 flow direction (Focal.flowDir): steepest positive drop over world
    // distance among 8 neighbors (corner strips now ride the halo
    // exchange), codes 1..8 CCW from east, 0 = pit, NULL on the border.
    // Tie-break and arithmetic are comparison-exact in both engines.
    "q79_flow_direction" -> { (s, dir) =>
      import s.implicits._
      val _ = dir
      flowDirRows(s).orderBy($"cx", $"cy")
    },

    // D8 flow accumulation: upstream-cell count per cell = the transitive
    // closure of the (acyclic, out-degree-1) drainage graph grouped by
    // target. The closure runs as O(log longest-path) repeated-squaring
    // join rounds (graft.operators.FunctionalClosure) instead of
    // longest-path sequential steps; the oracle replays it with a
    // recursive CTE over the identical edge set.
    "q80_flow_accumulation" -> { (s, dir) =>
      import s.implicits._
      val _ = dir
      val dirs = flowDirRows(s).localCheckpoint(true)
      val dxs = typedLit(Seq(1L, 1L, 0L, -1L, -1L, -1L, 0L, 1L)) // E..SE CCW
      val dys = typedLit(Seq(0L, 1L, 1L, 1L, 0L, -1L, -1L, -1L))
      val edges = dirs.filter($"dir" >= 1)
        .select(($"cx" * H + $"cy").as("u"),
                (($"cx" + element_at(dxs, $"dir".cast("int"))) * H
                  + ($"cy" + element_at(dys, $"dir".cast("int")))).as("v"))
      val acc = graft.operators.FunctionalClosure.ancestorPairs(edges, "u", "v")
        .groupBy($"v").agg(count(lit(1)).as("n_up"))
      dirs.join(acc, ($"cx" * H + $"cy") === $"v", "left")
        .select($"cx", $"cy", coalesce($"n_up", lit(0L)).as("n_upstream"))
        .orderBy($"cx", $"cy")
    },

    // Zonal statistics — the classic raster x vector reduction: terrain cell
    // centroids PIP-joined (cell-cover prefilter + winding refine, zones
    // broadcast) into GeoJSON polygon zones, then per-zone count/min/max and
    // an exact-integer mean (elevations quantized to 1e-6 BIGINTs so the
    // distributed SUM is order-independent and the oracle replays it
    // bit-for-bit — double SUM order is nondeterministic across engines).
    "q78_zonal_stats" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.SpatialJoin
      import graft.sources.GeoJson
      val cells = Mosaic.cellRows(Focal.terrainTiles(s, region, maxCells = MaxCells),
                                  region, "elev")
        .withColumn("lon", lit(region.minX) + ($"cx" + 0.5) * lit(region.cellWidth))
        .withColumn("lat", lit(region.minY) + ($"cy" + 0.5) * lit(region.cellHeight))
      val zonesSrc = Tables.read(s, dir, "nation")
        .select($"n_nationkey".cast("long").as("k"))
        .withColumn("x0", ($"k" % 5).cast("double") * 2.0)
        .withColumn("y0", floor($"k" / 5.0).cast("double") * 1.6)
        .withColumn("x1", $"x0" + 1.9)
        .withColumn("y1", $"y0" + 1.5)
      val feature = Geo.polygonFeatureJson($"k",
        Seq(Geo.rectRingJson($"x0", $"y0", $"x1", $"y1")))
      val zones = GeoJson.parsePolygons(zonesSrc.select(feature.as("doc")), "doc")
        .select(element_at($"properties", "zone").cast("long").as("zone_id"), $"ring")
        .filter($"ring".isNotNull)
      SpatialJoin.pointsInZones(cells, zones, level = 12)
        .groupBy($"zone_id")
        .agg(count(lit(1)).as("n_cells"),
             min($"elev").as("min_elev"), max($"elev").as("max_elev"),
             sum(round($"elev" * 1000000.0, 0).cast("bigint")).as("sum_q"))
        .select($"zone_id", $"n_cells", $"min_elev", $"max_elev", $"sum_q",
                round(($"sum_q".cast("double") / 1000000.0) / $"n_cells", 6).as("mean_elev"))
        .orderBy($"zone_id")
    })

  val oracle: Map[String, String] = Map(
    "q61_terrain" ->
      s"""WITH $terrainCte
         |SELECT cx, cy, elev FROM terrain ORDER BY cx, cy""".stripMargin,

    "q62_slope" -> {
      val dx2 = 2.0 * region.cellWidth
      val dy2 = 2.0 * region.cellHeight
      s"""WITH $terrainCte
         |SELECT c.cx, c.cy,
         |       CASE WHEN c.cx > 0 AND c.cx < ${W - 1} AND c.cy > 0 AND c.cy < ${H - 1}
         |            THEN sqrt(((e.elev - w.elev) / CAST('$dx2' AS DOUBLE)) * ((e.elev - w.elev) / CAST('$dx2' AS DOUBLE))
         |                    + ((n.elev - s.elev) / CAST('$dy2' AS DOUBLE)) * ((n.elev - s.elev) / CAST('$dy2' AS DOUBLE)))
         |       END AS slope
         |FROM terrain c
         |LEFT JOIN terrain e ON e.cx = c.cx + 1 AND e.cy = c.cy
         |LEFT JOIN terrain w ON w.cx = c.cx - 1 AND w.cy = c.cy
         |LEFT JOIN terrain n ON n.cx = c.cx AND n.cy = c.cy + 1
         |LEFT JOIN terrain s ON s.cx = c.cx AND s.cy = c.cy - 1
         |ORDER BY c.cx, c.cy""".stripMargin
    },

    "q77_aspect_hillshade" -> {
      val dx2 = 2.0 * region.cellWidth
      val dy2 = 2.0 * region.cellHeight
      val lz = math.sqrt(0.5)
      // p/q mirror Focal.aspectHillshade exactly; octant branches replicate
      // the Scala if-chain on (a, b) = (-p, -q) rewritten in p/q terms:
      // a >= b <=> -p >= -q ; -a < b <=> p < -q ; -a >= -b <=> p >= q ;
      // a < -b <=> -p < q. All comparisons on identical double bits.
      s"""WITH $terrainCte,
         |pq AS (
         |  SELECT c.cx, c.cy,
         |         CASE WHEN c.cx > 0 AND c.cx < ${W - 1} AND c.cy > 0 AND c.cy < ${H - 1}
         |              THEN (e.elev - w.elev) / CAST('$dx2' AS DOUBLE) END AS p,
         |         CASE WHEN c.cx > 0 AND c.cx < ${W - 1} AND c.cy > 0 AND c.cy < ${H - 1}
         |              THEN (n.elev - s.elev) / CAST('$dy2' AS DOUBLE) END AS q
         |  FROM terrain c
         |  LEFT JOIN terrain e ON e.cx = c.cx + 1 AND e.cy = c.cy
         |  LEFT JOIN terrain w ON w.cx = c.cx - 1 AND w.cy = c.cy
         |  LEFT JOIN terrain n ON n.cx = c.cx AND n.cy = c.cy + 1
         |  LEFT JOIN terrain s ON s.cx = c.cx AND s.cy = c.cy - 1)
         |SELECT cx, cy,
         |       CAST(CASE
         |         WHEN p IS NULL OR q IS NULL THEN NULL
         |         WHEN -p = 0.0 AND -q = 0.0 THEN 0
         |         WHEN -p >= 0 AND -q >= 0 THEN (CASE WHEN -p >= -q THEN 1 ELSE 2 END)
         |         WHEN -p < 0 AND -q >= 0 THEN (CASE WHEN p < -q THEN 3 ELSE 4 END)
         |         WHEN -p < 0 AND -q < 0 THEN (CASE WHEN p >= q THEN 5 ELSE 6 END)
         |         ELSE (CASE WHEN -p < q THEN 7 ELSE 8 END) END AS BIGINT) AS octant,
         |       CASE WHEN p IS NOT NULL AND q IS NOT NULL
         |            THEN (0.5 * p - 0.5 * q + CAST('$lz' AS DOUBLE))
         |                 / sqrt(1.0 + p * p + q * q) END AS illum
         |FROM pq ORDER BY cx, cy""".stripMargin
    },

    "q79_flow_direction" ->
      s"""WITH $flowDirCtes
         |SELECT cx, cy, CAST(dir AS BIGINT) AS dir FROM dirs
         |ORDER BY cx, cy""".stripMargin,

    "q85_basin_regions" ->
      s"""WITH RECURSIVE $terrainCte,
         |cells AS (
         |  SELECT cx * $H + cy AS id, cx, cy, elev FROM terrain
         |  WHERE elev < 1300.0E0),
         |e AS (
         |  SELECT a.id AS u, b.id AS v FROM cells a
         |  JOIN cells b ON a.cx + 1 = b.cx AND a.cy = b.cy
         |  UNION ALL
         |  SELECT a.id, b.id FROM cells a
         |  JOIN cells b ON a.cx = b.cx AND a.cy + 1 = b.cy),
         |es AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         |reach AS (
         |  SELECT id, id AS lbl FROM cells
         |  UNION
         |  SELECT es.u, r.lbl FROM es JOIN reach r ON r.id = es.v),
         |comp AS (SELECT id, MIN(lbl) AS region_id FROM reach GROUP BY 1)
         |SELECT comp.region_id, COUNT(*) AS n_cells, MIN(cells.elev) AS min_elev
         |FROM cells JOIN comp ON cells.id = comp.id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q83_downsample_mean" ->
      s"""WITH $terrainCte,
         |q AS (
         |  SELECT cx // 4 AS ocx, cy // 4 AS ocy,
         |         CAST(ROUND(elev * 1000000.0E0, 0) AS BIGINT) AS q
         |  FROM terrain)
         |SELECT ocx, ocy, COUNT(*) AS n_cells, CAST(SUM(q) AS BIGINT) AS sum_q,
         |       CAST(CAST(SUM(q) AS BIGINT) // COUNT(*) AS DOUBLE)
         |         / 1000000.0E0 AS mean_elev
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q82_cell_trend" ->
      s"""WITH wide AS (
         |  SELECT cx.cx, cy.cy, $elevationSql AS elev
         |  FROM generate_series(0, ${W + 3}) cx(cx), generate_series(0, ${H - 1}) cy(cy)),
         |grid AS (
         |  SELECT cx.cx, cy.cy
         |  FROM generate_series(0, ${W - 1}) cx(cx), generate_series(0, ${H - 1}) cy(cy)),
         |stack AS (
         |  SELECT g.cx, g.cy, t.t, CAST(ROUND(w.elev * 1000000.0E0, 0) AS BIGINT) AS yq
         |  FROM grid g, generate_series(0, 4) t(t), wide w
         |  WHERE w.cx = g.cx + t.t AND w.cy = g.cy),
         |agg AS (
         |  SELECT cx, cy, CAST(SUM(yq) AS BIGINT) AS sum_y,
         |         CAST(SUM(t * yq) AS BIGINT) AS sum_ty
         |  FROM stack GROUP BY 1, 2)
         |SELECT cx, cy, sum_y,
         |       ROUND(CAST(sum_ty * 5 - sum_y * 10 AS DOUBLE)
         |             / 50.0E0 / 1000000.0E0, 9) AS slope
         |FROM agg ORDER BY cx, cy""".stripMargin,

    "q81_curvatures" -> {
      val dx = region.cellWidth; val dy = region.cellHeight
      val dx2 = dx * dx; val dy2 = dy * dy; val dxy4 = 4.0 * dx * dy
      val tdx = 2.0 * dx; val tdy = 2.0 * dy
      // every constant below is the Scala-computed double emitted verbatim,
      // and every expression mirrors Focal.curvatures' evaluation order
      s"""WITH $terrainCte,
         |nb AS (
         |  SELECT c.cx, c.cy, c.elev AS c,
         |         e.elev AS e, w.elev AS w, n.elev AS n, s.elev AS s,
         |         ne_.elev AS ne_, nw_.elev AS nw_, se_.elev AS se_, sw_.elev AS sw_
         |  FROM terrain c
         |  LEFT JOIN terrain e   ON e.cx = c.cx + 1 AND e.cy = c.cy
         |  LEFT JOIN terrain w   ON w.cx = c.cx - 1 AND w.cy = c.cy
         |  LEFT JOIN terrain n   ON n.cx = c.cx AND n.cy = c.cy + 1
         |  LEFT JOIN terrain s   ON s.cx = c.cx AND s.cy = c.cy - 1
         |  LEFT JOIN terrain ne_ ON ne_.cx = c.cx + 1 AND ne_.cy = c.cy + 1
         |  LEFT JOIN terrain nw_ ON nw_.cx = c.cx - 1 AND nw_.cy = c.cy + 1
         |  LEFT JOIN terrain se_ ON se_.cx = c.cx + 1 AND se_.cy = c.cy - 1
         |  LEFT JOIN terrain sw_ ON sw_.cx = c.cx - 1 AND sw_.cy = c.cy - 1),
         |d AS (
         |  SELECT cx, cy,
         |         (e - w) / CAST('$tdx' AS DOUBLE) AS p,
         |         (n - s) / CAST('$tdy' AS DOUBLE) AS q,
         |         (e - 2.0 * c + w) / CAST('$dx2' AS DOUBLE) AS zxx,
         |         (n - 2.0 * c + s) / CAST('$dy2' AS DOUBLE) AS zyy,
         |         (ne_ - nw_ - se_ + sw_) / CAST('$dxy4' AS DOUBLE) AS zxy
         |  FROM nb
         |  WHERE cx > 0 AND cx < ${W - 1} AND cy > 0 AND cy < ${H - 1}),
         |cv AS (
         |  SELECT cx, cy,
         |         CASE WHEN (p * p + q * q) = 0.0E0 THEN NULL
         |              ELSE (zxx * (p * p) + 2.0 * zxy * (p * q) + zyy * (q * q))
         |                   / ((p * p + q * q)
         |                      * ((1.0 + (p * p + q * q))
         |                         * sqrt(1.0 + (p * p + q * q)))) END AS profile_curv,
         |         CASE WHEN (p * p + q * q) = 0.0E0 THEN NULL
         |              ELSE (zxx * (q * q) - 2.0 * zxy * (p * q) + zyy * (p * p))
         |                   / ((p * p + q * q) * sqrt(p * p + q * q)) END AS plan_curv
         |  FROM d)
         |SELECT t.cx, t.cy, cv.profile_curv, cv.plan_curv
         |FROM terrain t
         |LEFT JOIN cv ON cv.cx = t.cx AND cv.cy = t.cy
         |ORDER BY t.cx, t.cy""".stripMargin
    },

    "q80_flow_accumulation" ->
      s"""WITH RECURSIVE $flowDirCtes,
         |e AS (
         |  SELECT cx * $H + cy AS u,
         |         (cx + CASE dir WHEN 1 THEN 1 WHEN 2 THEN 1 WHEN 3 THEN 0
         |                        WHEN 4 THEN -1 WHEN 5 THEN -1 WHEN 6 THEN -1
         |                        WHEN 7 THEN 0 ELSE 1 END) * $H
         |         + (cy + CASE dir WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 1
         |                          WHEN 4 THEN 1 WHEN 5 THEN 0 WHEN 6 THEN -1
         |                          WHEN 7 THEN -1 ELSE -1 END) AS v
         |  FROM dirs WHERE dir >= 1),
         |reach AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON e2.u = r.v),
         |acc AS (SELECT v, COUNT(*) AS n_up FROM reach GROUP BY 1)
         |SELECT d.cx, d.cy, CAST(COALESCE(a.n_up, 0) AS BIGINT) AS n_upstream
         |FROM dirs d LEFT JOIN acc a ON d.cx * $H + d.cy = a.v
         |ORDER BY d.cx, d.cy""".stripMargin,

    "q78_zonal_stats" -> {
      // zones are rect rings whose bounds replay the Spark arithmetic; cell
      // centroids are never within float distance of a zone edge (centers on
      // odd multiples of cellsize/2, edges on coarse multiples), so the
      // winding refine and these range predicates classify identically
      s"""WITH $terrainCte,
         |z AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS zone_id,
         |         (CAST(n_nationkey AS BIGINT) % 5) * 2.0E0 AS x0,
         |         FLOOR(CAST(n_nationkey AS BIGINT) / 5.0E0) * 1.6E0 AS y0
         |  FROM nation),
         |c AS (
         |  SELECT cx, cy, elev,
         |         CAST('${region.minX}' AS DOUBLE)
         |           + (cx + 0.5E0) * CAST('${region.cellWidth}' AS DOUBLE) AS lon,
         |         CAST('${region.minY}' AS DOUBLE)
         |           + (cy + 0.5E0) * CAST('${region.cellHeight}' AS DOUBLE) AS lat
         |  FROM terrain)
         |SELECT z.zone_id, COUNT(*) AS n_cells,
         |       MIN(c.elev) AS min_elev, MAX(c.elev) AS max_elev,
         |       CAST(SUM(CAST(ROUND(c.elev * 1000000.0E0, 0) AS BIGINT)) AS BIGINT) AS sum_q,
         |       ROUND((CAST(SUM(CAST(ROUND(c.elev * 1000000.0E0, 0) AS BIGINT)) AS DOUBLE)
         |              / 1000000.0E0) / COUNT(*), 6) AS mean_elev
         |FROM c, z
         |WHERE c.lon >= z.x0 AND c.lon <= z.x0 + 1.9E0
         |  AND c.lat >= z.y0 AND c.lat <= z.y0 + 1.5E0
         |GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
