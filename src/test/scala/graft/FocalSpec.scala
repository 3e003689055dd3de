package graft

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Raster, TileGeometry}
import graft.raster.{Focal, Mosaic, Terrain}

class FocalSpec extends AnyFunSuite with SparkSuite {

  test("terrain: deterministic, in range, split-transparent") {
    val region = TileGeometry(120, 90, 0, 12, 0, 9, 4326, 0, 0)
    val one = Focal.terrainTiles(spark, region, maxCells = 1000000).collect()
    val many = Focal.terrainTiles(spark, region, maxCells = 400).collect()
    assert(one.length === 1 && many.length > 4)
    val flat = Array.fill(120 * 90)(0.0)
    one.head.bands.head.copyToArray(flat)
    assert(flat.forall(v => v >= 0.0 && v <= 4000.0))
    // reassemble split tiles and compare bit-exact
    val reassembled = Array.fill(120 * 90)(Double.NaN)
    many.foreach { r =>
      val x0 = math.round((r.minX - region.minX) / region.cellWidth).toInt
      val y0 = math.round((r.minY - region.minY) / region.cellHeight).toInt
      for (x <- 0 until r.width; y <- 0 until r.height)
        reassembled((x0 + x) * 90 + (y0 + y)) = r.bands.head(x * r.height + y)
    }
    assert(reassembled.toSeq === flat.toSeq)
  }

  test("slope of a linear ramp is constant; region border is NaN") {
    import spark.implicits._
    val region = TileGeometry(40, 30, 0, 80, 0, 30, 4326, 0, 0) // dx=2, dy=1
    // elevation = 3*cx + 4*cy  =>  p = 6/(2*2)=1.5, q = 8/(2*1)=4 per world unit
    val layout = Mosaic.splitTilesWithOffsets(region, maxCells = 150)
    val tiles = spark.createDataset(layout.zipWithIndex.map { case ((t, x0, y0), i) =>
      Raster(s"t$i", 0L, t.width, t.height, t.minX, t.maxX, t.minY, t.maxY, t.epsg,
        Seq(Array.tabulate(t.width * t.height)(k =>
          3.0 * (x0 + k / t.height) + 4.0 * (y0 + k % t.height))))
    })
    val slopes = Focal.slope(tiles, region, maxCells = 150).collect()
    // central difference spans two cells: p = 2*3/(2*dx) = 3/dx, q = 4/dy
    val expected = math.sqrt(math.pow(3.0 / 2.0, 2) + math.pow(4.0 / 1.0, 2))
    var interior = 0; var border = 0
    slopes.foreach { r =>
      val x0 = math.round((r.minX - region.minX) / region.cellWidth).toInt
      val y0 = math.round((r.minY - region.minY) / region.cellHeight).toInt
      for (x <- 0 until r.width; y <- 0 until r.height) {
        val gx = x0 + x; val gy = y0 + y
        val v = r.bands.head(x * r.height + y)
        if (gx == 0 || gx == 39 || gy == 0 || gy == 29) {
          assert(v.isNaN, s"border ($gx,$gy) not NaN"); border += 1
        } else {
          assert(math.abs(v - expected) < 1e-12, s"interior ($gx,$gy): $v"); interior += 1
        }
      }
    }
    assert(interior === 38 * 28 && border === 40 * 30 - 38 * 28)
  }

  // slope, aspect/hillshade and curvatures, every band
  test("slope split-transparency: one tile == many tiles bit-exact") {
    val region = TileGeometry(60, 40, 0, 6, 0, 4, 4326, 0, 0)
    type Op = (Dataset[Raster], TileGeometry, Long) => Dataset[Raster]
    def run(op: Op, maxCells: Long): Map[(Int, Int), Seq[Double]] = {
      val terrain = Focal.terrainTiles(spark, region, maxCells = maxCells)
      op(terrain, region, maxCells).collect().flatMap { r =>
        val x0 = math.round((r.minX - region.minX) / region.cellWidth).toInt
        val y0 = math.round((r.minY - region.minY) / region.cellHeight).toInt
        for (x <- 0 until r.width; y <- 0 until r.height)
          yield ((x0 + x, y0 + y), r.bands.map(_(x * r.height + y)))
      }.toMap
    }
    // curvatures reads the diagonal neighbors, so its split cells need the
    // corner cells of the halo
    for ((name, op) <- Seq[(String, Op)]("slope" -> (Focal.slope(_, _, _)),
                                         "aspect" -> (Focal.aspectHillshade(_, _, _)),
                                         "curv" -> (Focal.curvatures(_, _, _)))) {
      val one = run(op, 1000000)
      assert(one.size === 2400, name)
      assert(one.values.head.indices.forall(b => one.values.exists(v => !v(b).isNaN)), name)
      for (maxCells <- Seq(60L, 300L)) {
        val many = run(op, maxCells)
        assert(many.size === 2400, s"$name/$maxCells")
        one.foreach { case (k, v) =>
          // bit-equal, every NaN equal to every NaN
          assert(v.map(java.lang.Double.doubleToLongBits) ==
                 many(k).map(java.lang.Double.doubleToLongBits), s"$name/$maxCells $k: $v vs ${many(k)}")
        }
      }
    }
  }

  test("aspect octants + hillshade on analytic planes") {
    import spark.implicits._
    val region = TileGeometry(20, 20, 0, 20, 0, 20, 4326, 0, 0) // dx = dy = 1
    // plane elev = c1*gx + c2*gy -> p = c1, q = c2 (central diff over 2 cells)
    def run(c1: Double, c2: Double): (Long, Double) = {
      val layout = Mosaic.splitTilesWithOffsets(region, maxCells = 120)
      val tiles = spark.createDataset(layout.zipWithIndex.map { case ((t, x0, y0), i) =>
        Raster(s"t$i", 0L, t.width, t.height, t.minX, t.maxX, t.minY, t.maxY, t.epsg,
          Seq(Array.tabulate(t.width * t.height)(k =>
            c1 * (x0 + k / t.height) + c2 * (y0 + k % t.height))))
      })
      val cells = Focal.aspectHillshade(tiles, region, maxCells = 120).collect()
      // probe one interior cell
      val r = cells.find(r => r.minX <= 10 && r.maxX > 10 && r.minY <= 10 && r.maxY > 10).get
      val x = 10 - math.round((r.minX - region.minX)).toInt
      val y = 10 - math.round((r.minY - region.minY)).toInt
      val i = x * r.height + y
      (r.bands.head(i).toLong, r.bands(1)(i))
    }
    // downslope = (-p, -q). Plane rising east (p=1): downslope west -> octant 4
    assert(run(1.0, 0.0)._1 === 4L)
    // rising north (q=1): downslope south -> sector 6 (a=0 -> else-branch? no:
    // a=0,b=-1: a>=0 && b<0 -> else branch: a < -b (0 < 1) -> 7)
    assert(run(0.0, 1.0)._1 === 7L)
    // rising west (p=-1): downslope east -> octant 1
    assert(run(-1.0, 0.0)._1 === 1L)
    // rising south (q=-1): downslope north -> a=0,b=1 -> first branch, a>=b false -> 2
    assert(run(0.0, -1.0)._1 === 2L)
    // flat plane -> octant 0, illum = sqrt(0.5) (n = (0,0,1), l_z = sqrt(.5))
    val (oct, il) = run(0.0, 0.0)
    assert(oct === 0L && il === math.sqrt(0.5))
    // NW-facing slope (rising SE: p=1, q=-1): faces the az-315 sun head-on ->
    // illum = (0.5 + 0.5 + sqrt(.5)) / sqrt(3) — the analytic maximum direction
    val ilNw = run(1.0, -1.0)._2
    assert(math.abs(ilNw - (1.0 + math.sqrt(0.5)) / math.sqrt(3.0)) < 1e-15)
  }

  test("D8 flow direction: analytic planes, pit, border, split-transparent") {
    import spark.implicits._
    val region = TileGeometry(20, 20, 0, 20, 0, 20, 4326, 0, 0)
    def run(maxCells: Long)(elev: (Int, Int) => Double): Map[(Int, Int), Double] = {
      val layout = Mosaic.splitTilesWithOffsets(region, maxCells)
      val tiles = spark.createDataset(layout.zipWithIndex.map { case ((t, x0, y0), i) =>
        Raster(s"t$i", 0L, t.width, t.height, t.minX, t.maxX, t.minY, t.maxY, t.epsg,
          Seq(Array.tabulate(t.width * t.height)(k =>
            elev(x0 + k / t.height, y0 + k % t.height))))
      })
      Focal.flowDir(tiles, region, maxCells = maxCells).collect().flatMap { r =>
        val x0 = math.round(r.minX - region.minX).toInt
        val y0 = math.round(r.minY - region.minY).toInt
        for (x <- 0 until r.width; y <- 0 until r.height)
          yield ((x0 + x, y0 + y), r.bands.head(x * r.height + y))
      }.toMap
    }
    // rising NE (x + y): steepest descent is SW (diagonal beats cardinals)
    val ne = run(120)((x, y) => (x + y).toDouble)
    assert(ne((10, 10)) === 6.0)
    assert(ne((0, 5)).isNaN && ne((19, 5)).isNaN && ne((5, 0)).isNaN) // border
    // rising east (x): due west
    assert(run(120)((x, _) => x.toDouble)((10, 10)) === 5.0)
    // bowl centered at (10, 10): the center is a pit (dir 0)
    val bowl = run(120)((x, y) => ((x - 10) * (x - 10) + (y - 10) * (y - 10)).toDouble)
    assert(bowl((10, 10)) === 0.0)
    // flat plane: everything interior is a pit
    assert(run(120)((_, _) => 7.0)((5, 5)) === 0.0)
    // split transparency incl. CORNER strips: one tile == many tiles on
    // rough terrain (diagonal neighbors cross tile corners)
    def noisy(x: Int, y: Int) = Terrain.elevation(x, y, 20, 20)
    val one = run(1000000)(noisy); val many = run(60)(noisy)
    one.foreach { case (k, v) =>
      assert((v.isNaN && many(k).isNaN) || v === many(k), s"$k: $v vs ${many(k)}")
    }
  }

  test("two-level region labeling is tiling-transparent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col}
    val region = TileGeometry(60, 40, 0, 6, 0, 4, 4326, 0, 0)
    def regions(maxCells: Long): Map[Long, Long] = {
      val roots = Focal.localRegionRoots(
          Focal.terrainTiles(spark, region, maxCells = maxCells), region)(_ < 1500.0)
        .toDF().localCheckpoint(true)
      val e1 = roots.as("a").join(roots.as("b"),
        col("a.cx") + 1 === col("b.cx") && col("a.cy") === col("b.cy")
          && col("a.root") =!= col("b.root"))
        .select(col("a.root").as("u"), col("b.root").as("v"))
      val e2 = roots.as("a").join(roots.as("b"),
        col("a.cx") === col("b.cx") && col("a.cy") + 1 === col("b.cy")
          && col("a.root") =!= col("b.root"))
        .select(col("a.root").as("u"), col("b.root").as("v"))
      val comp = graft.operators.ConnectedComponents.minLabel(e1.union(e2), "u", "v")
        .withColumnRenamed("id", "rid").withColumnRenamed("lbl", "region_id")
      roots.join(comp, col("root") === col("rid"), "left")
        .select(col("cell"), coalesce(col("region_id"), col("root")).as("rg"))
        .as[(Long, Long)].collect().toMap
    }
    // a single tile's labeling IS plain union-find; finer tilings must agree
    val oneTile = regions(1000000)
    val fine = regions(300)
    assert(oneTile.nonEmpty && oneTile == fine)
  }
}
