package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Raster, TileGeometry}
import graft.raster.{CogFile, Crs, Focal, Mosaic, Resample}
import graft.sources.GeoTiff

/** The tile-addressed mosaic merge: patches resampled on the map side and
  * composited per tile must equal the whole-tile resample of every item
  * merged in (ts, item_id) order, bit for bit, whatever the shuffle width —
  * below, at and above the tile count. */
class MosaicMergeSpec extends AnyFunSuite with SparkSuite {

  // 60 x 40 cells of 0.1 degree, 400-cell tiles: 3 x 2 tiles of 20 x 20
  private val region = TileGeometry(60, 40, 0.0, 6.0, 0.0, 4.0, 4326, 0L, 0L)
  private val maxCells = 400L
  private val tileAt = Mosaic.splitTilesWithOffsets(region, maxCells)

  private def mkItem(id: String, ts: Long, w: Int, h: Int, x0: Double, y0: Double,
                     cw: Double, ch: Double, seed: Long): Raster = {
    val rnd = new java.util.Random(seed)
    Raster(id, ts, w, h, x0, x0 + w * cw, y0, y0 + h * ch, 4326,
      Seq(Array.tabulate(w * h)(i => if (i % 29 == 3) Double.NaN else 100.0 * rnd.nextDouble())))
  }

  /** Jittered, non-integer-aligned grids, one item in UTM zone 31N; no item
    * reaches the tile x in [4, 6), y in [2, 4) (tile 5), even with its apron. */
  private val items: Seq[Raster] = {
    val utm = mkItem("c-utm", 3L, 30, 40, 0.6, 1.1, 0.05, 0.0625, 3L)
    val (ux0, ux1, uy0, uy1) = Crs.transformEnvelope(4326, 32631, 0.6, 2.1, 1.1, 3.6)
    Seq(
      mkItem("a", 1L, 37, 29, 0.137, 0.213, 0.0731, 0.0787, 1L),
      mkItem("b", 2L, 41, 23, 1.913, 0.177, 0.0877, 0.0663, 2L),
      utm.copy(minX = ux0, maxX = ux1, minY = uy0, maxY = uy1, epsg = 32631),
      mkItem("d", 2L, 25, 25, 1.05, 1.31, 0.0913, 0.0913, 4L))
  }
  private val emptyTile = 5

  /** The merge the patches must reproduce: every item sampled at every cell
    * of the whole tile, each cell center mapped into the item's frame point
    * by point (Crs.transform), merged cell-wise in (ts, item_id) order. */
  private def reference(mode: Mosaic.MergeMode, kernel: Resample.Kernel): Map[String, Array[Double]] =
    tileAt.zipWithIndex.map { case ((t, x0, y0), i) =>
      val acc = Array.fill(t.width * t.height)(Double.NaN)
      items.sortBy(r => (r.ts, r.item_id)).foreach { r =>
        val toItem = Crs.transform(region.epsg, r.epsg)
        for (x <- 0 until t.width; y <- 0 until t.height) {
          val (u, v) = toItem(region.cellCenterX(x0 + x), region.cellCenterY(y0 + y))
          val c = x * t.height + y
          if (u >= r.minX && u < r.maxX && v >= r.minY && v < r.maxY) {
            val s = Resample.sample(r.bands.head, r.width, r.height, 0, 0, r.width, r.height,
                                    (u - r.minX) / r.geom.cellWidth,
                                    (v - r.minY) / r.geom.cellHeight, kernel)
            if (!s.isNaN) acc(c) =
              if (mode == Mosaic.Sum && !acc(c).isNaN) acc(c) + s else s
          }
        }
      }
      s"tile-$i" -> acc
    }.toMap

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  private def sameBits(a: Array[Double], b: Array[Double], label: String): Unit = {
    assert(a.length == b.length, label)
    a.indices.foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(a(i)) == java.lang.Double.doubleToRawLongBits(b(i)),
        s"$label cell $i: ${a(i)} vs ${b(i)}")
    }
  }

  test("patch merge == whole-tile resample at 1, 4 and more shuffle partitions than tiles") {
    import spark.implicits._
    assert(tileAt.length == 6)
    for (mode <- Seq(Mosaic.Sum, Mosaic.Substitute);
         kernel <- Seq(Resample.Nearest, Resample.Bicubic)) {
      val want = reference(mode, kernel)
      assert(want(s"tile-$emptyTile").forall(_.isNaN))
      assert(want.count(_._2.exists(!_.isNaN)) == 5)
      for (parts <- Seq(1, 4, 9)) withShufflePartitions(parts) {
        val got = Mosaic.mergeToTiles(spark.createDataset(items).repartition(3), region,
                                      mode, kernel, maxCells).collect()
        val label = s"$mode/$kernel/partitions=$parts"
        assert(got.map(_.item_id).sorted.toSeq == want.keys.toSeq.sorted, label)
        got.foreach { r =>
          val (t, _, _) = tileAt(r.item_id.stripPrefix("tile-").toInt)
          assert((r.width, r.height, r.minX, r.maxX, r.minY, r.maxY) ==
                 (t.width, t.height, t.minX, t.maxX, t.minY, t.maxY), label)
          sameBits(r.bands.head, want(r.item_id), s"$label ${r.item_id}")
        }
      }
    }
  }

  test("the reduce stage runs min(tiles, shuffle partitions) tasks, every tile in one") {
    import spark.implicits._
    for (parts <- Seq(1, 4, 9)) withShufflePartitions(parts) {
      val merged = Mosaic.mergeToTiles(spark.createDataset(items), region, Mosaic.Sum,
                                       Resample.Nearest, maxCells)
      // the mosaic's composite and the focal halo share the one exchange
      for ((out, name) <- Seq[(Dataset[Raster], Int => String)](
             merged -> (i => s"tile-$i"),
             Focal.slope(merged, region, maxCells) -> (i => f"slope-$i%04d"))) {
        val perTask = out.mapPartitions(rows => Iterator(rows.map(_.item_id).toSeq)).collect()
        val label = s"${name(0)} partitions=$parts"
        val tileOf = tileAt.indices.map(i => name(i) -> i).toMap
        assert(perTask.length == math.min(tileAt.length, parts), label)
        assert(perTask.flatten.sorted.toSeq == tileOf.keys.toSeq.sorted, label)
        // tile i lands in reduce partition i mod P
        perTask.zipWithIndex.foreach { case (ids, p) =>
          assert(ids.forall(id => tileOf(id) % perTask.length == p), s"$label/$p: $ids")
        }
      }
    }
  }

  test("no items still give every tile of the layout, all NaN") {
    import spark.implicits._
    for (parts <- Seq(1, 4, 9)) withShufflePartitions(parts) {
      for ((out, name) <- Seq(
             Mosaic.mergeToTiles(spark.emptyDataset[Raster], region, Mosaic.Sum,
                                 Resample.Nearest, maxCells) -> "mergeToTiles",
             Mosaic.mergeToTilesCog(spark.emptyDataset[CogFile], region, Mosaic.Substitute,
                                    Resample.Bilinear, maxCells) -> "mergeToTilesCog")) {
        val got = out.collect()
        val label = s"$name partitions=$parts"
        assert(got.map(_.item_id).sorted.toSeq == tileAt.indices.map(i => s"tile-$i").sorted, label)
        got.foreach { r =>
          val (t, _, _) = tileAt(r.item_id.stripPrefix("tile-").toInt)
          assert((r.width, r.height, r.minX, r.maxX, r.minY, r.maxY, r.epsg) ==
                 (t.width, t.height, t.minX, t.maxX, t.minY, t.maxY, t.epsg), label)
          assert(r.bands.length == 1 && r.bands.head.length == t.width * t.height, label)
          assert(r.bands.head.forall(_.isNaN), s"$label ${r.item_id}")
        }
      }
    }
  }

  test("collecting a mosaic, a COG mosaic or a slope runs one job; building runs none") {
    import spark.implicits._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    val files = items.map(r => CogFile(r.item_id, r.ts,
      GeoTiff.encode(r, bits = 64, tile = Some((16, 16)), deflate = true)))
    sc.addSparkListener(listener)
    try {
      val groups = for (parts <- Seq(1, 4, 9)) yield withShufflePartitions(parts) {
        def merged = Mosaic.mergeToTiles(spark.createDataset(items), region, Mosaic.Sum,
                                         Resample.Bicubic, maxCells)
        val actions = Seq[(String, () => Array[Raster])](
          "mergeToTiles" -> (() => merged.collect()),
          "mergeToTilesCog" -> (() => Mosaic.mergeToTilesCog(spark.createDataset(files), region,
            Mosaic.Substitute, Resample.Nearest, maxCells).collect()),
          "slope" -> (() => Focal.slope(merged, region, maxCells).collect()))
        // build and collect inside the group: a job the build starts counts too
        for ((name, run) <- actions) yield {
          val g = s"$name/partitions=$parts"
          sc.setJobGroup(g, g)
          try assert(run().length == tileAt.length, g) finally sc.clearJobGroup()
          g
        }
      }
      // an input with a shuffle of its own: building still starts no job
      // (its shuffle runs when the result is acted on)
      val builds = Seq[(String, () => Dataset[Raster])](
        "build mergeToTiles" -> (() => Mosaic.mergeToTiles(
          spark.createDataset(items).repartition(3), region, Mosaic.Sum, Resample.Bicubic, maxCells)),
        "build mergeToTilesCog" -> (() => Mosaic.mergeToTilesCog(
          spark.createDataset(files).repartition(3), region, Mosaic.Sum, Resample.Nearest, maxCells)),
        "build slope" -> (() => Focal.slope(Mosaic.mergeToTiles(spark.createDataset(items),
          region, Mosaic.Sum, Resample.Nearest, maxCells).repartition(3), region, maxCells)))
      val built = for ((g, build) <- builds) yield {
        sc.setJobGroup(g, g)
        try build() finally sc.clearJobGroup()
      }
      // listener events arrive in order: once the marker job is seen, every
      // job the actions started has been seen too
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("marker"))
      val jobs = started.toArray.toSeq.groupBy(identity).map(kv => kv._1 -> kv._2.size)
      groups.flatten.foreach(g => assert(jobs.getOrElse(g, 0) == 1, s"$g: $jobs"))
      builds.foreach { case (g, _) => assert(!jobs.contains(g), s"$g: $jobs") }
      built.foreach(ds => assert(ds.collect().length == tileAt.length))
    } finally sc.removeSparkListener(listener)
  }

  test("cellRows: many tiles give the rows of one region-sized tile") {
    import spark.implicits._
    // off-origin region whose tile offsets come out inexact on both sides
    // (19.999999999999996 in x, 20.000000000000004 in y); cells no item
    // reaches stay NaN and come out null; band 2 = -2 * band 1 - 1
    val shifted = TileGeometry(60, 40, -0.279, 3.123, -0.745, 2.983, 4326, 0L, 0L)
    def rows(maxCells: Long) = {
      val tiles = Mosaic.mergeToTiles(spark.createDataset(items), shifted, Mosaic.Substitute,
                                      maxCells = maxCells)
        .map(r => r.copy(bands = Seq(r.bands.head, r.bands.head.map(v => -2.0 * v - 1.0))))
      Mosaic.cellRows(tiles, shifted, "v", "w").as[(Long, Long, Option[Double], Option[Double])]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    }
    val split = rows(maxCells)
    assert(Mosaic.splitTiles(shifted, maxCells).length == 6)
    assert(split.map(r => (r._1, r._2)) ===
      (for (x <- 0L until 60L; y <- 0L until 40L) yield (x, y)))
    assert(split.exists(_._3.isEmpty) && split.exists(_._3.isDefined))
    split.foreach { case (_, _, v, w) => assert(w === v.map(x => -2.0 * x - 1.0)) }
    assert(split === rows(shifted.cells))
  }
}
