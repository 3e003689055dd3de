package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Raster, TileGeometry}
import graft.raster.{CogFile, DataKey, Mosaic, Resample}
import graft.sources.GeoTiff

/**
 * Raster-semantics operators, each SQL-checkable against DuckDB (the dense
 * per-tile kernels with reference-quirk parity live in graft.raster and are
 * golden-tested in ScalaTest as well):
 *
 *  - relational restatements: q20 band mix (A1, BandMixing.java:5-33), q21
 *    SUBSTITUTE merge by (ts, id) (A2/W1, StacResource.java:467-479), q22
 *    SUM merge + nodata chain + coverage stats (A2/A3/P2), q23 padding join
 *    (J5, WCSAdapter.java:344-365), q27 histogram (A4), q28/q95 transform
 *    expressions (P3), q29 DataKey encode (P4), q99 viewport fit (O3), q100
 *    the TileEncoder mask/guard/nodata chain (P5/F3);
 *  - grid arithmetic: q24 nearest resample (J3/W2), q63 3857 -> 4326
 *    reprojection (J3, RasterEncoder.java:376-389);
 *  - the distributed mosaic (Mosaic.mergeToTiles / mergeToTilesCog) over
 *    synthetic nation-keyed items: q25/q26 SUBSTITUTE/SUM, q67/q71/q96
 *    bilinear/bicubic/bicubic2 kernels, q64/q72 mixed-CRS and UTM items
 *    (StacResource.java:421-427);
 *  - the same items through staged GeoTIFF files scanned with binaryFile:
 *    q68 stripped, q69 tiled multi-band, q73 overview selection, q74 COG
 *    windows, q101 BigTIFF, q94/q104 8-/16-bit palette zonal counts.
 *
 * Every mosaic query returns its tiles as (cx, cy, cell_idx, v) rows
 * through [[graft.raster.Mosaic.cellRows]].
 */
object RasterQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Round-6: direct column arithmetic instead of array + higher-order
    // folds — aggregate/array_max/array_position are CodegenFallback and
    // allocated a 3-element array per row to compute a 3-term fold; the
    // flat expressions below evaluate in the SAME left-to-right IEEE order
    // ((0.0 + b1) + b2) + b3 and first-match argmax, which is also exactly
    // the oracle's formulation (0.0 + b1 + b2 + b3, GREATEST, CASE chain).
    "q20_bandmix" -> { (s, dir) =>
      import s.implicits._
      val b1 = $"l_quantity"; val b2 = $"l_discount" * 100
      val b3 = $"l_linenumber".cast("double")
      val bsum = lit(0.0) + b1 + b2 + b3
      val bmax = greatest(b1, b2, b3)
      Tables.wide(s, dir, "lineitem")
        .select(
          $"l_orderkey", $"l_linenumber",
          bsum.as("band_sum"),
          bmax.as("band_max"),
          least(b1, b2, b3).as("band_min"),
          round(bsum / 3.0, 6).as("band_avg"),
          (when(b1 === bmax, 1L).when(b2 === bmax, 2L).otherwise(3L) - 1)
            .as("argmax_band"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    "q21_merge_substitute" -> { (s, dir) =>
      import s.implicits._
      // last-write-wins per cell (user_id as the cell key), ordered by
      // (ts, event_id) — the deterministic restatement of SUBSTITUTE merge
      Tables.read(s, dir, "events")
        .withColumn("ms", unix_millis($"ts".cast("timestamp")))
        .groupBy($"user_id")
        .agg(
          max_by($"event_id", struct($"ms", $"event_id")).as("last_event_id"),
          max_by($"value", struct($"ms", $"event_id")).as("last_value"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    },

    "q22_merge_sum_stats" -> { (s, dir) =>
      import s.implicits._
      // nodata chain: magnitude guard maps "out of range" values to nodata
      // (NULL in the relational restatement; NaN inside dense tiles)
      Tables.read(s, dir, "events")
        .withColumn("v", when($"value" <= 180.0, $"value"))
        .groupBy($"event_type")
        .agg(
          sum(round($"v" * 100, 0).cast("bigint")).as("sum_cents"),
          count($"v").as("n_data"),
          (count(lit(1)) - count($"v")).as("n_nodata"),
          min($"v").as("vmin"),
          max($"v").as("vmax"))
        .orderBy($"event_type")
    },

    "q23_padding_join" -> { (s, dir) =>
      import s.implicits._
      // requested region = full 60x40 grid; received cells = sparse events
      // projection; pad the difference with nodata (NULL)
      // full grid from one sequence + index decomposition (no join in the
      // grid build — a crossJoin of two sequences plans a nested loop)
      val grid = s.range(1)
        .select(explode(sequence(lit(0L), lit(60L * 40 - 1))).as("i"))
        .select(($"i" / 40).cast("long").as("gx"), ($"i" % 40).as("gy"))
      val fetched = Tables.read(s, dir, "events")
        .withColumn("gx", $"event_id" * 31 % 60)
        .withColumn("gy", $"event_id" * 17 % 40)
        .groupBy($"gx", $"gy")
        .agg(max_by($"value", $"event_id").as("v"), count(lit(1)).as("n_src"))
      grid.join(fetched, Seq("gx", "gy"), "left")
        .select($"gx", $"gy", $"v", coalesce($"n_src", lit(0L)).as("n_src"),
                $"v".isNotNull.as("filled"))
        .orderBy($"gx", $"gy")
    },

    // value histogram (A4, Renderer.java:142-173 recovered intent):
    // fixed-width buckets over the value plane
    "q27_histogram" -> { (s, dir) =>
      import s.implicits._
      Tables.read(s, dir, "orders")
        .withColumn("bucket", floor($"o_totalprice" / 50000.0).cast("bigint"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"),
             min($"o_totalprice").as("lo"),
             max($"o_totalprice").as("hi"))
        .orderBy($"bucket")
    },

    // per-cell transform expression (P3, RasterEncoder.java:115-130): the
    // Groovy-script replacement compiled to a Catalyst Column at plan time,
    // applied only to data values (nodata passes through)
    "q28_transform_expr" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.TransformExpr
      Tables.read(s, dir, "events")
        .withColumn("v", when($"value" <= 400.0, $"value").otherwise(lit(Double.NaN)))
        .withColumn("t", TransformExpr.column("(self * 2 + 1 - abs(self - 100)) / 4", $"v"))
        .select($"event_id", when(isnan($"t"), lit(null)).otherwise($"t").as("t"))
        .orderBy($"event_id")
    },

    // BRANCHING transform expression (P3 completion: reference Groovy
    // scripts branch, e.g. `self > 0 ? self : 0` — RasterEncoder.java:
    // 115-130): nested ternary + comparisons + '&&' + '%' compiled to
    // when()/otherwise() on the Column path. Every leaf references self so
    // NULL propagates identically through Spark's when and DuckDB's CASE.
    "q95_transform_conditional" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.TransformExpr
      Tables.read(s, dir, "events")
        .withColumn("v", when($"value" <= 400.0, $"value").otherwise(lit(Double.NaN)))
        .withColumn("t", TransformExpr.column(
          "self > 200 ? sqrt(self) * 2 : (self < 50 && self != 10 ? -self : self % 7 + 1)",
          $"v"))
        .select($"event_id", when(isnan($"t"), lit(null)).otherwise($"t").as("t"))
        .orderBy($"event_id")
    },

    // categorical encode through a DataKey dictionary (P4,
    // Geotools.java:347-353): codes = sorted distinct labels
    "q29_datakey_encode" -> { (s, dir) =>
      import s.implicits._
      val labels = Tables.read(s, dir, "customer")
        .select($"c_mktsegment").distinct().as[String].collect().toSeq
      val key = DataKey.fromLabels(labels)
      Tables.read(s, dir, "customer")
        .select($"c_custkey",
                DataKey.encodeConcept(key)($"c_mktsegment").cast("bigint").as("code"))
        .orderBy($"c_custkey")
    },

    "q25_mosaic_substitute_grid" -> { (s, dir) =>
      unitMosaic(unitItems(s, dir), Mosaic.Substitute)
    },

    "q26_mosaic_sum_grid" -> { (s, dir) =>
      unitMosaic(unitItems(s, dir), Mosaic.Sum)
    },

    "q24_resample_nearest" -> { (s, dir) =>
      import s.implicits._
      // virtual source raster 934x631 with v(sx,sy) = ((sx*31+sy*17)%997)/10.0
      // resampled onto a 100x80 target over the same bbox: pure grid affine,
      // target cell center -> source cell (nearest kernel)
      val _ = dir // source is synthesized; scale-independent golden
      val target = s.range(1)
        .select(explode(sequence(lit(0L), lit(100L * 80 - 1))).as("i"))
        .select(($"i" / 80).cast("long").as("tx"), ($"i" % 80).as("ty"))
      target
        .withColumn("sx", floor(($"tx" + 0.5) / 100.0 * 934.0).cast("long"))
        .withColumn("sy", floor(($"ty" + 0.5) / 80.0 * 631.0).cast("long"))
        .withColumn("v", (($"sx" * 31 + $"sy" * 17) % 997).cast("double") / 10.0)
        .select($"tx", $"ty", $"sx", $"sy", $"v")
        .orderBy($"tx", $"ty")
    },

    // CRS reprojection (J3 completion, RasterEncoder.java:376-389): a
    // 500x500 EPSG:3857 source (1 km cells, x in [-8.5e6, -8e6], y in
    // [2e5, 7e5], v(sx,sy) = ((sx*31+sy*17)%997)/10) sampled onto a 100x80
    // EPSG:4326 target (lon [-76,-72], lat [2,6]): each target cell center
    // is forward-projected to Web Mercator, then the source-grid affine +
    // nearest kernel. Degree->radian and Mercator math is spelled out
    // identically in both engines (x/180*pi, not radians()) and the
    // fractional source coord is ROUND(...,6)'d before FLOOR so a last-ulp
    // libm difference between JVM Math and DuckDB's C library can't flip a
    // cell. The engine path (Crs/Resample hook) is covered in CrsSpec.
    "q63_reproject" -> { (s, dir) =>
      import s.implicits._
      val _ = dir // source is synthesized; scale-independent golden
      val R = 6378137.0
      val target = s.range(1)
        .select(explode(sequence(lit(0L), lit(100L * 80 - 1))).as("i"))
        .select(($"i" / 80).cast("long").as("tx"), ($"i" % 80).as("ty"))
      target
        .withColumn("wx", lit(-76.0) + ($"tx" + lit(0.5)) * (lit(4.0) / 100))
        .withColumn("wy", lit(2.0) + ($"ty" + lit(0.5)) * (lit(4.0) / 80))
        .withColumn("mx", lit(R) * ($"wx" / 180 * lit(math.Pi)))
        .withColumn("my", lit(R) * log(tan(lit(math.Pi) / 4 + ($"wy" / 180 * lit(math.Pi)) / 2)))
        .withColumn("sx", floor(round(($"mx" + 8500000.0) / 1000, 6)).cast("long"))
        .withColumn("sy", floor(round(($"my" - 200000.0) / 1000, 6)).cast("long"))
        .select($"tx", $"ty", $"sx", $"sy",
                ((($"sx" * 31 + $"sy" * 17) % 997).cast("double") / 10.0).as("v"))
        .orderBy($"tx", $"ty")
    },

    // GeoTIFF-backed mosaic (S1 as a DISTRIBUTED scan): the q25 items are
    // written as real GeoTIFF files (float64, DEFLATE), scanned back with
    // Spark's binaryFile source and decoded per-executor by the pure-Scala
    // codec, then merged exactly like q25 — same oracle. Anything lost or
    // distorted by the TIFF round-trip (values, envelope, timestamps parsed
    // from the item id) flips the hash compare.
    "q68_geotiff_mosaic" -> { (s, dir) =>
      import s.implicits._
      val files = stagedTiffs(s, dir, "q68") { (k, f) =>
        GeoTiff.write(unitItem(k, Seq(itemValues(k, 30, 20))), f, deflate = true)
      }
      unitMosaic(files.map(f => GeoTiff.parse(f.bytes, f.item_id, f.ts)), Mosaic.Substitute)
    },

    // viewport aspect-fit on an oracle path (O3, Viewport.java:83-111): the
    // reference's exact integer math — truncating divisions, the shrink
    // factor re-applied to both axes — replayed per (viewport, map) pair.
    // Landscape and portrait maps alternate so both branches run.
    "q99_viewport" -> { (s, dir) =>
      import s.implicits._
      import graft.sources.GeodataIO
      val fit = udf { (vw: Int, vh: Int, mw: Int, mh: Int) =>
        GeodataIO.viewportSize(vw, vh, mw, mh)
      }
      Tables.read(s, dir, "nation")
        .select($"n_nationkey".cast("long").as("k"))
        .withColumn("vw", ($"k" * 13 + 640).cast("int"))
        .withColumn("vh", ($"k" * 7 + 480).cast("int"))
        .withColumn("mw", when($"k" % 2 === 0, $"k" * 31 + 1000).otherwise($"k" * 17 + 700).cast("int"))
        .withColumn("mh", when($"k" % 2 === 0, $"k" * 17 + 700).otherwise($"k" * 31 + 1000).cast("int"))
        .withColumn("o", fit($"vw", $"vh", $"mw", $"mh"))
        .select($"k", $"vw".cast("bigint").as("vw"), $"vh".cast("bigint").as("vh"),
                $"mw".cast("bigint").as("mw"), $"mh".cast("bigint").as("mh"),
                $"o._1".cast("bigint").as("out_w"), $"o._2".cast("bigint").as("out_h"))
        .orderBy($"k")
    },

    // the FULL encode chain on an oracle path (P5 coordinate-checker mask,
    // Geotools.java:577-581; the 1e35 magnitude guard; F3 epsilon nodata
    // equality, RasterEncoder.java:167): synthesized 20x10 rasters run
    // through TileEncoder.encode per executor with a mask predicate, a
    // planted 1e36 cell, and nodata values within epsilon of 7.0 — the
    // oracle replays every branch with the same IEEE expressions.
    "q100_encode_mask" -> { (s, dir) =>
      import s.implicits._
      import graft.raster.TileEncoder
      val w = 20; val h = 10
      nationKeys(s, dir)
        .flatMap { k =>
          val bands = Seq(Array.tabulate(w * h) { i =>
            val x = i / h; val y = i % h
            if ((x * 17 + y * 13 + k) % 11 == 0) 1.0e36
            else if ((x + y + k) % 7 == 0) 7.0 + k * 1.0e-10
            else (x * 31 + y * 17 + k).toDouble / 4.0
          })
          val r = Raster(f"item-$k%03d", k, w, h, 0, w, 0, h, 4326, bands)
          val vals = TileEncoder.encode(r, TileEncoder.EncodeParams(
            nodata = Set(7.0),
            cellMask = Some((x, y) => (x + 2 * y + k) % 5 != 0)))
          for (x <- 0 until w; y <- 0 until h) yield {
            val v = vals(x * h + y)
            (k, x.toLong, y.toLong,
             if (java.lang.Double.isNaN(v)) None else Some(v))
          }
        }
        .toDF("k", "x", "y", "v")
        .orderBy($"k", $"x", $"y")
    },

    // PALETTE GeoTIFF end-to-end (ColorMap tag 320 + photometric 3 — the
    // categorical landcover product shape; the reference reads these via
    // GeoTools' palette handling): 25 paletted landcover tiles written by
    // the executors, scanned back with binaryFile, decoded to palette
    // INDICES (= the DataKey codes, P4), colors recovered from the ColorMap
    // (exact 257-scale inverse), labels joined through the broadcast
    // DataKey dim table, then categorical zonal counts per (item, class).
    // Any defect in uint8 decode, ColorMap layout (R/G/B planes) or the
    // code->label pairing flips the hash.
    "q94_palette_zonal" -> { (s, dir) =>
      paletteZonal(s, dir, "q94", Seq("bare", "crops", "forest", "grass", "urban", "water"),
                   Seq.tabulate(6)(c => (c * 40, 255 - c * 40, c * 20)), bits = 8, keyMul = 1)
    },

    // 16-BIT palette zonal (q94's path at a code space no 8-bit index can
    // hold): 300 landcover classes -> BitsPerSample 16, 2^16-entry ColorMap
    // (the legal TIFF shape: 3 x 2^bits SHORTs), palette indices decoded
    // from uint16 samples. Any defect in 16-bit index decode, the 16-bit
    // ColorMap plane layout, or the wide DataKey dictionary pairing flips
    // the hash.
    "q104_palette16_zonal" -> { (s, dir) =>
      paletteZonal(s, dir, "q104", (0 until 300).map(c => f"class-$c%03d"),
                   Seq.tabulate(300)(c => (c % 256, (c * 3) % 256, (c * 7) % 256)),
                   bits = 16, keyMul = 7)
    },

    // multi-band tiled GeoTIFF (COG shape) end-to-end (S1 completion +
    // P1/A1 from FILE BYTES, RasterEncoder.java:107-113,
    // StacResource.java:433-437): 25 three-band 30x20 rasters written as
    // TILED (16x16, DEFLATE, float32) GeoTIFFs — even keys pixel-interleaved
    // (PlanarConfiguration 1), odd keys band-planar (2) — by the EXECUTORS
    // (distributed fixture write, not a driver loop), scanned back with
    // binaryFile, decoded + band-mixed (A1 sum_value) per-executor, then
    // SUBSTITUTE-mosaicked like q68. Any defect in tile reassembly, edge-tile
    // padding, interleave handling or band order flips the hash compare.
    "q69_cog_bandmix_mosaic" -> { (s, dir) =>
      import s.implicits._
      val files = stagedTiffs(s, dir, "q69") { (k, f) =>
        GeoTiff.writeFull(unitItem(k, (0 until 3).map(b => itemValues(k, 30, 20, b * 7))), f,
          bits = 32, deflate = true, tile = Some((16, 16)),
          planar = if (k % 2 == 0) 1 else 2)
      }
      val items = files.map { f =>
        val r = GeoTiff.parse(f.bytes, f.item_id, f.ts)
        val cells = r.width * r.height
        val flat = new Array[Double](r.bands.length * cells)
        r.bands.zipWithIndex.foreach { case (b, i) =>
          System.arraycopy(b, 0, flat, i * cells, cells)
        }
        val mix = graft.raster.BandMixing.forName("sum_value")
        r.copy(bands = Seq(Array.tabulate(cells)(i => mix(flat, i, cells, r.bands.length))))
      }
      unitMosaic(items, Mosaic.Substitute)
    },

    // COG OVERVIEW selection end-to-end (the GDAL/GeoTools read-with-
    // subsampling behavior): 25 items written as tiled DEFLATE GeoTIFFs
    // with overview IFD chains — even keys carry x2 AND x4 overviews, odd
    // keys only x2 — then scanned distributed and decoded via
    // parseOverview(targetCellWidth = 4.0), which must pick the COARSEST
    // subfile that still resolves the 4-unit target cells: factor 4 for
    // even items, factor 2 for odd. The mosaic values are therefore
    // nearest-decimated full-res values at stride 4 or 2 per parity — the
    // oracle replays both selection outcomes, so picking the wrong IFD
    // (or mis-inheriting the envelope from IFD0) flips the compare.
    "q73_cog_overview_mosaic" -> { (s, dir) =>
      import s.implicits._
      val items = overviewTiffs(s, dir, "q73", bigTiff = false).map { f =>
        GeoTiff.parseOverview(f.bytes, f.item_id, f.ts, targetCellWidth = 4.0)
      }
      regionCells(Mosaic.mergeToTiles(items, OverviewRegion, Mosaic.Substitute,
                                      maxCells = 2000L), OverviewRegion)
    },

    // the COG-NATIVE mosaic pipeline end-to-end (probe -> per-tile window
    // decode and resample -> patch shuffle, Mosaic.mergeToTilesCog): same
    // fixture and oracle as q73, but files are never fully decoded — each
    // (item, tile) pair inflates only the strips/tiles under the tile bbox +
    // apron at the selected overview level, and the shuffle carries patches
    // sized by the REGION, not the source resolution. Bit-equality of the two
    // pipelines is additionally proven across kernels/modes/CRS in
    // CogMosaicSpec; this entry pins the result to the DuckDB oracle. The
    // fixture key is q73's, so q73+q74 in one session write the files once.
    "q74_cog_window_mosaic" -> { (s, dir) =>
      cogWindowMosaic(overviewTiffs(s, dir, "q73", bigTiff = false))
    },

    // BigTIFF (TIFF version 43) through the COG-NATIVE window pipeline:
    // identical fixture semantics to q73/q74 but every file is written
    // with 8-byte IFD offsets/counts and LONG8 strip/tile offset arrays —
    // the format GDAL emits for COGs past 4 GiB (the reference reads it
    // transparently via GeoTools' TIFFImageReader). Shares q73's oracle:
    // the format change must not move a single value, only the header
    // bytes parsed. Probe/overview-select/window-decode all run on the
    // BigTIFF IFD chain.
    "q101_cog_bigtiff" -> { (s, dir) =>
      cogWindowMosaic(overviewTiffs(s, dir, "q101", bigTiff = true))
    },

    // kernel-switched mosaic (W2 + the semantic chooser's override path,
    // RasterAdapter.java:59-88): the q25 items BILINEAR-resampled onto a 2x
    // coarser region — every target cell center lands exactly between four
    // source centers (fx = fy = 0.5), so the blend is exact quarter
    // arithmetic the oracle replays (border taps clamp, reference JAI
    // behavior). Kernel selected via forObservable("quantification",
    // Some("bilinear")) — the explicit-parameter override.
    "q67_mosaic_bilinear" -> { (s, dir) =>
      halfResMosaic(s, dir, Some("bilinear"))
    },

    // bicubic mosaic through the semantic DEFAULT chooser (W2 completion,
    // RasterAdapter.java:59-79 getDefaultForType applied at
    // WCSAdapter.java:262-276): same geometry as q67 but the kernel comes
    // from forObservable("quantification", None) — continuous observations
    // default to BICUBIC (4x4 cubic convolution, JAI a=-0.5). Every target
    // cell center lands mid-way between source centers (fx = fy = 0.5), so
    // the 16 taps carry the exact dyadic weights (-1, 9, 9, -1)/16 per axis
    // and the result is an exact rational the oracle replays bit-for-bit
    // (border taps clamp, JAI border extension).
    "q71_mosaic_bicubic_default" -> { (s, dir) =>
      halfResMosaic(s, dir, None)
    },

    // bicubic2 (a = -1.0, JAI InterpolationBicubic2 — RasterEncoder.java:
    // 308-330) on an oracle path: the q71 geometry through the explicit
    // `interpolation=bicubic2` override. At the exact half-cell offsets the
    // taps are (-2, 10, 10, -2)/16 (a=-0.5 gives (-1, 9, 9, -1)/16), so the
    // oracle replays integer tap products / 256 — any mix-up between the
    // two cubic variants flips the hash.
    "q96_mosaic_bicubic2" -> { (s, dir) =>
      halfResMosaic(s, dir, Some("bicubic2"))
    },

    // UTM leg of the CRS stack on an oracle-checked path (J3 completion —
    // the round-2 verdict's missing #4): the q64 shape but the odd items are
    // georeferenced in EPSG:32618 (UTM 18N, 8km cells), so every odd
    // contribution runs the Krüger n-series forward transform
    // (Crs.Utm.fromLonLat) inside Mosaic's CRS hook; the oracle replays the
    // whole series — constants from F, atanh via ln, sinh/cosh via exp —
    // with the JVM's exact expression structure (q63's spell-it-out
    // discipline). The envelope prefilter additionally exercises the
    // INVERSE transform (conservative bbox only; per-cell refine is exact).
    "q72_mosaic_utm" -> { (s, dir) =>
      import s.implicits._
      val items = nationKeys(s, dir).map { k =>
        val vals = Seq(itemValues(k, 30, 20))
        if (k % 2 == 0)
          Raster(f"item-$k%03d", k, 30, 20,
                 -76.0 + k * 0.08, -76.0 + k * 0.08 + 0.9,
                 2.0 + k * 0.05, 2.0 + k * 0.05 + 0.5, 4326, vals)
        else
          Raster(f"item-$k%03d", k, 30, 20,
                 370000.0 + k * 4000.0, 370000.0 + k * 4000.0 + 240000.0,
                 200000.0 + k * 6000.0, 200000.0 + k * 6000.0 + 160000.0, 32618, vals)
      }
      val region = TileGeometry(100, 80, -76.0, -74.0, 2.0, 3.6, 4326, 0L, 0L)
      regionCells(Mosaic.mergeToTiles(items, region, Mosaic.Substitute, maxCells = 2000L),
                  region)
    },

    // mixed-CRS mosaic (StacResource.java:421-427 unify-to-4326): 25 items,
    // even nation keys georeferenced in EPSG:4326 (0.1 deg cells), odd keys
    // in EPSG:3857 (12 km cells), SUBSTITUTE-merged onto a 100x80 EPSG:4326
    // region through the engine's Mosaic/Resample CRS hook; the oracle
    // replays the per-cell forward projection + source affine in SQL.
    "q64_mosaic_mixed_crs" -> { (s, dir) =>
      import s.implicits._
      val items = nationKeys(s, dir).map { k =>
        val vals = Seq(itemValues(k, 30, 20))
        if (k % 2 == 0)
          Raster(f"item-$k%03d", k, 30, 20,
                 k * 0.3, k * 0.3 + 3.0, k * 0.2, k * 0.2 + 2.0, 4326, vals)
        else
          Raster(f"item-$k%03d", k, 30, 20,
                 k * 33000.0, k * 33000.0 + 360000.0,
                 k * 22000.0, k * 22000.0 + 240000.0, 3857, vals)
      }
      val region = TileGeometry(100, 80, 0.0, 10.0, 0.0, 8.0, 4326, 0L, 0L)
      regionCells(Mosaic.mergeToTiles(items, region, Mosaic.Substitute, maxCells = 2000L),
                  region)
    })

  /** q72 region: 100x80 cells over lon [-76, -74], lat [2, 3.6] —
    * inside UTM zone 18 so the Krüger series stays convergent. */
  private val UtmRegionSql =
    """cells AS (
      |  SELECT cx.cx, cy.cy FROM generate_series(0, 99) cx(cx), generate_series(0, 79) cy(cy)),
      |cc AS (
      |  SELECT cx, cy,
      |         -76.0E0 + (cx + 0.5E0) * ((-74.0E0 - (-76.0E0)) / 100) AS wx,
      |         2.0E0 + (cy + 0.5E0) * ((3.6E0 - 2.0E0) / 80) AS wy
      |  FROM cells)""".stripMargin

  /** The Krüger n^3 forward series (Crs.Utm.fromLonLat) spelled out in SQL
    * with the JVM's exact expression structure: constants from
    * F = 1/298.257223563, atanh(v) = 0.5*ln((1+v)/(1-v)),
    * sinh/cosh via exp. Emits (cx, cy, ux, uy) for zone 18 north. */
  private val UtmForwardSql =
    """konst AS (
      |  SELECT n, n * n AS n2, (n * n) * n AS n3,
      |         (2 * sqrt(n)) / (1 + n) AS e2s
      |  FROM (SELECT f / (2 - f) AS n
      |        FROM (SELECT 1.0E0 / 298.257223563E0 AS f))),
      |konst2 AS (
      |  SELECT n, n2, n3, e2s,
      |         6378137.0E0 / (1 + n) * (1 + n2 / 4 + n2 * n2 / 64) AS abar,
      |         n / 2 - 2 * n2 / 3 + 5 * n3 / 16 AS a1,
      |         13 * n2 / 48 - 3 * n3 / 5 AS a2,
      |         61 * n3 / 240 AS a3
      |  FROM konst),
      |ll AS (
      |  SELECT cx, cy, wx, wy,
      |         wy / 180 * pi() AS phi,
      |         wx / 180 * pi() - ((18 * 6.0E0 - 183.0E0) / 180 * pi()) AS lam,
      |         sin(wy / 180 * pi()) AS sp
      |  FROM cc),
      |tt AS (
      |  SELECT l.*, k.*,
      |         (exp(0.5E0 * ln((1 + sp) / (1 - sp)) - k.e2s * (0.5E0 * ln((1 + k.e2s * sp) / (1 - k.e2s * sp))))
      |          - exp(-(0.5E0 * ln((1 + sp) / (1 - sp)) - k.e2s * (0.5E0 * ln((1 + k.e2s * sp) / (1 - k.e2s * sp)))))) / 2 AS t
      |  FROM ll l, konst2 k),
      |pp AS (
      |  SELECT *, atan2(t, cos(lam)) AS xip,
      |         0.5E0 * ln((1 + sin(lam) / sqrt(1 + t * t)) / (1 - sin(lam) / sqrt(1 + t * t))) AS etap
      |  FROM tt),
      |xe AS (
      |  SELECT cx, cy,
      |         xip + a1 * sin(2 * xip) * ((exp(2 * etap) + exp(-(2 * etap))) / 2)
      |             + a2 * sin(4 * xip) * ((exp(4 * etap) + exp(-(4 * etap))) / 2)
      |             + a3 * sin(6 * xip) * ((exp(6 * etap) + exp(-(6 * etap))) / 2) AS xi,
      |         etap + a1 * cos(2 * xip) * ((exp(2 * etap) - exp(-(2 * etap))) / 2)
      |              + a2 * cos(4 * xip) * ((exp(4 * etap) - exp(-(4 * etap))) / 2)
      |              + a3 * cos(6 * xip) * ((exp(6 * etap) - exp(-(6 * etap))) / 2) AS eta,
      |         abar
      |  FROM pp),
      |utm AS (
      |  SELECT cx, cy,
      |         500000.0E0 + 0.9996E0 * abar * eta AS ux,
      |         0.0E0 + 0.9996E0 * abar * xi AS uy
      |  FROM xe)""".stripMargin

  // ---- raster fixtures: one nation key k -> one synthetic item ----------

  private def nationKeys(s: SparkSession, dir: String): Dataset[Long] = {
    import s.implicits._
    Tables.read(s, dir, "nation").select($"n_nationkey".cast("long")).as[Long]
  }

  /** Item k's w x h values in D2_XY order: k*1000 + (sx*31 + sy*17 + shift) % 97
    * (`shift` = 7 per band in q69's multi-band items). */
  private def itemValues(k: Long, w: Int, h: Int, shift: Int = 0): Array[Double] =
    Array.tabulate(w * h)(i => k * 1000.0 + ((i / h) * 31 + (i % h) * 17 + shift) % 97)

  /** Item k on the unit grid: 30x20 cells at origin (3k, 2k), ts = k. */
  private def unitItem(k: Long, bands: Seq[Array[Double]]): Raster =
    Raster(f"item-$k%03d", k, 30, 20, k * 3.0, k * 3.0 + 30, k * 2.0, k * 2.0 + 20, 4326, bands)

  private def unitItems(s: SparkSession, dir: String): Dataset[Raster] = {
    import s.implicits._
    nationKeys(s, dir).map(k => unitItem(k, Seq(itemValues(k, 30, 20))))
  }

  /**
   * Stage one GeoTIFF per nation key under `name` (FixtureStage: written
   * once per key, reused by every later pass and JVM; the key carries the
   * content stamp of nation.parquet, which is byte-identical across sf
   * dirs, so a warm-up pass pre-stages the tree the measured pass reads and
   * no fixture I/O lands in a timed region), then scan the tree back with
   * the binaryFile source. The write is DISTRIBUTED: each executor encodes
   * its own items (local FS here; a cluster stages to shared storage).
   * Files are `item-<k>.tif`; the scan recovers ts = k from the name.
   */
  private def stagedTiffs(s: SparkSession, dir: String, name: String)
                         (write: (Long, java.io.File) => Unit): Dataset[CogFile] = {
    import s.implicits._
    val stagePath = FixtureStage.stage(
      s"${name}_" + FixtureStage.contentStamp(Tables.path(dir, "nation")), version = 1) { out =>
      nationKeys(s, dir).foreach(k => write(k, new java.io.File(out, f"item-$k%03d.tif")))
    }
    s.read.format("binaryFile").load(stagePath + "/*.tif")
      .select($"path", $"content").as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val id = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".tif")
        CogFile(id, id.stripPrefix("item-").toLong, bytes)
      }
  }

  /** The q73/q74/q101 overview fixture: item k is 32x16 unit cells at origin
    * (6k, 4k), tiled 16x16 DEFLATE float32, with x2 and x4 overviews on even
    * keys and x2 only on odd keys. */
  private def overviewTiffs(s: SparkSession, dir: String, name: String,
                            bigTiff: Boolean): Dataset[CogFile] =
    stagedTiffs(s, dir, name) { (k, f) =>
      val r = Raster(f"item-$k%03d", k, 32, 16,
                     k * 6.0, k * 6.0 + 32.0, k * 4.0, k * 4.0 + 16.0, 4326,
                     Seq(itemValues(k, 32, 16)))
      GeoTiff.writeFull(r, f, bits = 32, deflate = true, tile = Some((16, 16)),
        overviews = if (k % 2 == 0) Seq(2, 4) else Seq(2), bigTiff = bigTiff)
    }

  /** 100x80 region of 4-unit cells over the overview fixture. */
  private val OverviewRegion = TileGeometry(100, 80, 0.0, 400.0, 0.0, 320.0, 4326, 0L, 0L)

  /** 100x80 region of unit cells over the unit-grid items. */
  private val UnitRegion = TileGeometry(100, 80, 0.0, 100.0, 0.0, 80.0, 4326, 0L, 0L)

  /** Mosaic tiles as (cx, cy, cell_idx, v) rows in D2_XY order. */
  private def regionCells(tiles: Dataset[Raster], region: TileGeometry): DataFrame =
    Mosaic.cellRows(tiles, region, "v")
      .select(col("cx"), col("cy"), (col("cx") * region.height + col("cy")).as("cell_idx"),
              col("v"))
      .orderBy(col("cx"), col("cy"))

  /**
   * The distributed raster mosaic (Mosaic.mergeToTiles) driven end-to-end:
   * 25 unit-grid items (one per nation key k; 30x20 cells at unit resolution,
   * origin (3k, 2k), value k*1000 + (sx*31+sy*17)%97, ts=k) merged onto a
   * 100x80 region split into <=2000-cell tiles, then exploded back to
   * (cx, cy, cell_idx, v) rows. Nearest resample on aligned unit grids is
   * exact integer arithmetic, so DuckDB replays it with generate_series.
   */
  private def unitMosaic(items: Dataset[Raster], mode: Mosaic.MergeMode): DataFrame =
    regionCells(Mosaic.mergeToTiles(items, UnitRegion, mode, maxCells = 2000L), UnitRegion)

  /** The unit-grid items resampled onto a 2x coarser 50x40 region with the
    * kernel `Resample.forObservable` picks for `interpolation`. */
  private def halfResMosaic(s: SparkSession, dir: String,
                            interpolation: Option[String]): DataFrame = {
    val region = TileGeometry(50, 40, 0.0, 100.0, 0.0, 80.0, 4326, 0L, 0L)
    val kernel = Resample.forObservable("quantification", interpolation)
    regionCells(Mosaic.mergeToTiles(unitItems(s, dir), region, Mosaic.Substitute,
                                    kernel, maxCells = 500L), region)
  }

  /** The COG-native window mosaic of the overview fixture onto its region. */
  private def cogWindowMosaic(files: Dataset[CogFile]): DataFrame =
    regionCells(Mosaic.mergeToTilesCog(files, OverviewRegion, Mosaic.Substitute,
                                       maxCells = 2000L,
                                       targetCellWidth = OverviewRegion.cellWidth),
                OverviewRegion)

  /** Categorical zonal counts over paletted GeoTIFFs: item k is a unit-grid
    * item of class codes (sx*31 + sy*17 + k*keyMul) % labels.size, written
    * with a `bits`-bit ColorMap `pal`; every decoded index is paired with
    * its ColorMap color and, through the broadcast DataKey table, its label. */
  private def paletteZonal(s: SparkSession, dir: String, name: String, labels: Seq[String],
                           pal: Seq[(Int, Int, Int)], bits: Int, keyMul: Int): DataFrame = {
    import s.implicits._
    val nClasses = labels.length
    val files = stagedTiffs(s, dir, name) { (k, f) =>
      val codes = Array.tabulate(30 * 20)(i =>
        ((i / 20 * 31 + i % 20 * 17 + k * keyMul) % nClasses).toDouble)
      GeoTiff.writeFull(unitItem(k, Seq(codes)), f,
                        bits = bits, deflate = true, palette = Some(pal))
    }
    val counts = files
      .flatMap { f =>
        val r = GeoTiff.parse(f.bytes, f.item_id)
        val cm = GeoTiff.colorMap(f.bytes, f.item_id)
          .getOrElse(throw new IllegalArgumentException(s"${f.item_id}: no ColorMap"))
        r.bands.head.map { v =>
          val c = v.toInt
          (f.item_id, c.toLong, cm(c)._1.toLong, cm(c)._2.toLong, cm(c)._3.toLong)
        }
      }
      .toDF("item_id", "code", "red", "green", "blue")
      .groupBy($"item_id", $"code", $"red", $"green", $"blue")
      .agg(count(lit(1)).as("n_cells"))
    val dict = DataKey.toTable(s, DataKey.fromLabels(labels))
      .withColumn("code", $"code".cast("long"))
    counts.join(broadcast(dict), Seq("code"))
      .select($"item_id", $"code", $"label", $"n_cells", $"red", $"green", $"blue")
      .orderBy($"item_id", $"code")
  }

  /** q73/q74 shared replay: region cell centers wx = 4cx+2 land in item k's
    * grid (origin 6k/4k, full cells of 1); the engine reads the factor-4
    * overview for even k (values at full-res stride 4) and the factor-2
    * overview for odd k (stride 2). Pure integer arithmetic in both
    * engines. */
  private val CogOverviewOracle: String =
    """WITH cells AS (
      |  SELECT cx.cx, cy.cy FROM generate_series(0, 99) cx(cx), generate_series(0, 79) cy(cy)),
      |items AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
      |hits AS (
      |  SELECT c.cx, c.cy, i.k,
      |         4 * c.cx + 2 - 6 * i.k AS sx, 4 * c.cy + 2 - 4 * i.k AS sy
      |  FROM cells c, items i
      |  WHERE 4 * c.cx + 2 >= 6 * i.k AND 4 * c.cx + 2 < 6 * i.k + 32
      |    AND 4 * c.cy + 2 >= 4 * i.k AND 4 * c.cy + 2 < 4 * i.k + 16),
      |contrib AS (
      |  SELECT cx, cy, k,
      |         CAST(k * 1000 + CASE WHEN k % 2 = 0 THEN
      |           (4 * LEAST(GREATEST(CAST(FLOOR(sx / 4.0) AS BIGINT), 0), 7) * 31
      |          + 4 * LEAST(GREATEST(CAST(FLOOR(sy / 4.0) AS BIGINT), 0), 3) * 17) % 97
      |         ELSE
      |           (2 * LEAST(GREATEST(CAST(FLOOR(sx / 2.0) AS BIGINT), 0), 15) * 31
      |          + 2 * LEAST(GREATEST(CAST(FLOOR(sy / 2.0) AS BIGINT), 0), 7) * 17) % 97
      |         END AS DOUBLE) AS v
      |  FROM hits),
      |m AS (SELECT cx, cy, arg_max(v, k) AS v FROM contrib GROUP BY 1, 2)
      |SELECT c.cx, c.cy, c.cx * 80 + c.cy AS cell_idx, m.v
      |FROM cells c LEFT JOIN m ON c.cx = m.cx AND c.cy = m.cy
      |ORDER BY c.cx, c.cy""".stripMargin

  private def mosaicOracle(agg: String): String =
    s"""WITH cells AS (
       |  SELECT cx.cx, cy.cy FROM generate_series(0, 99) cx(cx), generate_series(0, 79) cy(cy)),
       |contrib AS (
       |  SELECT c.cx, c.cy, CAST(n_nationkey AS BIGINT) AS k,
       |         CAST(CAST(n_nationkey AS BIGINT) * 1000
       |           + ((c.cx - CAST(n_nationkey AS BIGINT) * 3) * 31
       |            + (c.cy - CAST(n_nationkey AS BIGINT) * 2) * 17) % 97 AS DOUBLE) AS v
       |  FROM cells c, nation
       |  WHERE c.cx >= CAST(n_nationkey AS BIGINT) * 3
       |    AND c.cx <  CAST(n_nationkey AS BIGINT) * 3 + 30
       |    AND c.cy >= CAST(n_nationkey AS BIGINT) * 2
       |    AND c.cy <  CAST(n_nationkey AS BIGINT) * 2 + 20),
       |m AS (SELECT cx, cy, $agg AS v FROM contrib GROUP BY 1, 2)
       |SELECT c.cx, c.cy, c.cx * 80 + c.cy AS cell_idx, m.v
       |FROM cells c LEFT JOIN m ON c.cx = m.cx AND c.cy = m.cy
       |ORDER BY c.cx, c.cy""".stripMargin

  val oracle: Map[String, String] = Map(
    "q27_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |       COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q28_transform_expr" ->
      """WITH e AS (
        |  SELECT event_id, CASE WHEN value <= 400.0 THEN value END AS v FROM events)
        |SELECT event_id, (v * 2 + 1 - abs(v - 100)) / 4 AS t
        |FROM e ORDER BY event_id""".stripMargin,

    "q95_transform_conditional" ->
      """WITH e AS (
        |  SELECT event_id, CASE WHEN value <= 400.0 THEN value END AS v FROM events)
        |SELECT event_id,
        |       CASE WHEN v > 200 THEN sqrt(v) * 2E0
        |            WHEN v < 50 AND v <> 10 THEN -v
        |            ELSE fmod(v, 7E0) + 1E0 END AS t
        |FROM e ORDER BY event_id""".stripMargin,

    "q29_datakey_encode" ->
      """WITH key AS (
        |  SELECT c_mktsegment AS label,
        |         ROW_NUMBER() OVER (ORDER BY c_mktsegment) - 1 AS code
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer))
        |SELECT c_custkey, CAST(k.code AS BIGINT) AS code
        |FROM customer c JOIN key k ON c.c_mktsegment = k.label
        |ORDER BY c_custkey""".stripMargin,

    "q25_mosaic_substitute_grid" -> mosaicOracle("arg_max(v, k)"),
    "q68_geotiff_mosaic" -> mosaicOracle("arg_max(v, k)"),

    "q99_viewport" ->
      """WITH ks AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |p AS (SELECT k, k * 13 + 640 AS vw, k * 7 + 480 AS vh,
        |        CASE WHEN k % 2 = 0 THEN k * 31 + 1000 ELSE k * 17 + 700 END AS mw,
        |        CASE WHEN k % 2 = 0 THEN k * 17 + 700 ELSE k * 31 + 1000 END AS mh
        |      FROM ks),
        |a AS (SELECT *, CAST(mw AS DOUBLE) / mh AS ar FROM p),
        |b AS (SELECT *,
        |        CASE WHEN mw > mh THEN vw ELSE CAST(FLOOR(vh * ar) AS BIGINT) END AS x0,
        |        CASE WHEN mw > mh THEN CAST(FLOOR(vw / ar) AS BIGINT) ELSE vh END AS y0
        |      FROM a),
        |c AS (SELECT *,
        |        CASE WHEN mw > mh AND y0 > vh THEN CAST(vh AS DOUBLE) / y0
        |             WHEN mw <= mh AND x0 > vw THEN CAST(vw AS DOUBLE) / x0
        |             ELSE 1E0 END AS fc,
        |        (mw > mh AND y0 > vh) OR (mw <= mh AND x0 > vw) AS shrink
        |      FROM b)
        |SELECT k, vw, vh, mw, mh,
        |       CASE WHEN shrink THEN CAST(FLOOR(x0 * fc) AS BIGINT) ELSE x0 END AS out_w,
        |       CASE WHEN shrink THEN CAST(FLOOR(y0 * fc) AS BIGINT) ELSE y0 END AS out_h
        |FROM c ORDER BY k""".stripMargin,

    "q100_encode_mask" ->
      """WITH ks AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |cells AS (
        |  SELECT ks.k, x.x, y.y
        |  FROM ks, generate_series(0, 19) x(x), generate_series(0, 9) y(y)),
        |raw AS (SELECT k, x, y,
        |  CASE WHEN (x * 17 + y * 13 + k) % 11 = 0 THEN 1E36
        |       WHEN (x + y + k) % 7 = 0 THEN 7E0 + k * 1E-10
        |       ELSE CAST(x * 31 + y * 17 + k AS DOUBLE) / 4 END AS r FROM cells)
        |SELECT k, x, y,
        |  CASE WHEN (x + 2 * y + k) % 5 = 0 THEN NULL
        |       WHEN r < -1E35 OR r > 1E35 THEN NULL
        |       WHEN abs(r - 7E0) < 1E-9 THEN NULL
        |       ELSE r END AS v
        |FROM raw ORDER BY k, x, y""".stripMargin,

    "q94_palette_zonal" ->
      """WITH ks AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |cells AS (
        |  SELECT ks.k, (x.x * 31 + y.y * 17 + ks.k) % 6 AS c
        |  FROM ks, generate_series(0, 29) x(x), generate_series(0, 19) y(y)),
        |cnt AS (SELECT k, c, CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells GROUP BY k, c),
        |lab AS (SELECT * FROM (VALUES (0, 'bare'), (1, 'crops'), (2, 'forest'),
        |                              (3, 'grass'), (4, 'urban'), (5, 'water')) l(c, label))
        |SELECT concat('item-', lpad(CAST(cnt.k AS VARCHAR), 3, '0')) AS item_id,
        |       cnt.c AS code, lab.label, cnt.n_cells,
        |       cnt.c * 40 AS red, 255 - cnt.c * 40 AS green, cnt.c * 20 AS blue
        |FROM cnt JOIN lab ON cnt.c = lab.c
        |ORDER BY item_id, code""".stripMargin,

    // q104: the q94 replay at 300 classes / 16-bit indices; labels and
    // colors are pure integer functions of the code
    "q104_palette16_zonal" ->
      """WITH ks AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |cells AS (
        |  SELECT ks.k, (x.x * 31 + y.y * 17 + ks.k * 7) % 300 AS c
        |  FROM ks, generate_series(0, 29) x(x), generate_series(0, 19) y(y)),
        |cnt AS (SELECT k, c, CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells GROUP BY k, c)
        |SELECT concat('item-', lpad(CAST(cnt.k AS VARCHAR), 3, '0')) AS item_id,
        |       cnt.c AS code,
        |       concat('class-', lpad(CAST(cnt.c AS VARCHAR), 3, '0')) AS label,
        |       cnt.n_cells,
        |       cnt.c % 256 AS red, (cnt.c * 3) % 256 AS green, (cnt.c * 7) % 256 AS blue
        |FROM cnt
        |ORDER BY item_id, code""".stripMargin,

    // q69: same grid/ownership as q25/q68, but each contribution is the
    // 3-band sum (band b adds b*7 to the value recurrence)
    "q69_cog_bandmix_mosaic" ->
      """WITH cells AS (
        |  SELECT cx.cx, cy.cy FROM generate_series(0, 99) cx(cx), generate_series(0, 79) cy(cy)),
        |contrib AS (
        |  SELECT c.cx, c.cy, CAST(n_nationkey AS BIGINT) AS k,
        |         CAST(3 * CAST(n_nationkey AS BIGINT) * 1000
        |           + ((c.cx - CAST(n_nationkey AS BIGINT) * 3) * 31
        |            + (c.cy - CAST(n_nationkey AS BIGINT) * 2) * 17) % 97
        |           + ((c.cx - CAST(n_nationkey AS BIGINT) * 3) * 31
        |            + (c.cy - CAST(n_nationkey AS BIGINT) * 2) * 17 + 7) % 97
        |           + ((c.cx - CAST(n_nationkey AS BIGINT) * 3) * 31
        |            + (c.cy - CAST(n_nationkey AS BIGINT) * 2) * 17 + 14) % 97 AS DOUBLE) AS v
        |  FROM cells c, nation
        |  WHERE c.cx >= CAST(n_nationkey AS BIGINT) * 3
        |    AND c.cx <  CAST(n_nationkey AS BIGINT) * 3 + 30
        |    AND c.cy >= CAST(n_nationkey AS BIGINT) * 2
        |    AND c.cy <  CAST(n_nationkey AS BIGINT) * 2 + 20),
        |m AS (SELECT cx, cy, arg_max(v, k) AS v FROM contrib GROUP BY 1, 2)
        |SELECT c.cx, c.cy, c.cx * 80 + c.cy AS cell_idx, m.v
        |FROM cells c LEFT JOIN m ON c.cx = m.cx AND c.cy = m.cy
        |ORDER BY c.cx, c.cy""".stripMargin,
    "q26_mosaic_sum_grid" -> mosaicOracle("SUM(v)"),
    "q20_bandmix" ->
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |         l_quantity AS b1, l_discount * 100 AS b2, CAST(l_linenumber AS DOUBLE) AS b3
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       0.0 + b1 + b2 + b3 AS band_sum,
        |       GREATEST(b1, b2, b3) AS band_max,
        |       LEAST(b1, b2, b3) AS band_min,
        |       ROUND((0.0 + b1 + b2 + b3) / 3.0, 6) AS band_avg,
        |       CASE WHEN b1 >= b2 AND b1 >= b3 THEN 0
        |            WHEN b2 >= b3 THEN 1 ELSE 2 END :: BIGINT AS argmax_band
        |FROM b ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q21_merge_substitute" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id, value AS last_value, n_events
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q22_merge_sum_stats" ->
      """WITH e AS (
        |  SELECT event_type, CASE WHEN value <= 180.0 THEN value END AS v FROM events)
        |SELECT event_type,
        |       CAST(SUM(CAST(ROUND(v * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       COUNT(v) AS n_data,
        |       COUNT(*) - COUNT(v) AS n_nodata,
        |       MIN(v) AS vmin,
        |       MAX(v) AS vmax
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q23_padding_join" ->
      """WITH grid AS (
        |  SELECT gx.gx, gy.gy FROM generate_series(0, 59) gx(gx), generate_series(0, 39) gy(gy)),
        |fetched AS (
        |  SELECT event_id * 31 % 60 AS gx, event_id * 17 % 40 AS gy,
        |         arg_max(value, event_id) AS v, COUNT(*) AS n_src
        |  FROM events GROUP BY 1, 2)
        |SELECT g.gx, g.gy, f.v, COALESCE(f.n_src, 0) AS n_src, f.v IS NOT NULL AS filled
        |FROM grid g LEFT JOIN fetched f ON g.gx = f.gx AND g.gy = f.gy
        |ORDER BY g.gx, g.gy""".stripMargin,

    "q24_resample_nearest" ->
      """WITH t AS (
        |  SELECT tx.tx, ty.ty FROM generate_series(0, 99) tx(tx), generate_series(0, 79) ty(ty)),
        |m AS (
        |  SELECT tx, ty,
        |         CAST(FLOOR((tx + 0.5) / 100.0 * 934.0) AS BIGINT) AS sx,
        |         CAST(FLOOR((ty + 0.5) / 80.0 * 631.0) AS BIGINT) AS sy
        |  FROM t)
        |SELECT tx, ty, sx, sy, CAST((sx * 31 + sy * 17) % 997 AS DOUBLE) / 10.0 AS v
        |FROM m ORDER BY tx, ty""".stripMargin,

    "q67_mosaic_bilinear" ->
      """WITH cells AS (
        |  SELECT cx.cx, cy.cy FROM generate_series(0, 49) cx(cx), generate_series(0, 39) cy(cy)),
        |cc AS (
        |  SELECT cx, cy, 2 * cx + 1 AS wx, 2 * cy + 1 AS wy FROM cells),
        |items AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |hits AS (
        |  SELECT c.cx, c.cy, i.k,
        |         GREATEST(c.wx - i.k * 3 - 1, 0) AS xa,
        |         LEAST(c.wx - i.k * 3, 29) AS xb,
        |         GREATEST(c.wy - i.k * 2 - 1, 0) AS ya,
        |         LEAST(c.wy - i.k * 2, 19) AS yb
        |  FROM cc c, items i
        |  WHERE c.wx >= i.k * 3 AND c.wx < i.k * 3 + 30
        |    AND c.wy >= i.k * 2 AND c.wy < i.k * 2 + 20),
        |contrib AS (
        |  SELECT cx, cy, k,
        |         ((CAST(k * 1000 + (xa * 31 + ya * 17) % 97 AS DOUBLE) * 0.5
        |           + CAST(k * 1000 + (xb * 31 + ya * 17) % 97 AS DOUBLE) * 0.5) * 0.5
        |          + (CAST(k * 1000 + (xa * 31 + yb * 17) % 97 AS DOUBLE) * 0.5
        |           + CAST(k * 1000 + (xb * 31 + yb * 17) % 97 AS DOUBLE) * 0.5) * 0.5) AS val
        |  FROM hits),
        |m AS (SELECT cx, cy, arg_max(val, k) AS v FROM contrib GROUP BY 1, 2)
        |SELECT c.cx, c.cy, c.cx * 40 + c.cy AS cell_idx, m.v
        |FROM cells c LEFT JOIN m ON c.cx = m.cx AND c.cy = m.cy
        |ORDER BY c.cx, c.cy""".stripMargin,

    // q73: overview-selection replay. Region cell centers wx = 4cx+2 land
    // in item k's grid (origin 6k/4k, full cells of 1); the engine reads
    // the factor-4 overview for even k (values at full-res stride 4) and
    // the factor-2 overview for odd k (stride 2). Pure integer arithmetic
    // in both engines.
    "q73_cog_overview_mosaic" -> CogOverviewOracle,

    // q74 replays identically to q73: the window pipeline must not change
    // a single value, only the bytes decoded.
    "q74_cog_window_mosaic" -> CogOverviewOracle,

    // q101 replays identically too: BigTIFF is a header/offset format
    // change, invisible to pixel values.
    "q101_cog_bigtiff" -> CogOverviewOracle,

    // q71: the 4x4 cubic-convolution replay. fx = fy = 0.5 everywhere, so
    // per-axis tap weights are (-1, 9, 9, -1)/16; the 16 products are summed
    // as INTEGERS and divided by 256 once — every intermediate is an exactly
    // representable dyadic rational, so Spark's nested-loop accumulation and
    // this flat SUM agree bitwise.
    "q71_mosaic_bicubic_default" ->
      """WITH cells AS (
        |  SELECT cx.cx, cy.cy FROM generate_series(0, 49) cx(cx), generate_series(0, 39) cy(cy)),
        |cc AS (
        |  SELECT cx, cy, 2 * cx + 1 AS wx, 2 * cy + 1 AS wy FROM cells),
        |items AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |hits AS (
        |  SELECT c.cx, c.cy, i.k, c.wx - i.k * 3 AS sx, c.wy - i.k * 2 AS sy
        |  FROM cc c, items i
        |  WHERE c.wx >= i.k * 3 AND c.wx < i.k * 3 + 30
        |    AND c.wy >= i.k * 2 AND c.wy < i.k * 2 + 20),
        |taps AS (
        |  SELECT i, CASE WHEN i = 0 OR i = 3 THEN -1 ELSE 9 END AS c
        |  FROM generate_series(0, 3) t(i)),
        |contrib AS (
        |  SELECT h.cx, h.cy, h.k,
        |         CAST(CAST(SUM(ti.c * tj.c *
        |           (h.k * 1000 + (LEAST(GREATEST(h.sx - 2 + ti.i, 0), 29) * 31
        |                        + LEAST(GREATEST(h.sy - 2 + tj.i, 0), 19) * 17) % 97)) AS BIGINT)
        |              AS DOUBLE) / 256.0 AS val
        |  FROM hits h, taps ti, taps tj
        |  GROUP BY h.cx, h.cy, h.k),
        |m AS (SELECT cx, cy, arg_max(val, k) AS v FROM contrib GROUP BY 1, 2)
        |SELECT c.cx, c.cy, c.cx * 40 + c.cy AS cell_idx, m.v
        |FROM cells c LEFT JOIN m ON c.cx = m.cx AND c.cy = m.cy
        |ORDER BY c.cx, c.cy""".stripMargin,

    // bicubic2: identical replay with the a = -1.0 half-offset taps
    "q96_mosaic_bicubic2" ->
      """WITH cells AS (
        |  SELECT cx.cx, cy.cy FROM generate_series(0, 49) cx(cx), generate_series(0, 39) cy(cy)),
        |cc AS (
        |  SELECT cx, cy, 2 * cx + 1 AS wx, 2 * cy + 1 AS wy FROM cells),
        |items AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
        |hits AS (
        |  SELECT c.cx, c.cy, i.k, c.wx - i.k * 3 AS sx, c.wy - i.k * 2 AS sy
        |  FROM cc c, items i
        |  WHERE c.wx >= i.k * 3 AND c.wx < i.k * 3 + 30
        |    AND c.wy >= i.k * 2 AND c.wy < i.k * 2 + 20),
        |taps AS (
        |  SELECT i, CASE WHEN i = 0 OR i = 3 THEN -2 ELSE 10 END AS c
        |  FROM generate_series(0, 3) t(i)),
        |contrib AS (
        |  SELECT h.cx, h.cy, h.k,
        |         CAST(CAST(SUM(ti.c * tj.c *
        |           (h.k * 1000 + (LEAST(GREATEST(h.sx - 2 + ti.i, 0), 29) * 31
        |                        + LEAST(GREATEST(h.sy - 2 + tj.i, 0), 19) * 17) % 97)) AS BIGINT)
        |              AS DOUBLE) / 256.0 AS val
        |  FROM hits h, taps ti, taps tj
        |  GROUP BY h.cx, h.cy, h.k),
        |m AS (SELECT cx, cy, arg_max(val, k) AS v FROM contrib GROUP BY 1, 2)
        |SELECT c.cx, c.cy, c.cx * 40 + c.cy AS cell_idx, m.v
        |FROM cells c LEFT JOIN m ON c.cx = m.cx AND c.cy = m.cy
        |ORDER BY c.cx, c.cy""".stripMargin,

    "q63_reproject" ->
      """WITH t AS (
        |  SELECT tx.tx, ty.ty FROM generate_series(0, 99) tx(tx), generate_series(0, 79) ty(ty)),
        |p AS (
        |  SELECT tx, ty,
        |         -76.0E0 + (tx + 0.5E0) * (4.0E0 / 100) AS wx,
        |         2.0E0 + (ty + 0.5E0) * (4.0E0 / 80) AS wy
        |  FROM t),
        |m AS (
        |  SELECT tx, ty,
        |         6378137.0E0 * (wx / 180 * pi()) AS mx,
        |         6378137.0E0 * ln(tan(pi() / 4 + (wy / 180 * pi()) / 2)) AS my
        |  FROM p),
        |s AS (
        |  SELECT tx, ty,
        |         CAST(FLOOR(ROUND((mx + 8500000.0E0) / 1000, 6)) AS BIGINT) AS sx,
        |         CAST(FLOOR(ROUND((my - 200000.0E0) / 1000, 6)) AS BIGINT) AS sy
        |  FROM m)
        |SELECT tx, ty, sx, sy, CAST((sx * 31 + sy * 17) % 997 AS DOUBLE) / 10.0 AS v
        |FROM s ORDER BY tx, ty""".stripMargin,

    "q72_mosaic_utm" ->
      s"""WITH $UtmRegionSql,
         |$UtmForwardSql,
         |items AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
         |even_contrib AS (
         |  SELECT c.cx, c.cy, i.k,
         |         CAST(i.k * 1000
         |           + (LEAST(GREATEST(CAST(FLOOR((c.wx - (-76.0E0 + i.k * 0.08E0)) / (0.9E0 / 30)) AS BIGINT), 0), 29) * 31
         |            + LEAST(GREATEST(CAST(FLOOR((c.wy - (2.0E0 + i.k * 0.05E0)) / (0.5E0 / 20)) AS BIGINT), 0), 19) * 17) % 97
         |           AS DOUBLE) AS val
         |  FROM cc c, items i
         |  WHERE i.k % 2 = 0
         |    AND c.wx >= -76.0E0 + i.k * 0.08E0 AND c.wx < -76.0E0 + i.k * 0.08E0 + 0.9E0
         |    AND c.wy >= 2.0E0 + i.k * 0.05E0 AND c.wy < 2.0E0 + i.k * 0.05E0 + 0.5E0),
         |odd_contrib AS (
         |  SELECT u.cx, u.cy, i.k,
         |         CAST(i.k * 1000
         |           + (LEAST(GREATEST(CAST(FLOOR((u.ux - (370000.0E0 + i.k * 4000.0E0)) / (240000.0E0 / 30)) AS BIGINT), 0), 29) * 31
         |            + LEAST(GREATEST(CAST(FLOOR((u.uy - (200000.0E0 + i.k * 6000.0E0)) / (160000.0E0 / 20)) AS BIGINT), 0), 19) * 17) % 97
         |           AS DOUBLE) AS val
         |  FROM utm u, items i
         |  WHERE i.k % 2 = 1
         |    AND u.ux >= 370000.0E0 + i.k * 4000.0E0 AND u.ux < 370000.0E0 + i.k * 4000.0E0 + 240000.0E0
         |    AND u.uy >= 200000.0E0 + i.k * 6000.0E0 AND u.uy < 200000.0E0 + i.k * 6000.0E0 + 160000.0E0),
         |contrib AS (SELECT * FROM even_contrib UNION ALL SELECT * FROM odd_contrib),
         |m AS (SELECT cx, cy, arg_max(val, k) AS v FROM contrib GROUP BY 1, 2)
         |SELECT c.cx, c.cy, c.cx * 80 + c.cy AS cell_idx, m.v
         |FROM cells c LEFT JOIN m ON c.cx = m.cx AND c.cy = m.cy
         |ORDER BY c.cx, c.cy""".stripMargin,

    "q64_mosaic_mixed_crs" ->
      """WITH cells AS (
        |  SELECT cx.cx, cy.cy FROM generate_series(0, 99) cx(cx), generate_series(0, 79) cy(cy)),
        |cc AS (
        |  SELECT cx, cy,
        |         0.0E0 + (cx + 0.5E0) * ((10.0E0 - 0.0E0) / 100) AS wx,
        |         0.0E0 + (cy + 0.5E0) * ((8.0E0 - 0.0E0) / 80) AS wy
        |  FROM cells),
        |items AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k,
        |         n_nationkey % 2 = 0 AS deg,
        |         CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey * 0.3E0
        |              ELSE n_nationkey * 33000.0E0 END AS x0,
        |         CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey * 0.3E0 + 3.0E0
        |              ELSE n_nationkey * 33000.0E0 + 360000.0E0 END AS x1,
        |         CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey * 0.2E0
        |              ELSE n_nationkey * 22000.0E0 END AS y0,
        |         CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey * 0.2E0 + 2.0E0
        |              ELSE n_nationkey * 22000.0E0 + 240000.0E0 END AS y1
        |  FROM nation),
        |proj AS (
        |  SELECT c.cx, c.cy, i.k, i.x0, i.x1, i.y0, i.y1,
        |         CASE WHEN i.deg THEN c.wx
        |              ELSE 6378137.0E0 * (c.wx / 180 * pi()) END AS u,
        |         CASE WHEN i.deg THEN c.wy
        |              ELSE 6378137.0E0 * ln(tan(pi() / 4 + (c.wy / 180 * pi()) / 2)) END AS v
        |  FROM cc c, items i),
        |contrib AS (
        |  SELECT cx, cy, k,
        |         CAST(k * 1000
        |           + (LEAST(GREATEST(CAST(FLOOR((u - x0) / ((x1 - x0) / 30)) AS BIGINT), 0), 29) * 31
        |            + LEAST(GREATEST(CAST(FLOOR((v - y0) / ((y1 - y0) / 20)) AS BIGINT), 0), 19) * 17) % 97
        |           AS DOUBLE) AS val
        |  FROM proj WHERE u >= x0 AND u < x1 AND v >= y0 AND v < y1),
        |m AS (SELECT cx, cy, arg_max(val, k) AS v FROM contrib GROUP BY 1, 2)
        |SELECT c.cx, c.cy, c.cx * 80 + c.cy AS cell_idx, m.v
        |FROM cells c LEFT JOIN m ON c.cx = m.cx AND c.cy = m.cy
        |ORDER BY c.cx, c.cy""".stripMargin)
}
