package graft.raster

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{GeoTransform, Proj}
import graft.trans.Trans

/** Warp = inverse-project + kernel gather (the `gdal.Warp` analogue,
  * `gdalos_trans.py:842-858`) — interpolation identities, CRS
  * round-trips, and the Trans R1 integration.
  */
class WarpSpec extends SparkSpec {

  private val Ndv = PixelFrame.Dem.Ndv
  private def identity2 = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) => (x, y)

  test("same-grid identity warp reproduces the raster exactly (incl. nodata)") {
    val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
    val src = PixelFrame.dem(spark, 40, 30)
    val out = Warp.warp(src, gt, gt, 40, 30, identity2, Ndv)
    val diff = out.alias("o").join(src.alias("s"), Seq("px", "py"))
      .filter(col("o.v") =!= col("s.v"))
    assert(diff.count() == 0)
  }

  test("bilinear and cubic reproduce a linear ramp on a refined grid") {
    val gt = GeoTransform(0, 1, 0, 40, 0, -1)
    val src = spark.range(40L * 40).select(
      lit(0).as("rid"), lit(1).as("band"),
      (col("id") % 40).cast("int").as("px"),
      (col("id") / 40).cast("int").as("py"))
      .withColumn("v", col("px") * 2.0 + col("py") * 3.0 + 7.0)
    // 2.5× refined grid strictly inside the source footprint
    val (dstGt, dw, dh) = (GeoTransform(8, 0.4, 0, 32, 0, -0.4), 40, 40)
    for (k <- Seq[Warp.Kernel](Warp.Bilinear, Warp.Cubic)) {
      val out = Warp.warp(src, gt, dstGt, dw, dh, identity2, Ndv, k)
        .withColumn("gx", lit(dstGt.c0) + (col("px") + 0.5) * dstGt.c1)
        .withColumn("gy", lit(dstGt.c3) + (col("py") + 0.5) * dstGt.c5)
        // expected = same linear fn of the source pixel coords
        .withColumn("exp_v", ((col("gx") - gt.c0) / gt.c1 - 0.5) * 2.0
          + ((col("gy") - gt.c3) / gt.c5 - 0.5) * 3.0 + 7.0)
      val bad = out.filter(abs(col("v") - col("exp_v")) > 1e-9)
      assert(bad.count() == 0, s"kernel $k")
    }
  }

  test("cubicspline smooths but preserves constants; lanczos near-interpolates") {
    val gt = GeoTransform(0, 1, 0, 20, 0, -1)
    val src = PixelFrame.constant(spark, 20, 20, 42.0)
    val dstGt = GeoTransform(4, 0.7, 0, 16, 0, -0.7)
    for (k <- Seq[Warp.Kernel](Warp.CubicSpline, Warp.Lanczos)) {
      val out = Warp.warp(src, gt, dstGt, 12, 12, identity2, Ndv, k)
      val bad = out.filter(abs(col("v") - 42.0) > 1e-9)
      assert(bad.count() == 0, s"kernel $k") // weight renormalization ⇒ exact partition of unity
    }
  }

  test("UTM→geo warp of a constant raster is constant; grid inference sane (R1)") {
    // 60×50 constant raster on a 30 m UTM-36 grid near (27.1N, 33E)
    val gt = GeoTransform(500000, 30, 0, 3000000, 0, -30)
    val src = PixelFrame.constant(spark, 60, 50, 7.5)
    val p = Trans.plan(src, gt, 60, 50,
      Trans.TransOptions(warpSrs = Some("w84geo"), srcSrs = "w84u36",
        resampling = Some(graft.core.ResamplingAlg.Bilinear))).get
    assert(p.decisions.exists(_.startsWith("R1: warp w84u36 → w84geo")))
    // output grid is geographic: ~30 m ≈ 2.7e-4°, sane bounds
    assert(p.outGt.c1 > 1e-5 && p.outGt.c1 < 1e-3)
    val vals = p.frame.select("v").distinct().collect().map(_.getDouble(0))
    // interior pixels exactly 7.5; edge pixels may be ndv (outside src)
    assert(vals.forall(v => math.abs(v - 7.5) < 1e-9 || v == Ndv))
    assert(vals.exists(v => math.abs(v - 7.5) < 1e-9))
  }

  test("R1 elision: same srs does not add a warp stage") {
    val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
    val p = Trans.plan(PixelFrame.dem(spark, 20, 20), gt, 20, 20,
      Trans.TransOptions(warpSrs = Some("w84geo"), srcSrs = "w84geo")).get
    assert(p.decisions.exists(_.contains("warp elided")))
  }

  test("geographic-input viewshed: flat geo DEM fully visible within range (§3.2)") {
    // constant-elevation DEM on a 1-arcsec-ish grid around (31.5N, 34.5E)
    val gt = GeoTransform(34.49, 0.0003, 0, 31.51, 0, -0.0003)
    val dem = PixelFrame.constant(spark, 80, 80, 100.0)
    val vs = Viewshed.viewshedGeo(dem, gt, obsLat = 31.4982, obsLon = 34.5018,
      oz = 10.0, cellSize = 30.0, maxR = 300.0, nBuckets = 16)
    val counts = vs.groupBy("state").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(Viewshed.StHidden, 0L) == 0, s"flat terrain must hide nothing: $counts")
    assert(counts.getOrElse(Viewshed.StSeen, 0L) > 200)
    assert(counts.contains(Viewshed.StNodata)) // beyond maxR ring exists

    // directional observer: a 90° north aperture keeps strictly fewer
    // seen pixels, and everything due south of the observer is cropped
    val sec = Viewshed.viewshedGeo(dem, gt, obsLat = 31.4982, obsLon = 34.5018,
      oz = 10.0, cellSize = 30.0, maxR = 300.0, nBuckets = 16,
      directionDeg = 0.0, apertureDeg = 90.0)
    val secSeen = sec.filter(col("state") === Viewshed.StSeen).count()
    assert(secSeen > 0 && secSeen < counts(Viewshed.StSeen), s"sector seen $secSeen")
    // aeqd grid centers the observer at (half, half): south = larger py
    val half = math.ceil(300.0 / 30.0).toInt
    assert(sec.filter(col("py") > half + 1 && col("state") === Viewshed.StSeen).count() == 0)
  }
  test("interpolating-kernel decimation: bilinear level halves a linear ramp exactly (E1)") {
    val src = spark.range(40L * 40).select(
      lit(0).as("rid"), lit(1).as("band"),
      (col("id") % 40).cast("int").as("px"),
      (col("id") / 40).cast("int").as("py"))
      .withColumn("v", col("px") * 2.0 + col("py") * 3.0 + 7.0)
    val lvl = Overview.buildLevelKernel(src, graft.core.ResamplingAlg.Bilinear, Ndv, 40, 40)
    assert(lvl.count() == 400)
    // coarse pixel k center sits at fine coordinate 2k+0.5 → expected ramp value
    val bad = lvl.filter(col("px") > 0 && col("px") < 19 && col("py") > 0 && col("py") < 19)
      .withColumn("exp_v", (col("px") * 2 + 0.5) * 2.0 + (col("py") * 2 + 0.5) * 3.0 + 7.0)
      .filter(abs(col("v") - col("exp_v")) > 1e-9)
    assert(bad.count() == 0)
    // cubicspline (the formerly-missing kernel) preserves constants
    val cs = Overview.buildLevelKernel(PixelFrame.constant(spark, 32, 32, 9.0),
      graft.core.ResamplingAlg.CubicSpline, Ndv, 32, 32)
    assert(cs.filter(abs(col("v") - 9.0) > 1e-9).count() == 0)
  }

  test("multi-band frame warps each plane independently") {
    val gt = GeoTransform(0, 1, 0, 30, 0, -1)
    val b1 = PixelFrame.constant(spark, 30, 30, 5.0)
    val b2 = PixelFrame.constant(spark, 30, 30, 11.0).withColumn("band", lit(2))
    val out = Warp.warp(b1.unionByName(b2), gt, GeoTransform(5, 0.8, 0, 25, 0, -0.8),
      12, 12, identity2, Ndv)
    val perBand = out.groupBy("band").agg(min("v"), max("v")).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(perBand(1)._1 - 5.0) < 1e-9 && math.abs(perBand(1)._2 - 5.0) < 1e-9)
    assert(math.abs(perBand(2)._1 - 11.0) < 1e-9 && math.abs(perBand(2)._2 - 11.0) < 1e-9)
  }

  test("knownPlanes (catalog-driven universe) matches the distinct scan, scan-free") {
    val gt = GeoTransform(0, 1, 0, 30, 0, -1)
    val b1 = PixelFrame.constant(spark, 30, 30, 5.0)
    val b2 = PixelFrame.constant(spark, 30, 30, 11.0).withColumn("band", lit(2))
    val src = b1.unionByName(b2)
    val dst = GeoTransform(5, 0.8, 0, 25, 0, -0.8)
    val scanned = Warp.warp(src, gt, dst, 12, 12, identity2, Ndv)
    val cataloged = Warp.warp(src, gt, dst, 12, 12, identity2, Ndv,
      knownPlanes = Some(Seq((0, 1), (0, 2))))
    assert(scanned.collect().map(_.toSeq).toSet == cataloged.collect().map(_.toSeq).toSet)
    // the catalog-driven plan builds its grid from a LocalRelation —
    // the only Aggregate left is the tap-slot reduce, no distinct scan
    val plan = cataloged.queryExecution.optimizedPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 1, "knownPlanes must not plan a distinct over the source")
    assert(plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "plane universe should be a literal LocalRelation")
    assertThrows[IllegalArgumentException](
      Warp.warp(src, gt, dst, 12, 12, identity2, Ndv, knownPlanes = Some(Nil)))
  }

  test("zone-to-zone warp composes through geographic (R1)") {
    // zone 36 strip re-gridded into zone 37 coordinates
    val gt = GeoTransform(690000, 30, 0, 3000000, 0, -30) // near the 36/37 seam
    val src = PixelFrame.constant(spark, 50, 40, 3.25)
    val p = Trans.plan(src, gt, 50, 40,
      Trans.TransOptions(warpSrs = Some("w84u37"), srcSrs = "w84u36",
        resampling = Some(graft.core.ResamplingAlg.Bilinear))).get
    assert(p.decisions.exists(_.startsWith("R1: warp w84u36 ")))
    // output is a meters grid ~30 m resolution in zone 37
    assert(p.outGt.c1 > 20 && p.outGt.c1 < 40)
    val vals = p.frame.select("v").distinct().collect().map(_.getDouble(0))
    assert(vals.exists(v => math.abs(v - 3.25) < 1e-9))
    assert(vals.forall(v => math.abs(v - 3.25) < 1e-9 || v == Ndv))
  }

  test("flagship end-to-end: real SRTM GeoTIFF -> DSv2 scan -> aeqd viewshed") {
    val srtm = "/root/reference/data/maps/srtm1_x35_y32.tif"
    // The thresholds below are properties of the real terrain; the
    // committed synthetic fixture (graft.sources.SrtmFixture) has none
    // of them, so this runs only where the reference checkout's tile is.
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(srtm)),
      s"reference SRTM tile $srtm not present")
    val info = graft.sources.GeoTiff.readInfo(srtm)
    val gt = info.gt.get
    val dem = spark.read.format("graft.sources.RasterSource")
      .option("path", srtm).load()
    // observer at the raster center: geographic coords of pixel (180,180)
    val (obsLon, obsLat) = gt.pixelToGeo(180.5, 180.5)
    val vs = Viewshed.viewshedGeo(dem, gt, obsLat, obsLon,
      oz = 25.0, cellSize = 30.0, maxR = 1500.0, nBuckets = 32, demNdv = -32768.0)
    val counts = vs.groupBy("state").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val seen = counts.getOrElse(Viewshed.StSeen, 0L)
    val hidden = counts.getOrElse(Viewshed.StHidden, 0L)
    val inRange = seen + hidden
    // real terrain: both states present, counts fill the maxR disc
    assert(seen > 300, s"counts: $counts")   // rugged terrain: most of the disc is shadowed
    assert(hidden > 1000, s"counts: $counts")
    val disc = math.Pi * 50 * 50 // maxR/cellSize = 50 px radius
    assert(math.abs(inRange - disc) / disc < 0.1, s"in-range $inRange vs disc $disc")

    // exact per-ray mode on the same real-terrain scene. The sweep's
    // sector-wide running max over-blocks (any nearer pixel anywhere
    // in the sector obstructs, not just the ray's own crossings), so
    // sweep-visible ⊆ exact-visible directionally — and finer sectors
    // must CONVERGE toward the exact count.
    def seenOf(m: Map[Double, Long]) = m.getOrElse(Viewshed.StSeen, 0L)
    val vsx = Viewshed.viewshedGeo(dem, gt, obsLat, obsLon,
      oz = 25.0, cellSize = 30.0, maxR = 1500.0, demNdv = -32768.0, exact = true)
    val cx = vsx.groupBy("state").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val seenX = seenOf(cx)
    val inRangeX = seenX + cx.getOrElse(Viewshed.StHidden, 0L)
    assert(inRangeX == inRange, s"exact in-range $inRangeX vs sweep $inRange")
    assert(seenX >= seen, s"exact seen $seenX must dominate sweep seen $seen")
    val seen256 = seenOf(Viewshed.viewshedGeo(dem, gt, obsLat, obsLon,
        oz = 25.0, cellSize = 30.0, maxR = 1500.0, nBuckets = 256, demNdv = -32768.0)
      .groupBy("state").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap)
    assert(math.abs(seen256 - seenX) < math.abs(seen - seenX),
      s"256-sector sweep ($seen256) should sit closer to exact ($seenX) than 32-sector ($seen)")
  }
  test("packed-tile warp is bit-equal to the pixel-frame warp (100 TB shape)") {
    val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
    val dem = PixelFrame.dem(spark, 70, 50)
    val tiles = PixelFrame.pack(dem, ts = 16, ndv = Ndv)
    // fractional regrid that exercises interior, edges, and misses
    val dstGt = GeoTransform(99.0, 0.3, 0, 51.0, 0, -0.3)
    for (k <- Seq[Warp.Kernel](Warp.Bilinear, Warp.Cubic)) {
      val a = Warp.warp(dem, gt, dstGt, 40, 30, identity2, Ndv, k)
      val b = Warp.warpPacked(tiles, 16, gt, dstGt, 40, 30, identity2, Ndv, k)
      val cmp = a.select(col("px"), col("py"), col("v").as("va"))
        .join(b.select(col("px"), col("py"), col("v").as("vb")), Seq("px", "py"), "full")
      assert(cmp.count() == 1200)
      // bit equality: identical slot algebra + fold order on both paths
      assert(cmp.filter(col("va").isNull || col("vb").isNull || col("va") =!= col("vb")).count() == 0,
        s"kernel $k")
    }
  }
  test("ED50 warps: datum hop and e50 UTM compose through the WGS84 hub (R1)") {
    // w84geo -> e50geo: a pure datum-shift regrid of a constant raster
    val gt = GeoTransform(34.0, 0.01, 0, 32.0, 0, -0.01)
    val src = PixelFrame.constant(spark, 40, 30, 2.5)
    val p = Trans.plan(src, gt, 40, 30,
      Trans.TransOptions(warpSrs = Some("e50geo"), srcSrs = "w84geo",
        resampling = Some(graft.core.ResamplingAlg.Bilinear))).get
    assert(p.decisions.exists(_.startsWith("R1: warp w84geo → e50geo")))
    val vals = p.frame.select("v").distinct().collect().map(_.getDouble(0))
    assert(vals.exists(v => math.abs(v - 2.5) < 1e-9))
    assert(vals.forall(v => math.abs(v - 2.5) < 1e-9 || v == Ndv))
    // ~100 m shift at this latitude: grids differ by a few milli-degrees
    val shifted = Proj.datumShift(31.85, 34.2, 0,
      (-Proj.Ed50ToWgs84._1, -Proj.Ed50ToWgs84._2, -Proj.Ed50ToWgs84._3),
      Proj.Wgs84, Proj.Intl)
    assert(math.abs(shifted._1 - 31.85) > 1e-4 && math.abs(shifted._1 - 31.85) < 3e-3)

    // e50u36 -> w84geo: unproject on Intl, datum hop, geographic grid out
    val gtU = GeoTransform(500000, 30, 0, 3530000, 0, -30)
    val p2 = Trans.plan(PixelFrame.constant(spark, 40, 30, 7.0), gtU, 40, 30,
      Trans.TransOptions(warpSrs = Some("w84geo"), srcSrs = "e50u36",
        resampling = Some(graft.core.ResamplingAlg.Bilinear))).get
    assert(p2.outGt.c1 > 1e-5 && p2.outGt.c1 < 1e-3)
    val v2 = p2.frame.select("v").distinct().collect().map(_.getDouble(0))
    assert(v2.exists(v => math.abs(v - 7.0) < 1e-9))
    assert(v2.forall(v => math.abs(v - 7.0) < 1e-9 || v == Ndv))
  }

  test("datum-shift SQL functions: shift magnitude and 2D closure bound") {
    graft.functions.GraftFunctions.register(spark)
    val pts = spark.range(50).selectExpr(
      "30.0 + id * 0.3 AS lat", "20.0 + id * 0.5 AS lon")
    val rt = pts.selectExpr("lat", "lon",
      "wgs84_to_ed50_lat(lat, lon) AS elat",
      "ed50_to_wgs84_lat(wgs84_to_ed50_lat(lat, lon), wgs84_to_ed50_lon(lat, lon)) AS lat2",
      "ed50_to_wgs84_lon(wgs84_to_ed50_lat(lat, lon), wgs84_to_ed50_lon(lat, lon)) AS lon2")
    // the shift itself is O(100 m) = milli-degrees
    assert(rt.filter(abs(col("elat") - col("lat")) < 1e-4).count() == 0)
    // 2D convention (PROJ 3-param on 2D coords): each leg assumes h=0
    // on ITS source and discards output height, so forward∘inverse
    // closes to ~µdeg (sub-meter), not to machine precision
    val bad = rt.filter(abs(col("lat") - col("lat2")) > 5e-6 ||
      abs(col("lon") - col("lon2")) > 5e-6)
    assert(bad.count() == 0)
  }
  test("spherical aeqd kernels: forward/inverse round-trip; q105 chain composes") {
    import graft.functions.ProjKernels
    // round-trip: inverse(forward(p)) returns p to sub-mm angular error
    for ((lat, lon) <- Seq((30.03, 35.9995), (29.0, 36.5), (31.2, 35.2))) {
      val x = ProjKernels.aeqdSphereForwardX(lat, lon, 30.03, 36.0)
      val y = ProjKernels.aeqdSphereForwardY(lat, lon, 30.03, 36.0)
      val lat2 = ProjKernels.aeqdSphereInverseLat(x, y, 30.03, 36.0)
      val lon2 = ProjKernels.aeqdSphereInverseLon(x, y, 30.03, 36.0)
      assert(math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9, s"($lat,$lon)")
    }
    // center maps to origin; origin inverts to center
    assert(ProjKernels.aeqdSphereForwardX(30.03, 36.0, 30.03, 36.0) == 0.0)
    assert(ProjKernels.aeqdSphereInverseLat(0.0, 0.0, 30.03, 36.0) == 30.03)
    // distances from the center are exact great-circle distances: a
    // point 0.001 deg north sits ~111 m up the y axis, x ~ 0
    val yN = ProjKernels.aeqdSphereForwardY(30.031, 36.0, 30.03, 36.0)
    assert(yN > 110 && yN < 112.5)
    assert(math.abs(ProjKernels.aeqdSphereForwardX(30.031, 36.0, 30.03, 36.0)) < 1e-6)
    // the q105 composition: 17x17 common grid, counts in {0,1,2} with
    // real overlap (some pixel seen by BOTH zone-routed observers)
    import spark.implicits._
    val out = graft.operators.RasterQueries.q105(spark, "/root/testdata/sf0.001")
      .as[(Int, Int, Double)].collect()
    assert(out.length == 289)
    val counts = out.map(_._3).toSet
    assert(counts.subsetOf(Set(0.0, 1.0, 2.0)), s"unexpected counts $counts")
    assert(counts.contains(2.0), "expected overlapping viewsheds on the common grid")
  }
}
