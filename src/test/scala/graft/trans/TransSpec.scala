package graft.trans

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{GeoRectangle, GeoTransform}
import graft.raster.{PixelFrame, Viewshed}

class TransSpec extends SparkSpec {
  import spark.implicits._
  import Trans._

  private val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
  private def dem = PixelFrame.dem(spark, 200, 120)

  test("plan composes crop→nodata→scale→decimate with rule log (§3.1)") {
    val p = Trans.plan(dem, gt, 200, 120, TransOptions(
      extent = Some(GeoRectangle(110, 35, 120, 45)),
      srcNdv = Some(PixelFrame.Dem.Ndv), dstNdv = 0.0,
      scaleFactor = Some(0.5), decimateLevels = 1)).get
    assert(p.decisions.exists(_.startsWith("R3")))
    assert(p.decisions.exists(_.startsWith("R2/B4")))
    assert(p.decisions.exists(_.startsWith("H1")))
    assert(p.decisions.exists(_.startsWith("E1")))
    // 40×40 window decimated once → 20×20
    assert(p.outW == 20 && p.outH == 20)
    assert(p.frame.count() == 400)
    // output gt: origin at the crop corner, pixel size doubled
    assert(p.outGt.c0 == 110.0 && p.outGt.c1 == 0.5 && p.outGt.c3 == 45.0)
  }

  test("R3 empty-extent short-circuit returns None") {
    assert(Trans.plan(dem, gt, 200, 120,
      TransOptions(extent = Some(GeoRectangle(300, 0, 310, 10)))).isEmpty)
  }

  test("R1 warp elision: same-SRS warp request is a no-op") {
    val p = Trans.plan(dem, gt, 200, 120, TransOptions(
      warpSrs = Some("w84geo"), srcSrs = "w84geo",
      extent = Some(GeoRectangle(110, 35, 120, 45))))
    assert(p.get.decisions.exists(_.startsWith("R1")))
  }

  test("run writes COG-layout base + .ovr pyramid + .info (steps 5–7)") {
    val out = tempDir("graft_trans").resolve("out").toString
    val p = Trans.run(spark, dem, gt, 200, 120,
      TransOptions(extent = Some(GeoRectangle(110, 35, 120, 45))),
      out, tileSize = 16, ovrLevels = 2).get
    val base = spark.read.parquet(out)
    assert(base.count() > 0 && base.columns.contains("data"))
    // DTM payloads rest as Int16 binary (kind-driven dtype tag)
    assert(base.schema("data").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(base.select("dtype").distinct().as[Int].collect().toSeq == Seq(16))
    // self-describing read restores ARRAY<DOUBLE>, values intact for
    // the integer-valued DEM
    val restored = graft.sources.Sinks.readCogLayout(spark, out)
    assert(restored.schema("data").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false) ||
      restored.schema("data").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = true))
    val ovr = spark.read.parquet(out + ".ovr")
    // two pyramid levels, kept distinct by the ovr key
    assert(ovr.select("ovr").distinct().as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(Files.exists(java.nio.file.Paths.get(out + ".info")))
    assert(p.decisions.nonEmpty)
  }

  test("cutline inside trans restricts to the ring") {
    val p = Trans.plan(dem, gt, 200, 120, TransOptions(
      cutlineWkt = Some("POLYGON ((125 40, 130 35, 125 30, 120 35, 125 40))"))).get
    val n = p.frame.count()
    assert(n > 0 && n < 40 * 40) // strictly inside the bbox window
  }

  test("multi-observer viewshed combine (§3.2): count of seeing observers") {
    val flat = spark.range(21L * 21).select(
      lit(0).as("rid"), lit(1).as("band"),
      (col("id") % 21).cast("int").as("px"),
      floor(col("id") / 21).cast("int").as("py"), lit(0.0).as("v"))
    val out = Viewshed.viewshedCombineObs(flat,
      observers = Seq(Viewshed.Observer(5, 10, 10.0, 100.0),
        Viewshed.Observer(15, 10, 10.0, 100.0)),
      op = "count", cellSize = 1.0).cache()
    // flat world: every pixel (except each observer's own cell) is seen
    // by both observers → count 2; observer cells are seen by the other
    assert(out.filter($"px" === 10 && $"py" === 3).select("v").as[Double].head() == 2.0)
    assert(out.filter($"px" === 5 && $"py" === 10).select("v").as[Double].head() == 1.0)
    assertThrows[IllegalArgumentException](
      Viewshed.viewshedCombineObs(flat, Seq.empty, "count", 1.0))
  }
  test("exportGeoTiff writes a real multi-IFD tiff the engine reads back (steps 5-7)") {
    import graft.sources.GeoTiff
    val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
    val p = Trans.plan(PixelFrame.dem(spark, 64, 48), gt, 64, 48,
      Trans.TransOptions()).get
    val f = tempDir("graft_export").resolve("out.tif")
    Trans.exportGeoTiffSharded(p, f.toString, ovrLevels = 2)
    val infos = GeoTiff.readInfos(f.toString)
    assert(infos.map(i => (i.width, i.height)) == Seq((64, 48), (32, 24), (16, 12)))
    // read the base back through the connector: identical to the plan frame
    val back = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).load()
    val diff = back.select(col("px"), col("py"), col("v").as("vb"))
      .join(p.frame.select(col("px"), col("py"), col("v").as("va")), Seq("px", "py"))
      .filter(col("va") =!= col("vb"))
    assert(diff.count() == 0)
    // overview page 1 equals the distributed average level, Int16-truncated
    val ovr1 = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).option("ovr", 1).load()
      .agg(sum("v")).head().getDouble(0)
    val expect = graft.raster.Overview.buildLevel(p.frame, graft.core.ResamplingAlg.Average,
        PixelFrame.Dem.Ndv)
      .agg(sum(col("v").cast("int"))).head().getLong(0)
    assert(ovr1 == expect.toDouble)
  }

  test("exportGeoTiffSharded: distributed export round-trips bit-equal at a collect-refusing size") {
    import graft.sources.GeoTiff
    val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
    val (w, h) = (2400, 2000) // 4.8M px — more than a driver collect should hold
    val p = Trans.plan(PixelFrame.dem(spark, w, h), gt, w, h,
      Trans.TransOptions()).get
    val f = tempDir("graft_shard_export").resolve("out.tif")
    Trans.exportGeoTiffSharded(p, f.toString, ovrLevels = 2)
    // multi-IFD COG: base + two distributed overview pages, ceil-sized
    val infos = GeoTiff.readInfos(f.toString)
    assert(infos.map(i => (i.width, i.height)) ==
      Seq((w, h), (w / 2, h / 2), (w / 4, h / 4)))
    // overview page 1 equals the distributed average level, Int16-truncated
    val ovr1 = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).option("ovr", 1).load()
      .agg(sum("v")).head().getDouble(0)
    val expectOvr = graft.raster.Overview.buildLevel(p.frame,
        graft.core.ResamplingAlg.Average, PixelFrame.Dem.Ndv)
      .agg(sum(col("v").cast("int"))).head().getLong(0)
    assert(ovr1 == expectOvr.toDouble)
    val info = infos.head
    assert((info.width, info.height) == (w, h))
    assert(info.segments.length == ((w + 255) / 256) * ((h + 255) / 256))
    assert(info.nodata.contains(PixelFrame.Dem.Ndv))
    // bit-equal pixels through the DSv2 reader (ndv rows included):
    // integer-valued DEM + Int16 at-rest is lossless
    val back = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).load()
    assert(back.count() == w.toLong * h)
    val diff = back.select(col("px"), col("py"), col("v").as("vb"))
      .join(p.frame.select(col("px"), col("py"), col("v").as("va")), Seq("px", "py"))
      .filter(col("va") =!= col("vb"))
    assert(diff.count() == 0)
    java.nio.file.Files.deleteIfExists(f)
  }

  test("exportGeoTiffGrid: per-part COGs reassemble bit-equal to the " +
    "sharded single file; ragged edges sized right; empty parts skipped") {
    import graft.sources.GeoTiff
    val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
    val (w, h) = (130, 90) // NOT divisible by the grid: ragged last parts
    val p = Trans.plan(PixelFrame.dem(spark, w, h), gt, w, h,
      Trans.TransOptions()).get
    val dir = tempDir("graft_grid_export").toString
    val receipts = Trans.exportGeoTiffGrid(p, dir, xParts = 3, yParts = 2,
      tileSize = 16).collect().sortBy(_.getAs[Int]("part"))
    // ceil split: partW=44, partH=45 — last column is 130-88=42 wide
    assert(receipts.length == 6)
    assert(receipts.map(r => (r.getAs[Int]("part"), r.getAs[Int]("px0"),
      r.getAs[Int]("py0"), r.getAs[Int]("w"), r.getAs[Int]("h"))).toSeq ==
      Seq((0, 0, 0, 44, 45), (1, 44, 0, 44, 45), (2, 88, 0, 42, 45),
        (3, 0, 45, 44, 45), (4, 44, 45, 44, 45), (5, 88, 45, 42, 45)))
    // every part is a real, self-georeferenced COG
    for (r <- receipts) {
      val info = GeoTiff.readInfos(r.getAs[String]("path")).head
      assert((info.width, info.height) ==
        (r.getAs[Int]("w"), r.getAs[Int]("h")))
      assert(r.getAs[Long]("n_tiles") == info.segments.length.toLong)
    }
    // part 0's geotransform is shifted to its global corner
    val i0 = GeoTiff.readInfos(receipts(4).getAs[String]("path")).head
    assert(i0.tiepoint.exists { tp => // [i,j,k,x,y,z]
      math.abs(tp(3) - (100 + 44 * 0.25)) < 1e-9 &&
        math.abs(tp(4) - (50 - 45 * 0.25)) < 1e-9
    })
    // mosaic read-back ≡ the single-file sharded export, bit for bit
    val single = tempDir("graft_grid_single").resolve("out.tif")
    Trans.exportGeoTiffSharded(p, single.toString, tileSize = 16)
    val mosaic = receipts.map { r =>
      spark.read.format("graft.sources.RasterSource")
        .option("path", r.getAs[String]("path")).load()
        .select((col("px") + lit(r.getAs[Int]("px0"))).as("px"),
          (col("py") + lit(r.getAs[Int]("py0"))).as("py"), col("v"))
    }.reduce(_.unionAll(_))
    val back = spark.read.format("graft.sources.RasterSource")
      .option("path", single.toString).load()
    val joined = mosaic.withColumnRenamed("v", "vg")
      .join(back.withColumnRenamed("v", "vs"), Seq("px", "py"), "full_outer")
    assert(joined.count() == w.toLong * h)
    assert(joined.filter(col("vg").isNull || col("vs").isNull ||
      col("vg") =!= col("vs")).count() == 0)
    // an undersized part grid fails LOUD at plan time, not OOM
    // mid-job: each task buffers one whole part
    val tooBig = intercept[IllegalArgumentException] {
      Trans.exportGeoTiffGrid(p, dir, xParts = 1, yParts = 1,
        tileSize = 16, maxPartPixels = 1000)
    }
    assert(tooBig.getMessage.contains("maxPartPixels"))
    // a frame confined to one part writes ONLY that part (the
    // reference skips empty partitions too)
    val dir2 = tempDir("graft_grid_sparse").toString
    val sparse = p.frame.filter(col("px") < 40 && col("py") < 40)
    val p2 = p.copy(frame = sparse)
    val r2 = Trans.exportGeoTiffGrid(p2, dir2, xParts = 3, yParts = 2,
      tileSize = 16).collect()
    assert(r2.map(_.getAs[Int]("part")).toSeq == Seq(0))
    assert(new java.io.File(dir2).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet == // Hadoop .crc sidecars
      Set("part_0_0.tif"))
    java.nio.file.Files.deleteIfExists(single)
  }

  test("exportGeoTiff BIGTIFF option: YES forces version 43, default stays classic") {
    import graft.sources.GeoTiff
    val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
    val p = Trans.plan(PixelFrame.dem(spark, 32, 24), gt, 32, 24,
      Trans.TransOptions()).get
    val fBig = tempDir("graft_exp_big").resolve("out.tif")
    Trans.exportGeoTiffSharded(p, fBig.toString, bigTiff = Some(true))
    val bytes = java.nio.file.Files.readAllBytes(fBig)
    assert(bytes(2) == 43) // BigTIFF version
    val info = GeoTiff.readInfo(fBig.toString)
    assert(info.width == 32 && info.height == 24 && info.gt.isDefined)
    // IF_NEEDED (None) on a small raster → classic 42
    val fStd = tempDir("graft_exp_std").resolve("out.tif")
    Trans.exportGeoTiffSharded(p, fStd.toString)
    assert(java.nio.file.Files.readAllBytes(fStd)(2) == 42)
    java.nio.file.Files.deleteIfExists(fBig)
    java.nio.file.Files.deleteIfExists(fStd)
  }

  test("exportGeoTiff sizes odd-dimension overview pages with ceil (GDAL convention)") {
    import graft.sources.GeoTiff
    val gtOdd = GeoTransform(0, 1, 0, 45, 0, -1)
    val p = Trans.plan(PixelFrame.dem(spark, 45, 33), gtOdd, 45, 33,
      Trans.TransOptions()).get
    val f = tempDir("graft_odd").resolve("out.tif")
    Trans.exportGeoTiffSharded(p, f.toString, ovrLevels = 2)
    val infos = GeoTiff.readInfos(f.toString)
    // buildLevel emits ceil(n/2) per axis: 45→23→12, 33→17→9
    assert(infos.map(i => (i.width, i.height)) == Seq((45, 33), (23, 17), (12, 9)))
    // the last overview column/row must carry real values, not be dropped
    val o2 = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).option("ovr", 2).load()
    assert(o2.filter(col("px") === 11).count() == 9)
    assert(o2.count() == 12 * 9)
  }

  test("exportGeoTiffSharded writes the bytes GeoTiff.encodePyramid writes for the collected pages") {
    import graft.sources.GeoTiff
    val gtOdd = GeoTransform(0, 1, 0, 45, 0, -1)
    val full = Trans.plan(PixelFrame.dem(spark, 45, 33), gtOdd, 45, 33,
      Trans.TransOptions()).get
    val ndv = PixelFrame.Dem.Ndv
    // tile (1, 1) of the 16-px grid holds no pixel, so the export emits
    // its shared empty-tile segment there. The hole is 2×2-aligned and
    // no pixel is nodata, so every overview average divides by 1, 2 or
    // 4: exact in any summation order, and the levels rebuilt below
    // match the export's bit for bit.
    val p = full.copy(frame = full.frame
      .filter(!(col("px").between(16, 31) && col("py").between(16, 31)))
      .withColumn("v", when(col("v") === ndv, lit(1.0)).otherwise(col("v"))))
    def collectPage(df: org.apache.spark.sql.DataFrame, w: Int, h: Int): Array[Double] = {
      val vals = Array.fill(w * h)(ndv)
      df.select("px", "py", "v").collect().foreach { r =>
        vals(r.getInt(1) * w + r.getInt(0)) = r.getDouble(2)
      }
      vals
    }
    val levels = Iterator.iterate(p.frame)(
      graft.raster.Overview.buildLevel(_, graft.core.ResamplingAlg.Average, ndv)).take(3).toSeq
    val pages = levels.zip(Seq((45, 33), (23, 17), (12, 9))).map { case (df, (w, h)) =>
      (w, h, collectPage(df, w, h)) }
    for (dt <- Seq(GeoTiff.DtInt16, GeoTiff.DtFloat32); big <- Seq(None, Some(true))) {
      val f = tempDir("graft_shard_bytes").resolve("out.tif")
      Trans.exportGeoTiffSharded(p, f.toString, tileSize = 16, dtype = dt,
        ovrLevels = 2, bigTiff = big)
      val want = GeoTiff.encodePyramid(pages, dt, p.outGt, Some(ndv),
        crs = GeoTiff.CrsTag.fromEpsg(graft.core.Proj.epsgFromName(p.outSrs)),
        tileSize = 16, bigTiff = big.contains(true))
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(f), want),
        s"dtype $dt, bigTiff $big")
      java.nio.file.Files.deleteIfExists(f)
    }
  }

  // The CLI tests below read the committed SRTM-shaped fixture
  // (graft.sources.SrtmFixture). Each compares the output with its
  // input, so none depends on the terrain.
  test("CLI front-end drives srcwin crop + GTIFF export end-to-end on the SRTM fixture (§3.1)") {
    import graft.sources.GeoTiff
    val srtm = graft.sources.SrtmFixture.path
    val out = tempDir("graft_cli")
      .resolve("crop.tif").toString
    val rc = graft.Main.run(Array(
      "-o", out, "-of", "GTIFF", "-srcwin", "100", "100", "200", "150",
      "-ovr", "1", "-quiet", "-overwrite", srtm), spark)
    assert(rc == 0)
    val infos = GeoTiff.readInfos(out)
    assert(infos.map(i => (i.width, i.height)) == Seq((200, 150), (100, 75)))
    // values round-trip: the exported window equals the source window
    val src = spark.read.format("graft.sources.RasterSource")
      .option("path", srtm).load()
      .filter(col("px") >= 100 && col("px") < 300 && col("py") >= 100 && col("py") < 250)
      .select((col("px") - 100).as("px"), (col("py") - 100).as("py"), col("v").as("va"))
    val back = spark.read.format("graft.sources.RasterSource")
      .option("path", out).load()
      .select(col("px"), col("py"), col("v").as("vb"))
    assert(back.count() == 200L * 150)
    assert(back.join(src, Seq("px", "py")).filter(col("va") =!= col("vb")).count() == 0)
    // skip-if-exists without -overwrite (reference semantics)
    assert(graft.Main.run(Array("-o", out, "-of", "GTIFF", "-quiet", srtm), spark) == 0)
  }

  test("CLI sequence fan-out: multiple inputs expand to suffixed COG jobs (I3)") {
    val srtm = graft.sources.SrtmFixture.path
    val base = tempDir("graft_cli_seq")
      .resolve("out").toString
    val rc = graft.Main.run(Array(
      "-o", base, "-srcwin", "0", "0", "64", "64", "-quiet", srtm, srtm), spark)
    assert(rc == 0)
    // two expanded jobs → .0/.1 COG layouts, each with an .info sidecar
    for (ji <- 0 to 1) {
      assert(spark.read.parquet(s"$base.$ji").count() > 0)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base.$ji.info")))
    }
    // bad flag and missing input fail loudly
    assert(graft.Main.run(Array("-bogus"), spark) == 1)
    assert(graft.Main.run(Array("-quiet"), spark) == 1)
  }

  test("warp + source-coordinate extent and cutline both re-project (projwin semantics)") {
    // extent/cutline given in SOURCE degrees must crop the WARPED
    // meter grid correctly (pre-fix: degree rects intersected meter
    // extents -> silent empty plan)
    val req = GeoRectangle(110, 35, 120, 45)
    val p = Trans.plan(dem, gt, 200, 120, TransOptions(
      extent = Some(req), warpSrs = Some("w84u51"), srcSrs = "w84geo")).get
    assert(p.outSrs == "w84u51")
    val n = p.frame.count()
    assert(n > 0, "warped crop planned empty")
    // the crop really cut: strictly fewer pixels than the full warp
    val full = Trans.plan(dem, gt, 200, 120, TransOptions(
      warpSrs = Some("w84u51"), srcSrs = "w84geo")).get.frame.count()
    assert(n < full, s"crop $n not smaller than full warp $full")

    val pc = Trans.plan(dem, gt, 200, 120, TransOptions(
      cutlineWkt = Some("POLYGON ((125 40, 130 35, 125 30, 120 35, 125 40))"),
      warpSrs = Some("w84u51"), srcSrs = "w84geo")).get
    val nc = pc.frame.filter(col("v") =!= PixelFrame.Dem.Ndv).count()
    assert(nc > 0, "warped cutline masked everything")
    assert(nc < full, s"cutline $nc did not mask the warped grid")
  }

  test("CLI -t_srs warps through the planner to a projected-CRS GeoTIFF") {
    import graft.sources.GeoTiff
    val srtm = graft.sources.SrtmFixture.path
    val out = tempDir("graft_cli_warp")
      .resolve("utm.tif").toString
    val rc = graft.Main.run(Array(
      "-o", out, "-of", "GTIFF", "-srcwin", "0", "0", "120", "120",
      "-t_srs", "w84u36", "-quiet", "-overwrite", srtm), spark)
    assert(rc == 0)
    val info = GeoTiff.readInfo(out)
    // zone 36 projected CRS tagged, meter-scale pixels, populated grid
    assert(info.epsg.contains(32636), s"epsg ${info.epsg}")
    assert(info.gt.get.c1 > 1, s"pixel size ${info.gt.get.c1} not in meters")
    assert(info.width > 0 && info.height > 0)
    val back = spark.read.format("graft.sources.RasterSource")
      .option("path", out).load()
    assert(back.filter(col("v") =!= -32768.0).count() > 1000)
  }

  test("CLI -partition splits the extent into grid-cell jobs (R5 + I3)") {
    import graft.sources.GeoTiff
    val srtm = graft.sources.SrtmFixture.path
    val base = tempDir("graft_cli_part")
      .resolve("part.tif").toString
    val rc = graft.Main.run(Array(
      "-o", base, "-of", "GTIFF", "-srcwin", "0", "0", "64", "64",
      "-partition", "4", "-quiet", srtm), spark)
    assert(rc == 0)
    // 4 cells on the 2×2 grid (find_two_greatest_devisors), each 32×32
    for (i <- 0 to 3) {
      val inf = GeoTiff.readInfo(s"$base.$i")
      assert((inf.width, inf.height) == (32, 32), s"cell $i: ${inf.width}x${inf.height}")
    }
    // the cells tile the window exactly: pixel sums add up to the source window's
    val srcSum = spark.read.format("graft.sources.RasterSource")
      .option("path", srtm).load()
      .filter(col("px") < 64 && col("py") < 64)
      .agg(sum("v")).head().getDouble(0)
    val cellSum = (0 to 3).map { i =>
      spark.read.format("graft.sources.RasterSource")
        .option("path", s"$base.$i").load()
        .agg(sum("v")).head().getDouble(0)
    }.sum
    assert(cellSum == srcSum, s"cells $cellSum vs source window $srcSum")
  }

  test("exportGeoTiff tags a warped UTM plan as projected CRS (not WGS84 degrees)") {
    import graft.sources.GeoTiff
    val p = Trans.plan(dem, gt, 200, 120, TransOptions(
      warpSrs = Some("w84u51"), srcSrs = "w84geo")).get
    assert(p.outSrs == "w84u51")
    val f = tempDir("graft_utm_export").resolve("out.tif")
    Trans.exportGeoTiffSharded(p, f.toString)
    val info = GeoTiff.readInfo(f.toString)
    assert(info.epsg.contains(32651)) // ProjectedCSTypeGeoKey, zone 51
    // pixel scale is in meters now, not degrees
    assert(info.gt.get.c1 > 100)
  }
}
