package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.GeoTransform

/** GeoTIFF codec + DSv2 integration.
  *
  * The SRTM-shaped checks (header, decoded pixels, DSv2 scan and
  * pruning, CLI runs in TransSpec) read the committed [[SrtmFixture]]:
  * the layout of the reference's SRTM tile (`data/maps/srtm1_x35_y32.tif`:
  * 361×361 Int16, 256×256 DEFLATE tiles, EPSG:4326) with pixels from a
  * closed-form formula, so the expected values are computed here, not
  * read back from the codec.
  *
  * The real tile's ground truth was computed by an independent decoder
  * (python struct+zlib): sum 38341369, min 79, max 550. One test
  * asserts it, and runs only where the reference checkout's tile
  * ([[Srtm]]) is present.
  */
class GeoTiffSpec extends SparkSpec {

  val Srtm = "/root/reference/data/maps/srtm1_x35_y32.tif"
  val Fixture: String = SrtmFixture.path

  private def checkSrtmHeader(path: String): Unit = {
    val info = GeoTiff.readInfo(path)
    assert(info.width == 361 && info.height == 361)
    assert(info.bands == 1 && info.dtypeName == "Int16")
    assert(info.compression == 8 && !info.bigEndian)
    assert(info.segments.length == 4) // 2×2 tiles of 256×256
    assert(info.epsg.contains(4326))
    val gt = info.gt.get
    assert(math.abs(gt.c1 - 1.0 / 3600) < 1e-12) // 1-arcsecond-ish grid
    assert(gt.c5 < 0)
    assert(math.abs(gt.c0 - 34.99986111111113) < 1e-9)
    assert(math.abs(gt.c3 - 32.100138888888885) < 1e-9)
  }

  /** The full raster assembled driver-side from its segments (361² is small). */
  private def decodeAll(path: String): Array[Double] = {
    val info = GeoTiff.readInfo(path)
    val pix = Array.ofDim[Double](info.width * info.height)
    for (seg <- info.segments) {
      val d = GeoTiff.decodeSegment(path, info, seg)
      for (y <- 0 until seg.h; x <- 0 until seg.w) {
        val (gx, gy) = (seg.x0 + x, seg.y0 + y)
        if (gx < info.width && gy < info.height)
          pix(gy * info.width + gx) = d(y * seg.w + x)
      }
    }
    pix
  }

  private def scan(path: String) =
    spark.read.format("graft.sources.RasterSource").option("path", path).load()

  /** A crop inside tile (0,0) only: pushdown must prune to 1 partition. */
  private def tileZeroCrop(path: String) = {
    val crop = scan(path).filter(col("px") >= 100 && col("px") < 200 &&
      col("py") >= 100 && col("py") < 200)
    assert(crop.rdd.getNumPartitions == 1)
    crop.agg(sum("v"), min("v"), max("v")).head()
  }

  test("readInfo parses the SRTM fixture header (A1, gdalos_trans.py:318-320)") {
    checkSrtmHeader(Fixture)
    assert(GeoTiff.readInfo(Fixture).nodata.contains(-32768.0))
  }

  test("decodeSegment reproduces known SRTM pixels and full-raster stats") {
    val pix = decodeAll(Fixture)
    val expect = SrtmFixture.window(0, 0, SrtmFixture.W, SrtmFixture.H)
    assert(pix.sameElements(expect))
    assert(pix.min == expect.min && pix.max == expect.max)
    assert(pix.sum == expect.sum)
  }

  test("DSv2 scan of the SRTM fixture: full stats + segment-pruned crop") {
    val full = scan(Fixture).agg(count(lit(1)), sum("v"), min("v"), max("v")).head()
    val all = SrtmFixture.window(0, 0, SrtmFixture.W, SrtmFixture.H)
    assert(full.getLong(0) == 130321L)
    assert(full.getDouble(1) == all.sum)
    assert(full.getDouble(2) == all.min && full.getDouble(3) == all.max)

    val cs = tileZeroCrop(Fixture)
    val win = SrtmFixture.window(100, 100, 200, 200)
    assert(cs.getDouble(0) == win.sum)
    assert(cs.getDouble(1) == win.min && cs.getDouble(2) == win.max)
  }

  test("real SRTM tile: header, known pixels, full stats and pruned crop stats") {
    assume(Files.exists(Paths.get(Srtm)), s"reference SRTM tile $Srtm not present")
    checkSrtmHeader(Srtm)
    val pix = decodeAll(Srtm)
    assert(pix(0) == 144.0)
    assert(pix(100 * 361 + 100) == 253.0)
    assert(pix(180 * 361 + 180) == 186.0)
    assert(pix(360 * 361 + 360) == 417.0)
    assert(pix(50 * 361 + 200) == 351.0)
    assert(pix.min == 79.0 && pix.max == 550.0)
    assert(pix.sum == 38341369.0)

    val full = scan(Srtm).agg(count(lit(1)), sum("v"), min("v"), max("v")).head()
    assert(full.getLong(0) == 130321L)
    assert(full.getDouble(1) == 38341369.0)
    assert(full.getDouble(2) == 79.0 && full.getDouble(3) == 550.0)
    val cs = tileZeroCrop(Srtm)
    assert(cs.getDouble(0) == 2666854.0)
    assert(cs.getDouble(1) == 144.0 && cs.getDouble(2) == 408.0)
  }

  test("writer round-trip: Int16 + predictor 2, striped DEFLATE") {
    val w = 100; val h = 70
    val vals = Array.tabulate(w * h)(i => ((i % w) * 7 + (i / w) * 13) % 997 - 200.0)
    val gt = GeoTransform(35.0, 0.001, 0, 32.0, 0, -0.001)
    val bytes = GeoTiff.encode(w, h, vals, GeoTiff.DtInt16, gt,
      nodata = Some(-32768.0), rowsPerStrip = 16, predictor = 2)
    val f = tempDir("graft_gt").resolve("t.tif")
    Files.write(f, bytes)
    val info = GeoTiff.readInfo(f.toString)
    assert(info.width == w && info.height == h)
    assert(info.dtypeName == "Int16" && info.predictor == 2)
    assert(info.nodata.contains(-32768.0))
    assert(info.segments.length == (h + 15) / 16)
    assert(info.epsg.contains(4326))
    val g = info.gt.get
    assert(math.abs(g.c0 - 35.0) < 1e-12 && math.abs(g.c5 + 0.001) < 1e-12)
    val out = Array.ofDim[Double](w * h)
    for (seg <- info.segments) {
      val d = GeoTiff.decodeSegment(f.toString, info, seg)
      for (y <- 0 until seg.h; x <- 0 until seg.w)
        out((seg.y0 + y) * w + seg.x0 + x) = d(y * seg.w + x)
    }
    assert(out.sameElements(vals))
  }

  test("writer round-trip: Float32 fractional values") {
    val w = 33; val h = 17
    val vals = Array.tabulate(w * h)(i => i * 0.25f - 40.5f).map(_.toDouble)
    val gt = GeoTransform(0.0, 0.5, 0, 10.0, 0, -0.5)
    val bytes = GeoTiff.encode(w, h, vals, GeoTiff.DtFloat32, gt)
    val f = tempDir("graft_gtf").resolve("t.tif")
    Files.write(f, bytes)
    val info = GeoTiff.readInfo(f.toString)
    assert(info.dtypeName == "Float32" && info.nodata.isEmpty)
    val d = info.segments.map(s => GeoTiff.decodeSegment(f.toString, info, s))
    val out = info.segments.zip(d).flatMap { case (s, dd) =>
      (0 until s.h).flatMap(y => (0 until s.w).map(x => ((s.y0 + y) * w + s.x0 + x, dd(y * s.w + x))))
    }.sortBy(_._1).map(_._2).toArray
    assert(out.sameElements(vals))
  }

  test("writer round-trip: Float64 little-endian word order is preserved") {
    // regression: LE Float64 decode must read the LOW 32-bit word first
    // (a word-swap decodes every sample to garbage silently)
    val w = 19; val h = 11
    val vals = Array.tabulate(w * h)(i => math.Pi * (i - 100) + 1.0 / 3)
    val gt = GeoTransform(5.0, 0.125, 0, 60.0, 0, -0.125)
    val bytes = GeoTiff.encode(w, h, vals, GeoTiff.DtFloat64, gt, rowsPerStrip = 4)
    val f = tempDir("graft_gtd").resolve("t.tif")
    Files.write(f, bytes)
    val info = GeoTiff.readInfo(f.toString)
    assert(info.dtypeName == "Float64" && !info.bigEndian)
    val out = Array.ofDim[Double](w * h)
    for (seg <- info.segments) {
      val d = GeoTiff.decodeSegment(f.toString, info, seg)
      for (y <- 0 until seg.h; x <- 0 until seg.w if seg.y0 + y < h)
        out((seg.y0 + y) * w + seg.x0 + x) = d(y * seg.w + x)
    }
    // bit-exact: doubles survive the codec unchanged
    assert(out.sameElements(vals))
  }

  test("projected CRS tag: UTM export carries ProjectedCSTypeGeoKey, not WGS84-geographic") {
    val w = 10; val h = 8
    val vals = Array.tabulate(w * h)(_.toDouble)
    // a UTM-meter grid: 30 m pixels anchored in zone 36 coordinates
    val utmGt = GeoTransform(500000.0, 30.0, 0, 3600000.0, 0, -30.0)
    val f = tempDir("graft_utm").resolve("t.tif")
    Files.write(f, GeoTiff.encode(w, h, vals, GeoTiff.DtInt16, utmGt,
      crs = GeoTiff.CrsTag.fromEpsg(32636)))
    val info = GeoTiff.readInfo(f.toString)
    assert(info.epsg.contains(32636))
    // geographic default still writes the geographic key
    val f2 = tempDir("graft_geo").resolve("t.tif")
    Files.write(f2, GeoTiff.encode(w, h, vals, GeoTiff.DtInt16,
      GeoTransform(35.0, 0.001, 0, 32.0, 0, -0.001)))
    assert(GeoTiff.readInfo(f2.toString).epsg.contains(4326))
    // ED50 variants
    assert(!GeoTiff.CrsTag.fromEpsg(23036).geographic)
    assert(GeoTiff.CrsTag.fromEpsg(4230).geographic)
  }

  test("DSv2 scan of a written file equals the source frame (q65 shape)") {
    val w = 64; val h = 48
    val vals = Array.tabulate(w * h) { i =>
      val (px, py) = (i % w, i / w)
      if ((px * 31 + py * 17) % 101 == 0) -32768.0
      else ((px * 7 + py * 13) % 997).toDouble
    }
    val gt = GeoTransform(100.0, 0.25, 0, 50.0, 0, -0.25)
    val f = tempDir("graft_rt").resolve("t.tif")
    Files.write(f, GeoTiff.encode(w, h, vals, GeoTiff.DtInt16, gt,
      nodata = Some(-32768.0), rowsPerStrip = 16))
    val back = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).load()
      .select("px", "py", "v").collect()
    assert(back.length == w * h)
    back.foreach(r => assert(r.getDouble(2) == vals(r.getInt(1) * w + r.getInt(0))))
  }
  test("multi-IFD pyramid: encodePyramid pages round-trip; DSv2 ovr option selects them") {
    // base 64x48 + nearest overviews (2^1, 2^2) — the internal-ovr form
    def level(vals: Array[Double], w: Int, h: Int, k: Int): Array[Double] = {
      val f = 1 << k; val ow = w / f; val oh = h / f
      Array.tabulate(ow * oh)(i => vals((i / ow) * f * w + (i % ow) * f))
    }
    val w = 64; val h = 48
    val base = Array.tabulate(w * h)(i => ((i % w) * 7 + (i / w) * 13) % 997.0)
    val gt = GeoTransform(10.0, 0.1, 0, 20.0, 0, -0.1)
    val bytes = GeoTiff.encodePyramid(
      Seq((w, h, base), (w / 2, h / 2, level(base, w, h, 1)), (w / 4, h / 4, level(base, w, h, 2))),
      GeoTiff.DtInt16, gt, nodata = Some(-32768.0), rowsPerStrip = 16)
    val f = tempDir("graft_pyr").resolve("t.tif")
    Files.write(f, bytes)

    val infos = GeoTiff.readInfos(f.toString)
    assert(infos.map(i => (i.width, i.height)) == Seq((64, 48), (32, 24), (16, 12)))
    assert(infos.head.gt.isDefined && infos.head.nodata.contains(-32768.0))
    // overview pages decode to the expected decimated values
    for (k <- 1 to 2) {
      val info = infos(k)
      val expect = level(base, w, h, k)
      val got = Array.ofDim[Double](info.width * info.height)
      for (seg <- info.segments; y <- 0 until seg.h; x <- 0 until seg.w
           if seg.x0 + x < info.width && seg.y0 + y < info.height)
        got((seg.y0 + y) * info.width + seg.x0 + x) =
          GeoTiff.decodeSegment(f.toString, info, seg)(y * seg.w + x)
      assert(got.sameElements(expect), s"ovr $k")
    }
    // DSv2: ovr option (incl. negative-from-top) prunes to the page
    val top = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).option("ovr", -1).load()
    assert(top.count() == 16 * 12)
    val o1 = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).option("ovr", 1).load()
      .agg(sum("v")).head().getDouble(0)
    assert(o1 == level(base, w, h, 1).sum)
    // the SRTM-shaped fixture remains a single-page file
    assert(GeoTiff.readInfos(Fixture).length == 1)
  }
  test("tiled write (COG layout): round-trip, edge padding, predictor, pyramid") {
    val w = 70; val h = 41 // deliberately not multiples of the tile size
    val vals = Array.tabulate(w * h)(i => ((i % w) * 7 + (i / w) * 13) % 997 - 100.0)
    val gt = GeoTransform(10.0, 0.1, 0, 20.0, 0, -0.1)
    def level(k: Int): Array[Double] = {
      val f = 1 << k; val ow = (w + f - 1) / f; val oh = (h + f - 1) / f
      Array.tabulate(ow * oh)(i => vals(math.min((i / ow) * f, h - 1) * w + math.min((i % ow) * f, w - 1)))
    }
    val bytes = GeoTiff.encodePyramid(
      Seq((w, h, vals), ((w + 1) / 2, (h + 1) / 2, level(1))),
      GeoTiff.DtInt16, gt, nodata = Some(-32768.0), predictor = 2, tileSize = 32)
    val f = tempDir("graft_cog").resolve("t.tif")
    Files.write(f, bytes)

    val infos = GeoTiff.readInfos(f.toString)
    assert(infos.length == 2)
    val base = infos.head
    // 3×2 tiles of 32×32 on the base page
    assert(base.segments.length == 6)
    assert(base.segments.forall(s => s.w == 32 && s.h == 32))
    assert(base.predictor == 2)
    // decode clips padding by global bounds — values identical
    val out = Array.ofDim[Double](w * h)
    for (seg <- base.segments) {
      val d = GeoTiff.decodeSegment(f.toString, base, seg)
      for (y <- 0 until seg.h; x <- 0 until seg.w
           if seg.x0 + x < w && seg.y0 + y < h)
        out((seg.y0 + y) * w + seg.x0 + x) = d(y * seg.w + x)
    }
    assert(out.sameElements(vals))
    // DSv2 scan: row count excludes tile padding; values equal source
    val back = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).load()
    assert(back.count() == w.toLong * h)
    val mism = back.filter(col("v") =!=
      ((col("px") * 7 + col("py") * 13) % 997 - 100.0)).count()
    assert(mism == 0)
    // a pushed crop inside one tile prunes to 1 partition (the COG point)
    val crop = back.filter(col("px") >= 2 && col("px") < 20 &&
      col("py") >= 2 && col("py") < 20)
    assert(crop.rdd.getNumPartitions == 1)
    // overview page is tiled too and decodes
    assert(infos(1).segments.length == 2) // 36x21 → 2x1 tiles of 32
  }

  test("LZW and PackBits codecs round-trip (incl. width growth and table reset)") {
    val rnd = new scala.util.Random(11)
    val cases = Seq(
      Array.empty[Byte],
      Array[Byte](7),
      Array.fill(300)(42.toByte), // long repeat run
      Array.tabulate(4096)(i => (i % 251).toByte), // cycles past width growth
      Array.tabulate(70000)(i => ((i * 31 + i / 7) % 256).toByte), // forces table reset
      Array.fill(5000)(rnd.nextInt(256).toByte), // incompressible
      Array.tabulate(2000)(i => if ((i / 13) % 2 == 0) 0.toByte else rnd.nextInt(256).toByte))
    for ((c, i) <- cases.zipWithIndex) {
      assert(GeoTiff.lzwDecode(GeoTiff.lzwEncode(c), c.length).sameElements(c), s"lzw case $i")
      assert(GeoTiff.packBitsDecode(GeoTiff.packBitsEncode(c), c.length).sameElements(c), s"packbits case $i")
    }
  }

  test("writer: LZW and PackBits compressed files read back exactly") {
    val w = 90; val h = 60
    val vals = Array.tabulate(w * h)(i => ((i % w) * 7 + (i / w) * 13) % 997 - 300.0)
    val gt = GeoTransform(3.0, 0.5, 0, 40.0, 0, -0.5)
    for (comp <- Seq(1, 5, 32773)) {
      val bytes = GeoTiff.encodePyramid(Seq((w, h, vals)), GeoTiff.DtInt16, gt,
        nodata = Some(-32768.0), rowsPerStrip = 16,
        predictor = if (comp == 5) 2 else 1, compression = comp)
      val f = tempDir(s"graft_c$comp").resolve("t.tif")
      Files.write(f, bytes)
      val info = GeoTiff.readInfo(f.toString)
      assert(info.compression == comp)
      val out = Array.ofDim[Double](w * h)
      for (seg <- info.segments; y <- 0 until seg.h; x <- 0 until seg.w
           if seg.y0 + y < h)
        out((seg.y0 + y) * w + seg.x0 + x) =
          GeoTiff.decodeSegment(f.toString, info, seg)(y * seg.w + x)
      assert(out.sameElements(vals), s"compression $comp")
    }
  }

  test("DSv2 scan reads an LZW tiled file with pushdown pruning") {
    val w = 80; val h = 48
    val vals = Array.tabulate(w * h)(i => ((i % w) * 7 + (i / w) * 13) % 997.0)
    val f = tempDir("graft_lzw_cog").resolve("t.tif")
    Files.write(f, GeoTiff.encodePyramid(Seq((w, h, vals)), GeoTiff.DtInt16,
      GeoTransform(0, 1, 0, 48, 0, -1), nodata = Some(-32768.0),
      compression = 5, tileSize = 32))
    val df = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).load()
    assert(df.count() == w.toLong * h)
    assert(df.agg(sum("v")).head().getDouble(0) == vals.sum)
    val crop = df.filter(col("px") >= 40 && col("px") < 60 &&
      col("py") >= 5 && col("py") < 20)
    assert(crop.rdd.getNumPartitions == 1) // one 32x32 tile covers it
    assert(crop.count() == 20 * 15)
  }

  test("multi-band RGB write: chunky round-trip, striped and tiled, per-band DSv2 read") {
    val w = 40; val h = 25; val bands = 3
    val vals = Array.tabulate(w * h * bands) { i =>
      val p = i / bands; val b = i % bands
      ((p % w) * 3 + (p / w) * 5 + b * 41) % 256.0
    }
    val gt = GeoTransform(0, 0.5, 0, 20, 0, -0.5)
    for (ts <- Seq(0, 16)) {
      val bytes = GeoTiff.encodePyramid(Seq((w, h, vals)), GeoTiff.DtByte, gt,
        rowsPerStrip = 7, tileSize = ts, bands = bands)
      val f = tempDir(s"graft_rgb$ts").resolve("t.tif")
      Files.write(f, bytes)
      val info = GeoTiff.readInfo(f.toString)
      assert(info.bands == 3 && info.dtypeName == "Byte")
      val out = Array.ofDim[Double](w * h * bands)
      for (seg <- info.segments) {
        val d = GeoTiff.decodeSegment(f.toString, info, seg)
        for (y <- 0 until seg.h; x <- 0 until seg.w; b <- 0 until bands
             if seg.x0 + x < w && seg.y0 + y < h)
          out(((seg.y0 + y) * w + seg.x0 + x) * bands + b) =
            d((y * seg.w + x) * bands + b)
      }
      assert(out.sameElements(vals), s"tileSize=$ts")
      // the DSv2 connector reads each band as its own rows
      val df = spark.read.format("graft.sources.RasterSource")
        .option("path", f.toString).load()
      val perBand = df.groupBy("band").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(perBand.keySet == Set(1, 2, 3))
      for (b <- 0 until bands) {
        val expect = (0 until w * h).map(p => vals(p * bands + b)).sum
        assert(perBand(b + 1) == ((w.toLong * h, expect)), s"band ${b + 1}, ts=$ts")
      }
    }
    // predictor 2 stays single-band-only
    assertThrows[IllegalArgumentException](GeoTiff.encodePyramid(
      Seq((4, 4, Array.fill(48)(0.0))), GeoTiff.DtInt16, gt, predictor = 2, bands = 3))
  }

  test("writer round-trip: floating-point predictor 3, striped and tiled") {
    // predictor 3 = byte-plane split + bytewise differencing (libtiff
    // fpDiff/fpAcc); real Float32 DEM COGs commonly carry it
    val w = 37; val h = 15
    val vals = Array.tabulate(w * h)(i => (i * 0.37f - 55.25f).toDouble)
    val gt = GeoTransform(0.0, 0.5, 0, 10.0, 0, -0.5)

    def readBack(bytes: Array[Byte], expPred: Int): Array[Double] = {
      val f = tempDir("graft_p3").resolve("t.tif")
      Files.write(f, bytes)
      val info = GeoTiff.readInfo(f.toString)
      assert(info.predictor == expPred)
      val out = Array.ofDim[Double](w * h)
      for (seg <- info.segments; y <- 0 until seg.h; x <- 0 until seg.w
           if seg.y0 + y < h && seg.x0 + x < w)
        out((seg.y0 + y) * w + seg.x0 + x) =
          GeoTiff.decodeSegment(f.toString, info, seg)(y * seg.w + x)
      Files.deleteIfExists(f)
      out
    }

    // striped DEFLATE Float32
    val striped = GeoTiff.encode(w, h, vals, GeoTiff.DtFloat32, gt,
      rowsPerStrip = 4, predictor = 3)
    assert(readBack(striped, 3).sameElements(vals))
    // tiled LZW Float32 (the COG shape)
    val tiled = GeoTiff.encodePyramid(Seq((w, h, vals)), GeoTiff.DtFloat32, gt,
      nodata = Some(-9999.0), predictor = 3, tileSize = 16, compression = 5)
    assert(readBack(tiled, 3).sameElements(vals))
    // Float64: 8 byte planes, bit-exact doubles
    val vals64 = Array.tabulate(w * h)(i => math.Pi * (i - 100) + 1.0 / 3)
    val striped64 = GeoTiff.encode(w, h, vals64, GeoTiff.DtFloat64, gt,
      rowsPerStrip = 6, predictor = 3)
    val f64 = tempDir("graft_p3d").resolve("t.tif")
    Files.write(f64, striped64)
    val i64 = GeoTiff.readInfo(f64.toString)
    val out64 = Array.ofDim[Double](w * h)
    for (seg <- i64.segments; y <- 0 until seg.h; x <- 0 until seg.w if seg.y0 + y < h)
      out64((seg.y0 + y) * w + seg.x0 + x) =
        GeoTiff.decodeSegment(f64.toString, i64, seg)(y * seg.w + x)
    assert(out64.sameElements(vals64))
    // predictor 3 on integer samples is rejected on both paths
    assertThrows[IllegalArgumentException](
      GeoTiff.encode(w, h, vals, GeoTiff.DtInt16, gt, predictor = 3))
  }

  /** Hand-built little-endian BigTIFF (version 43): 8-byte offsets,
    * 20-byte IFD entries, LONG8 strip offset/count arrays, external
    * DOUBLE geo tags — the layout GDAL writes with `BIGTIFF=YES`.
    * Synthetic 64-bit offsets exercise the wide fields without a
    * 4 GiB file.
    */
  private def buildBigTiff(w: Int, h: Int, rps: Int, vals: Array[Byte]): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int)(put: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN); put(b); b.array()
    }
    val strips = (0 until (h + rps - 1) / rps).map { s =>
      val y0 = s * rps; val rows = math.min(rps, h - y0)
      java.util.Arrays.copyOfRange(vals, y0 * w, (y0 + rows) * w)
    }
    final case class T(id: Int, typ: Int, cnt: Long, inline: Long = 0,
                       ext: Array[Byte] = null)
    val stripOffExt = new Array[Byte](strips.length * 8) // patched below
    val tags = Seq(
      T(256, 3, 1, w), T(257, 3, 1, h), T(258, 3, 1, 8), T(259, 3, 1, 1),
      T(262, 3, 1, 1),
      T(273, 16, strips.length, ext = stripOffExt),
      T(277, 3, 1, 1), T(278, 3, 1, rps),
      T(279, 16, strips.length,
        ext = le(strips.length * 8)(b => strips.foreach(s => b.putLong(s.length)))),
      T(339, 3, 1, 1),
      T(33550, 12, 3, ext = le(24)(b => Seq(0.5, 0.25, 0.0).foreach(b.putDouble))),
      T(33922, 12, 6,
        ext = le(48)(b => Seq(0.0, 0.0, 0.0, 100.0, 50.0, 0.0).foreach(b.putDouble))))
    val ifdOff = 16L
    var extOff = ifdOff + 8 + tags.length * 20 + 8
    val extOffs = tags.map { t =>
      if (t.ext != null && t.ext.length > 8) { val o = extOff; extOff += t.ext.length; Some(o) }
      else None
    }
    var stripOff = extOff
    val stripOffs = strips.map { s => val o = stripOff; stripOff += s.length; o }
    System.arraycopy(le(strips.length * 8)(b => stripOffs.foreach(b.putLong)), 0,
      stripOffExt, 0, strips.length * 8)
    val out = ByteBuffer.allocate(stripOff.toInt).order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0)
    out.putLong(ifdOff)
    out.putLong(tags.length.toLong)
    tags.zip(extOffs).foreach { case (t, eo) =>
      out.putShort(t.id.toShort).putShort(t.typ.toShort).putLong(t.cnt)
      (Option(t.ext), eo) match {
        case (Some(b), None) => out.put(java.util.Arrays.copyOf(b, 8)) // fits inline
        case (_, Some(o))    => out.putLong(o)
        case _               => out.putLong(t.inline)
      }
    }
    out.putLong(0L) // next IFD
    tags.zip(extOffs).foreach {
      case (t, Some(_)) => out.put(t.ext)
      case _            => ()
    }
    strips.foreach(out.put)
    out.array()
  }

  /** Hand-built classic LE TIFF: 8×5, 2 Byte bands, rps=3, planar 2 —
    * strip order band-major (b1 rows 0-2, b1 rows 3-4, b2 …, b2 …).
    * Bands are `i.toByte` / `(100+i).toByte` over row-major i.
    */
  private def buildPlanar2(): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val w = 8; val h = 5; val rps = 3
    val band1 = Array.tabulate(w * h)(i => i.toByte)
    val band2 = Array.tabulate(w * h)(i => (100 + i).toByte)
    val strips = Seq(band1.slice(0, 24), band1.slice(24, 40),
      band2.slice(0, 24), band2.slice(24, 40))
    def le(n: Int)(put: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN); put(b); b.array()
    }
    final case class T(id: Int, typ: Int, cnt: Int, inline: Long = 0,
                       ext: Array[Byte] = null)
    val stripOffExt = new Array[Byte](16)
    val tags = Seq(
      T(256, 3, 1, w), T(257, 3, 1, h),
      T(258, 3, 2, 0x00080008L), // bits 8,8 inline (two LE shorts)
      T(259, 3, 1, 1), T(262, 3, 1, 1),
      T(273, 4, 4, ext = stripOffExt),
      T(277, 3, 1, 2), T(278, 3, 1, rps),
      T(279, 4, 4, ext = le(16)(b => strips.foreach(s => b.putInt(s.length)))),
      T(284, 3, 1, 2), // PlanarConfiguration = 2
      T(339, 3, 2, 0x00010001L))
    var extOff = 8 + 2 + tags.length * 12 + 4
    val extOffs = tags.map { t =>
      if (t.ext != null) { val o = extOff; extOff += t.ext.length; Some(o) } else None
    }
    var so = extOff
    val stripOffs = strips.map { s => val o = so; so += s.length; o }
    System.arraycopy(le(16)(b => stripOffs.foreach(b.putInt)), 0, stripOffExt, 0, 16)
    val out = ByteBuffer.allocate(so).order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    out.putShort(tags.length.toShort)
    tags.zip(extOffs).foreach { case (t, eo) =>
      out.putShort(t.id.toShort).putShort(t.typ.toShort).putInt(t.cnt)
      out.putInt(eo.map(_.toLong).getOrElse(t.inline).toInt)
    }
    out.putInt(0)
    tags.foreach(t => if (t.ext != null) out.put(t.ext))
    strips.foreach(out.put)
    out.array()
  }

  test("planar configuration 2: band-separate strips read per-band (chunky writers unaffected)") {
    val w = 8; val h = 5
    val band1 = Array.tabulate(w * h)(i => i.toByte)
    val band2 = Array.tabulate(w * h)(i => (100 + i).toByte)
    val f = tempDir("graft_planar").resolve("t.tif")
    Files.write(f, buildPlanar2())
    val info = GeoTiff.readInfo(f.toString)
    assert(info.bands == 2 && info.segments.length == 4)
    assert(info.segments.map(_.band) == Seq(1, 1, 2, 2))
    assert(info.segments.map(_.y0) == Seq(0, 3, 0, 3))
    // per-segment decode: single-band payloads
    val s0 = GeoTiff.decodeSegment(f.toString, info, info.segments.head)
    assert(s0.length == 24 && s0(5) == 5.0)
    val s3 = GeoTiff.decodeSegment(f.toString, info, info.segments(3))
    assert(s3.length == 16 && s3(0) == 124.0) // band 2, row 3, px 0 → 100+24
    // DSv2 end-to-end: per-band rows with correct values
    val df = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).load()
    assert(df.count() == w.toLong * h * 2)
    val sums = df.groupBy("band").agg(sum("v").as("s")).orderBy("band")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(sums(1) == band1.map(_ & 0xff).sum.toDouble)
    assert(sums(2) == band2.map(_ & 0xff).sum.toDouble)
    Files.deleteIfExists(f)
  }

  test("BigTIFF read: version 43 header, LONG8 arrays, external DOUBLE geo tags") {
    val w = 8; val h = 5
    val vals = Array.tabulate(w * h)(i => ((i * 7) % 251).toByte)
    val bytes = buildBigTiff(w, h, rps = 3, vals)
    val f = tempDir("graft_big").resolve("t.tif")
    Files.write(f, bytes)
    val info = GeoTiff.readInfo(f.toString)
    assert(info.width == w && info.height == h && info.dtypeName == "Byte")
    assert(info.segments.length == 2)
    val gt = info.gt.get
    assert(gt.c0 == 100.0 && gt.c1 == 0.5 && gt.c3 == 50.0 && gt.c5 == -0.25)
    val out = Array.ofDim[Double](w * h)
    for (seg <- info.segments; y <- 0 until seg.h; x <- 0 until seg.w if seg.y0 + y < h)
      out((seg.y0 + y) * w + seg.x0 + x) =
        GeoTiff.decodeSegment(f.toString, info, seg)(y * seg.w + x)
    assert(out.sameElements(vals.map(b => (b & 0xff).toDouble)))
    Files.deleteIfExists(f)
  }

  test("BigTIFF write: version-43 pyramids round-trip through the wide-offset reader") {
    val w = 50; val h = 34
    val vals = Array.tabulate(w * h)(i => ((i * 7) % 997).toDouble)
    val ow = (w + 1) / 2; val oh = (h + 1) / 2
    val ovr = Array.tabulate(ow * oh)(i => (i % 256).toDouble)
    val gt = GeoTransform(10.0, 0.5, 0, 40.0, 0, -0.5)
    // striped DEFLATE Int16 + an overview page
    val bytes = GeoTiff.encodePyramid(Seq((w, h, vals), (ow, oh, ovr)),
      GeoTiff.DtInt16, gt, nodata = Some(-32768.0), rowsPerStrip = 8,
      bigTiff = true)
    assert(bytes(2) == 43 && bytes(3) == 0) // BigTIFF version word
    val f = tempDir("graft_bigw").resolve("t.tif"); Files.write(f, bytes)
    val infos = GeoTiff.readInfos(f.toString)
    assert(infos.length == 2)
    assert(infos.head.width == w && infos.head.height == h)
    assert(infos.head.nodata.contains(-32768.0) && infos.head.gt.isDefined)
    def decodeAll(path: String, info: GeoTiff.Info, dw: Int, dh: Int): Array[Double] = {
      val out = Array.ofDim[Double](dw * dh)
      for (seg <- info.segments; y <- 0 until seg.h; x <- 0 until seg.w
           if seg.y0 + y < dh && seg.x0 + x < dw)
        out((seg.y0 + y) * dw + seg.x0 + x) =
          GeoTiff.decodeSegment(path, info, seg)(y * seg.w + x)
      out
    }
    assert(decodeAll(f.toString, infos.head, w, h).sameElements(vals))
    assert(decodeAll(f.toString, infos(1), ow, oh).sameElements(ovr))
    // tiled LZW Float32 + predictor 3 under BigTIFF widths
    val fv = Array.tabulate(w * h)(i => (i * 0.25f - 10f).toDouble)
    val tb = GeoTiff.encodePyramid(Seq((w, h, fv)), GeoTiff.DtFloat32, gt,
      tileSize = 16, compression = 5, predictor = 3, bigTiff = true)
    val f2 = tempDir("graft_bigw2").resolve("t.tif"); Files.write(f2, tb)
    val i2 = GeoTiff.readInfo(f2.toString)
    assert(decodeAll(f2.toString, i2, w, h).sameElements(fv))
    Files.deleteIfExists(f); Files.deleteIfExists(f2)
  }

  test("JPEG-in-TIFF (compression 7): RGB photo pages round-trip within lossy tolerance") {
    val w = 48; val h = 33
    // smooth gradients: DCT+4:2:0 stays close, so the tolerance is tight
    val vals = new Array[Double](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      vals(i) = (x * 255 / (w - 1)).toDouble
      vals(i + 1) = (y * 255 / (h - 1)).toDouble
      vals(i + 2) = 128.0
    }
    val gt = GeoTransform(0, 1, 0, h.toDouble, 0, -1)
    val bytes = GeoTiff.encodePyramid(Seq((w, h, vals)), GeoTiff.DtByte, gt,
      tileSize = 16, compression = 7, bands = 3)
    val f = tempDir("graft_jpg").resolve("t.tif"); Files.write(f, bytes)
    val info = GeoTiff.readInfo(f.toString)
    assert(info.compression == 7 && info.bands == 3
      && info.width == w && info.height == h) // exact dims
    // photo kind drives the resampling choice (gdalos_types.py:84-94)
    import graft.core.{RasterKind, ResamplingAlg}
    val kind = RasterKind.guess(Seq.fill(info.bands)(info.dtypeName))
    assert(kind == RasterKind.Photo)
    assert(kind.resamplingAlg() == ResamplingAlg.Cubic)
    assert(kind.resamplingAlg(fastMode = true) == ResamplingAlg.Average)

    val out = Array.ofDim[Double](w * h * 3)
    for (seg <- info.segments) {
      val d = GeoTiff.decodeSegment(f.toString, info, seg)
      for (y <- 0 until seg.h; x <- 0 until seg.w
           if seg.y0 + y < h && seg.x0 + x < w; b <- 0 until 3)
        out(((seg.y0 + y) * w + seg.x0 + x) * 3 + b) = d((y * seg.w + x) * 3 + b)
    }
    val errs = out.indices.map(i => math.abs(out(i) - vals(i)))
    assert(errs.max <= 24.0, s"max JPEG error ${errs.max}")
    assert(errs.sum / errs.length <= 4.0, s"mean JPEG error ${errs.sum / errs.length}")
    // deterministic encode (fixed quality) + deterministic decode checksum
    assert(GeoTiff.encodePyramid(Seq((w, h, vals)), GeoTiff.DtByte, gt,
      tileSize = 16, compression = 7, bands = 3).sameElements(bytes))
    val crc = new java.util.zip.CRC32()
    out.foreach(v => crc.update(v.toInt))
    val out2 = Array.ofDim[Double](w * h * 3)
    for (seg <- info.segments) {
      val d = GeoTiff.decodeSegment(f.toString, info, seg)
      for (y <- 0 until seg.h; x <- 0 until seg.w
           if seg.y0 + y < h && seg.x0 + x < w; b <- 0 until 3)
        out2(((seg.y0 + y) * w + seg.x0 + x) * 3 + b) = d((y * seg.w + x) * 3 + b)
    }
    val crc2 = new java.util.zip.CRC32()
    out2.foreach(v => crc2.update(v.toInt))
    assert(crc.getValue == crc2.getValue)

    // JPEGTables merge path: a trivial tables stream (SOI+EOI) is a no-op
    val tinfo = info.copy(jpegTables =
      Some(Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte)))
    val seg0 = info.segments.head
    assert(GeoTiff.decodeSegment(f.toString, tinfo, seg0)
      .sameElements(GeoTiff.decodeSegment(f.toString, info, seg0)))

    // grayscale striped JPEG page
    val gvals = Array.tabulate(w * h)(i => ((i % w) * 255 / (w - 1)).toDouble)
    val gb = GeoTiff.encodePyramid(Seq((w, h, gvals)), GeoTiff.DtByte, gt,
      rowsPerStrip = 16, compression = 7)
    val gf = tempDir("graft_jpgg").resolve("t.tif"); Files.write(gf, gb)
    val gi = GeoTiff.readInfo(gf.toString)
    val gout = Array.ofDim[Double](w * h)
    for (seg <- gi.segments) {
      val d = GeoTiff.decodeSegment(gf.toString, gi, seg)
      for (y <- 0 until seg.h; x <- 0 until seg.w if seg.y0 + y < h)
        gout((seg.y0 + y) * w + seg.x0 + x) = d(y * seg.w + x)
    }
    assert(gout.indices.map(i => math.abs(gout(i) - gvals(i))).max <= 12.0)

    // end-to-end: the DSv2 pixel-frame scan reads the JPEG pages
    // (per-band rows, q63 shape), values equal to the direct decode
    val df = spark.read.format("graft.sources.RasterSource")
      .option("path", f.toString).load()
    assert(df.count() == w.toLong * h * 3)
    val sparkSum = df.agg(sum("v")).head().getDouble(0)
    assert(sparkSum == out.sum, s"DSv2 sum $sparkSum vs direct ${out.sum}")

    // B5: JPEG + alpha is rejected (YCbCr cannot carry it), as is
    // JPEG on non-Byte samples
    assertThrows[IllegalArgumentException](
      GeoTiff.encodePyramid(Seq((w, h, new Array[Double](w * h * 4))),
        GeoTiff.DtByte, gt, compression = 7, bands = 4))
    assertThrows[IllegalArgumentException](
      GeoTiff.encodePyramid(Seq((w, h, gvals)), GeoTiff.DtInt16, gt, compression = 7))
    Files.deleteIfExists(f); Files.deleteIfExists(gf)
  }

  test("malformed inputs fail cleanly (no hangs, no unbounded allocation)") {
    import graft.PropCheck
    val good = {
      val vals = Array.tabulate(32 * 24)(_.toDouble % 300)
      GeoTiff.encode(32, 24, vals, GeoTiff.DtInt16,
        GeoTransform(0, 1, 0, 24, 0, -1), nodata = Some(-1.0), rowsPerStrip = 8)
    }
    val fuzzDir = tempDir("graft_fuzz")
    def tryRead(bytes: Array[Byte]): Unit = {
      val f = fuzzDir.resolve("t.tif")
      try {
        Files.write(f, bytes)
        try {
          val infos = GeoTiff.readInfos(f.toString)
          infos.foreach(i => i.segments.foreach { s =>
            try GeoTiff.decodeSegment(f.toString, i, s)
            catch { case _: IllegalArgumentException | _: java.io.IOException
                       | _: java.util.zip.DataFormatException
                       | _: NegativeArraySizeException
                       | _: IndexOutOfBoundsException => () }
          })
        } catch { case _: IllegalArgumentException | _: java.io.IOException
                     | _: IndexOutOfBoundsException
                     | _: NegativeArraySizeException => () } // clean rejection
      } finally Files.deleteIfExists(f)
    }
    // truncations at every growing prefix length
    for (len <- Seq(0, 1, 4, 7, 8, 9, 20, 60, good.length / 2, good.length - 3))
      tryRead(java.util.Arrays.copyOf(good, len))
    // deterministic single-byte corruptions across the whole file
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 300) {
      val b = good.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      tryRead(b)
    }
    // LZW file: same corruption sweep must reject cleanly too
    val lzw = {
      val vals = Array.tabulate(32 * 24)(_.toDouble % 300)
      GeoTiff.encodePyramid(Seq((32, 24, vals)), GeoTiff.DtInt16,
        GeoTransform(0, 1, 0, 24, 0, -1), nodata = Some(-1.0),
        rowsPerStrip = 8, compression = 5)
    }
    for (_ <- 0 until 200) {
      val b = lzw.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      tryRead(b)
    }
    // predictor-3 Float32 file: corruption sweep must reject cleanly
    val p3 = {
      val vals = Array.tabulate(32 * 24)(i => (i * 0.5f).toDouble)
      GeoTiff.encode(32, 24, vals, GeoTiff.DtFloat32,
        GeoTransform(0, 1, 0, 24, 0, -1), rowsPerStrip = 8, predictor = 3)
    }
    for (_ <- 0 until 200) {
      val b = p3.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      tryRead(b)
    }
    // BigTIFF: truncations + corruption sweep on the wide-offset parse
    val big = buildBigTiff(8, 5, 3, Array.tabulate(40)(_.toByte))
    for (len <- Seq(0, 2, 8, 15, 16, 17, 40, big.length / 2, big.length - 3))
      tryRead(java.util.Arrays.copyOf(big, len))
    for (_ <- 0 until 300) {
      val b = big.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      tryRead(b)
    }
    // JPEG pages: corrupt entropy streams must reject via the decode
    // path (ImageIO null/IIOException), never crash or mis-decode dims
    val jpg = {
      val vals = Array.tabulate(32 * 24)(i => ((i % 32) * 8 % 256).toDouble)
      GeoTiff.encodePyramid(Seq((32, 24, vals)), GeoTiff.DtByte,
        GeoTransform(0, 1, 0, 24, 0, -1), rowsPerStrip = 8, compression = 7)
    }
    for (_ <- 0 until 200) {
      val b = jpg.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      tryRead(b)
    }
    // planar-2 band-separate fixture: truncations at every segment
    // boundary region + corruption sweep (the per-band strip routing
    // adds offset arithmetic the chunky path never exercises)
    val planar2 = buildPlanar2()
    for (len <- Seq(0, 8, 10, 40, 100, planar2.length / 2, planar2.length - 3))
      tryRead(java.util.Arrays.copyOf(planar2, len))
    for (_ <- 0 until 200) {
      val b = planar2.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      tryRead(b)
    }
    // BigTIFF-WRITE output round-tripped through truncation: the r6
    // sweep only covered the hand-built reader fixture; the encoder's
    // own wide-offset layout (LONG8 strip arrays, 16-byte header)
    // must also reject every partial prefix cleanly
    val bigOut = {
      val vals = Array.tabulate(32 * 24)(_.toDouble % 300)
      GeoTiff.encodePyramid(Seq((32, 24, vals), (16, 12, vals.take(192))),
        GeoTiff.DtInt16, GeoTransform(0, 1, 0, 24, 0, -1),
        nodata = Some(-1.0), rowsPerStrip = 8, bigTiff = true)
    }
    assert(bigOut(2) == 43) // really the BigTIFF layout under test
    for (len <- Seq(0, 2, 7, 8, 15, 16, 17, 60, bigOut.length / 4,
        bigOut.length / 2, bigOut.length - 5, bigOut.length - 1))
      tryRead(java.util.Arrays.copyOf(bigOut, len))
    for (_ <- 0 until 200) {
      val b = bigOut.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      tryRead(b)
    }
    // PNG decoder: same treatment
    val png = Png.encode(8, 6, Array.fill(48)(0xff336699))
    for (_ <- 0 until 200) {
      val b = png.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      try Png.decode(b)
      catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException
                 | _: NegativeArraySizeException => () }
    }
  }
  test("writePyramid streams byte-identical output to encodePyramid across configs") {
    val gt = GeoTransform(10.0, 0.5, 0, 40.0, 0, -0.5)
    val w = 50; val h = 34
    val vals = Array.tabulate(w * h)(i => ((i * 7) % 997).toDouble)
    val ow = (w + 1) / 2; val oh = (h + 1) / 2
    val ovr = Array.tabulate(ow * oh)(i => (i % 256).toDouble)
    val rgb = Array.tabulate(w * h * 3)(i => (i % 251).toDouble)
    // (pages, dtype, rowsPerStrip, predictor, tileSize, compression, bands, bigTiff)
    val configs = Seq(
      (Seq((w, h, vals), (ow, oh, ovr)), GeoTiff.DtInt16, 8, 1, 0, 8, 1, false),
      (Seq((w, h, vals), (ow, oh, ovr)), GeoTiff.DtInt16, 8, 2, 0, 5, 1, true),
      (Seq((w, h, vals)), GeoTiff.DtFloat32, 64, 3, 16, 5, 1, false),
      (Seq((w, h, vals)), GeoTiff.DtFloat64, 16, 1, 0, 32773, 1, false),
      (Seq((w, h, rgb)), GeoTiff.DtByte, 64, 1, 16, 7, 3, false),
      (Seq((w, h, vals)), GeoTiff.DtByte, 32, 1, 32, 1, 1, true))
    for ((pages, dt, rps, pred, ts, comp, bands, big) <- configs) {
      val mem = GeoTiff.encodePyramid(pages, dt, gt, nodata = Some(-32768.0),
        rowsPerStrip = rps, predictor = pred, tileSize = ts,
        compression = comp, bands = bands, bigTiff = big)
      val sink = new java.io.ByteArrayOutputStream()
      val streamPages = pages.map { case (pw, ph, pv) =>
        GeoTiff.StreamPage(pw, ph, i => pv(i.toInt)) }
      val n = GeoTiff.writePyramid(sink, streamPages, dt, gt,
        nodata = Some(-32768.0), rowsPerStrip = rps, predictor = pred,
        tileSize = ts, compression = comp, bands = bands, bigTiff = big)
      val streamed = sink.toByteArray
      assert(n == mem.length.toLong, s"config ($dt,$rps,$pred,$ts,$comp,$bands,$big)")
      assert(java.util.Arrays.equals(streamed, mem),
        s"byte divergence for config ($dt,$rps,$pred,$ts,$comp,$bands,$big)")
    }
    // the streaming path writes straight to a FILE (no whole-file
    // buffer anywhere) and the result reads back
    val f = tempDir("graft_stream").resolve("t.tif")
    val os = Files.newOutputStream(f)
    try GeoTiff.writePyramid(os, Seq(GeoTiff.StreamPage(w, h, i => vals(i.toInt))),
      GeoTiff.DtInt16, gt, nodata = Some(-32768.0), tileSize = 16, bigTiff = true)
    finally os.close()
    val info = GeoTiff.readInfo(f.toString)
    assert(info.width == w && info.height == h)
    Files.deleteIfExists(f)
    // classic-offset overflow refuses instead of truncating: a fake
    // page claiming u32-breaking size via uncompressed Float64 strips
    val hugeSide = 24000 // 24000*24000*8B = 4.6 GB > u32
    val err = intercept[IllegalArgumentException](
      GeoTiff.writePyramid(new java.io.OutputStream { def write(b: Int): Unit = () },
        Seq(GeoTiff.StreamPage(hugeSide, hugeSide, _ => 0.0)),
        GeoTiff.DtFloat64, gt, compression = 1, rowsPerStrip = hugeSide))
    assert(err.getMessage.contains("bigTiff"))
  }
}
