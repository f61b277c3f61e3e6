package graft.raster

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{GeoRectangle, GeoTransform}

class RasterOpsSpec extends SparkSpec {
  import spark.implicits._

  private def pixels(rows: (Int, Int, Double)*): org.apache.spark.sql.DataFrame =
    rows.toSeq.toDF("px", "py", "v")
      .select(lit(0).as("rid"), lit(1).as("band"), col("px"), col("py"), col("v"))

  test("synthetic dem is deterministic and ndv-holed") {
    val d = PixelFrame.dem(spark, 16, 16).cache()
    assert(d.count() == 256)
    // v(3,2) = (21 + 26) % 997 = 47
    assert(d.filter($"px" === 3 && $"py" === 2).head().getDouble(4) == 47.0)
    // ndv at (0,0): (0+0)%101==0
    assert(d.filter($"px" === 0 && $"py" === 0).head().getDouble(4) == PixelFrame.Dem.Ndv)
    assert(d.filter($"v" === PixelFrame.Dem.Ndv).count() > 0)
  }

  test("crop by geo extent = hand-computed pixel window (B2)") {
    val gt = GeoTransform(100, 0.25, 0, 50, 0, -0.25)
    val d = PixelFrame.dem(spark, 400, 200)
    val out = RasterOps.crop(d, gt, 400, 200, GeoRectangle(110, 20, 120, 30)).get
    val r = out.agg(min("px"), max("px"), min("py"), max("py"), count(lit(1))).head()
    assert(r == Row(40, 79, 80, 119, 40L * 40))
    // disjoint extent short-circuits (R3)
    assert(RasterOps.crop(d, gt, 400, 200, GeoRectangle(300, 20, 310, 30)).isEmpty)
  }

  test("scaleToInt mirrors scale_np_array truncation + ndv passthrough (H1)") {
    val out = RasterOps.scaleToInt(
      pixels((0, 0, 12.5), (1, 0, -3.7), (2, 0, -32768.0)),
      factor = 4.0, inNdv = -32768.0, outNdv = 0.0)
      .orderBy("px").select("v").as[Double].collect()
    assert(out.toSeq == Seq(50.0, -14.0, 0.0)) // trunc(-3.7*4 = -14.8) → -14
  }

  test("autoscale snaps to the first admissible value (scale_raster.py:11-25)") {
    assert(RasterOps.autoscale(6000, 32767) == 0.2) // 0.183 → 0.2
    assert(RasterOps.autoscale(327, 32767) == 0.1)
    assert(RasterOps.autoscale(31000, 32767) == 0.95) // beyond table → ceil to 2 digits
  }

  test("classify up/down exactly matches cont2discrete_array (E5)") {
    val vs = Seq(5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0)
    val df = pixels(vs.zipWithIndex.map { case (v, i) => (i, 0, v) }: _*)
    val up = RasterOps.classify(df, Seq(10, 20, 30), up = true)
      .orderBy("px").select("v").as[Double].collect().toSeq
    assert(up == Seq(0, 0, 1, 1, 2, 2, 2)) // ≤10→0, ≤20→1, else n−1
    val down = RasterOps.classify(df, Seq(10, 20, 30), up = false)
      .orderBy("px").select("v").as[Double].collect().toSeq
    assert(down == Seq(0, 0, 0, 1, 1, 2, 2)) // ≥30→2, ≥20→1, else 0
  }

  test("nodataNormalize rewrites only the sentinel (B4)") {
    val out = RasterOps.nodataNormalize(pixels((0, 0, -99.0), (1, 0, 7.0)), -99, -32768)
      .orderBy("px").select("v").as[Double].collect()
    assert(out.toSeq == Seq(-32768.0, 7.0))
  }

  test("stats is nodata-aware and exact (D6)") {
    val st = RasterOps.stats(pixels((0, 0, 1), (1, 0, 2), (2, 0, 3), (3, 0, -1)), ndv = -1)
      .head()
    assert(st.getLong(0) == 4 && st.getLong(1) == 3)
    assert(st.getDouble(2) == 1.0 && st.getDouble(3) == 3.0)
    assert(st.getDouble(4) == 6.0 && st.getDouble(5) == 2.0)
  }

  test("paletteExpand broadcast lookup with nv default (B6/C4)") {
    val pal = Seq((0.0, 0xff000000), (1.0, 0xffff0000)).toDF("value", "argb")
    val out = RasterOps.paletteExpand(pixels((0, 0, 0.0), (1, 0, 1.0), (2, 0, 9.0)), pal, 0x00000000)
      .orderBy("px").select("argb").as[Int].collect()
    assert(out.toSeq == Seq(0xff000000, 0xffff0000, 0))
  }

  test("tile pack ↔ explode round-trips the pixel frame (A3/A8)") {
    val d = PixelFrame.dem(spark, 8, 8)
    val packed = PixelFrame.pack(d, ts = 4, ndv = PixelFrame.Dem.Ndv)
    assert(packed.count() == 4)
    assert(packed.select(size($"data")).head().getInt(0) == 16)
    val back = PixelFrame.explodeTiles(packed, ts = 4)
    assert(back.except(d).count() == 0 && d.except(back).count() == 0)
  }

  test("integer tile_pack codes: truncation toward zero and wrap semantics pinned") {
    import spark.implicits._
    // the lossy at-rest contract (writeCogLayout scaladoc): fractional
    // samples truncate TOWARD ZERO; values past Int range saturate at
    // the int cast, then narrow by two's-complement WRAP — identical
    // to the GTiff Int16 writer's path. Pinned so the convention is
    // explicit, not incidental.
    val vals = Seq(1.9, -3.9, 40000.0, -40000.0, 1e10, -1e10, 0.0)
    val t = Seq((0, 1, 0, 0, vals)).toDF("rid", "band", "tx", "ty", "data")
    val i16 = PixelFrame.unpackBinary(PixelFrame.packBinary(t, 16))
      .select($"data").as[Seq[Double]].head()
    assert(i16 == Seq(1.0, -3.0,
      -25536.0,            // 40000 wraps mod 2^16
      25536.0,             // -40000 wraps
      -1.0,                // 1e10 saturates to Int.MaxValue, narrows to -1
      0.0,                 // -1e10 -> Int.MinValue -> 0 as short
      0.0))
    // Byte code: wrap on pack, unsigned on unpack (TIFF convention)
    val b = Seq((0, 1, 0, 0, Seq(300.0, -1.0, 7.5))).toDF("rid", "band", "tx", "ty", "data")
    val u8 = PixelFrame.unpackBinary(PixelFrame.packBinary(b, 8))
      .select($"data").as[Seq[Double]].head()
    assert(u8 == Seq(44.0, 255.0, 7.0))
  }

  test("BinaryType tile payloads: pack/unpack bit-equal per dtype; Int16 is 4x smaller") {
    val d = PixelFrame.dem(spark, 32, 16) // integer-valued doubles + ndv
    val packed = PixelFrame.pack(d, ts = 16, ndv = PixelFrame.Dem.Ndv)
    // Int16 (DEM native) and Float64 (bit-exact for anything) round-trip
    for (code <- Seq(16, 64)) {
      val back = PixelFrame.unpackBinary(PixelFrame.packBinary(packed, code))
      val a = packed.select($"tx", $"ty", $"data").as[(Int, Int, Seq[Double])]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      val b = back.select($"tx", $"ty", $"data").as[(Int, Int, Seq[Double])]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(a.keySet == b.keySet)
      a.foreach { case (k, v) => assert(v == b(k), s"dtype $code tile $k") }
    }
    // fractional + non-Int16 values survive Float64, truncate in Int16
    import spark.implicits._
    val frac = Seq((0, 1, 0, 0, Seq(1.5, -3.25, 1e9))).toDF("rid", "band", "tx", "ty", "data")
    val f64 = PixelFrame.unpackBinary(PixelFrame.packBinary(frac, 64))
      .select($"data").as[Seq[Double]].head()
    assert(f64 == Seq(1.5, -3.25, 1e9))
    // at-rest width: Int16 binary payload is exactly 2 bytes/px = 4x
    // smaller than the 8 bytes/px ARRAY<DOUBLE> layout
    val binLen = PixelFrame.packBinary(packed, 16)
      .select(length($"data")).head().getInt(0)
    assert(binLen == 16 * 16 * 2)
    // q80 (binary-routed q61 pipeline) ≡ q61, row for row
    val q61r = graft.operators.RasterQueries.q61(spark, "").collect().toSeq
    val q80r = graft.operators.RasterQueries.q80(spark, "").collect().toSeq
    assert(q61r == q80r)
    // at-rest parquet: the Int16 binary layout beats ARRAY<DOUBLE>
    // (measured ratio recorded in COVERAGE.md)
    val big = PixelFrame.pack(PixelFrame.dem(spark, 800, 600), ts = 16,
      ndv = PixelFrame.Dem.Ndv)
    val dir = tempDir("graft_tiles").toString
    big.write.mode("overwrite").parquet(s"$dir/arr")
    PixelFrame.packBinary(big, 16).write.mode("overwrite").parquet(s"$dir/bin")
    def dirSize(p: String): Long =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    val (arrSz, binSz) = (dirSize(s"$dir/arr"), dirSize(s"$dir/bin"))
    // snappy already squeezes the zero-heavy double encoding of this
    // synthetic DEM, so the COMPRESSED win is modest (~1.2×) — the
    // full 4× is raw width (shuffle wire, executor memory), asserted
    // exactly above via payload length
    info(f"at-rest parquet: array<double> $arrSz%d B, int16 binary $binSz%d B, ratio ${arrSz.toDouble / binSz}%.2f")
    assert(binSz < arrSz, s"binary $binSz vs array $arrSz")
  }

  test("paletteInterpCol matches the driver-side Palette.interp (H6)") {
    import scala.collection.immutable.TreeMap
    val entries = Seq(0.0 -> 0xff0000ff, 250.0 -> 0xff00ff00, 996.0 -> 0xffff0000)
    val pal = graft.core.Palette(TreeMap(entries: _*), TreeMap.empty, None)
    val vs = Seq(-5.0, 0.0, 125.0, 250.0, 700.0, 996.0, 2000.0)
    val got = vs.toDF("v")
      .select(RasterOps.paletteInterpCol($"v", entries).as("argb"))
      .as[Long].collect()
    for ((v, argb) <- vs.zip(got))
      assert(argb == (pal.interp(v).toLong & 0xffffffffL), s"v=$v")
  }

  test("mapTiles applies pixel math inside the packed form") {
    val d = PixelFrame.dem(spark, 8, 8)
    val packed = PixelFrame.pack(d, 4, PixelFrame.Dem.Ndv)
    val doubled = PixelFrame.explodeTiles(PixelFrame.mapTiles(packed, v => v * 2), 4)
    val direct = d.withColumn("v", $"v" * 2)
    assert(doubled.except(direct).count() == 0)
  }

  test("hornGradient: exact on ramps, interior-only, nodata poisons its neighborhood") {
    def frame(v: (Int, Int) => Double) = (for (py <- 0 until 5; px <- 0 until 5)
      yield (0, 1, px, py, v(px, py))).toDF("rid", "band", "px", "py", "v")
    // pure x-ramp z = px: p = 1/cellSize exactly, q = 0; only the 3x3 interior emits
    val gx = RasterOps.hornGradient(frame((px, _) => px.toDouble), cellSize = 1.0)
      .orderBy("py", "px").collect()
    assert(gx.length == 9)
    assert(gx.forall(r => r.getAs[Double]("p") == 1.0 && r.getAs[Double]("q") == 0.0))
    assert(gx.map(r => (r.getAs[Int]("px"), r.getAs[Int]("py"))).toSet ==
      (for (y <- 1 to 3; x <- 1 to 3) yield (x, y)).toSet)
    // y-ramp with cellSize 2: q = 1/2
    val gy = RasterOps.hornGradient(frame((_, py) => py.toDouble), cellSize = 2.0)
      .collect()
    assert(gy.forall(r => r.getAs[Double]("q") == 0.5 && r.getAs[Double]("p") == 0.0))
    // a nodata pixel at (2,2) removes every center whose 3x3 touches it
    val nd = RasterOps.hornGradient(
      frame((px, py) => if (px == 2 && py == 2) PixelFrame.Dem.Ndv else px.toDouble),
      cellSize = 1.0).collect()
    assert(nd.isEmpty) // (2,2) sits in all nine interior neighborhoods
  }

  test("terrainIndices: ramp TRI/TPI/roughness exact; flat is all-zero; interior-only") {
    def frame(v: (Int, Int) => Double) = (for (py <- 0 until 5; px <- 0 until 5)
      yield (0, 1, px, py, v(px, py))).toDF("rid", "band", "px", "py", "v")
    // flat: every index is exactly zero on the 3x3 interior
    val flat = RasterOps.terrainIndices(frame((_, _) => 7.0)).collect()
    assert(flat.length == 9)
    assert(flat.forall(r => r.getAs[Double]("tri") == 0.0 &&
      r.getAs[Double]("tpi") == 0.0 && r.getAs[Double]("roughness") == 0.0))
    // x-ramp z = 2*px: neighbor diffs are (-2,0,2) per column ->
    // TRI = sqrt(6*4) ; TPI = 0 (symmetric) ; roughness = 4
    val ramp = RasterOps.terrainIndices(frame((px, _) => px * 2.0)).collect()
    assert(ramp.forall(r => r.getAs[Double]("tri") == math.sqrt(24.0) &&
      r.getAs[Double]("tpi") == 0.0 && r.getAs[Double]("roughness") == 4.0))
    // a center spike of +8 at (2,2): its own TPI is 8, its neighbors' TPI is -1
    val spike = RasterOps.terrainIndices(
      frame((px, py) => if (px == 2 && py == 2) 8.0 else 0.0))
      .collect().map(r => ((r.getAs[Int]("px"), r.getAs[Int]("py")),
        (r.getAs[Double]("tri"), r.getAs[Double]("tpi"), r.getAs[Double]("roughness")))).toMap
    assert(spike((2, 2)) == ((math.sqrt(512.0), 8.0, 8.0)))
    assert(spike((1, 1)) == ((8.0, -1.0, 8.0)))
    // nodata poisons every neighborhood containing it
    val nd = RasterOps.terrainIndices(
      frame((px, py) => if (px == 2 && py == 2) PixelFrame.Dem.Ndv else 0.0)).collect()
    assert(nd.isEmpty)
  }

  test("hillshade: flat terrain shades to sin(alt); slopes facing away are darker") {
    def frame(v: (Int, Int) => Double) = (for (py <- 0 until 5; px <- 0 until 5)
      yield (0, 1, px, py, v(px, py))).toDF("rid", "band", "px", "py", "v")
    // flat: p=q=0 -> shade = floor(sin(45 deg)*255 + 0.5) = 180, every pixel
    val flat = RasterOps.hillshade(frame((_, _) => 7.0), cellSize = 1.0).collect()
    assert(flat.nonEmpty && flat.forall(_.getAs[Int]("shade") == 180))
    // light from az=315 (NW): a surface RISING eastward faces west —
    // toward the light — so it shades brighter than flat; a surface
    // rising westward faces east, away from the light -> darker
    val eastRising = RasterOps.hillshade(frame((px, _) => px * 2.0), cellSize = 1.0)
      .head().getAs[Int]("shade")
    val westRising = RasterOps.hillshade(frame((px, _) => -px * 2.0), cellSize = 1.0)
      .head().getAs[Int]("shade")
    assert(eastRising > 180 && westRising < 180)
    // N/S pin (gdaldem negative-nsres convention): py increases
    // SOUTHWARD, so z rising with py is a NORTH-facing slope — toward
    // an az=315 light -> brighter than flat; z falling with py faces
    // south, away from the light -> darker
    val northFacing = RasterOps.hillshade(frame((_, py) => py * 2.0), cellSize = 1.0)
      .head().getAs[Int]("shade")
    val southFacing = RasterOps.hillshade(frame((_, py) => -py * 2.0), cellSize = 1.0)
      .head().getAs[Int]("shade")
    assert(northFacing > 180 && southFacing < 180)
    // the NW light treats north-facing and west-facing slopes of
    // equal grade the same up to an ulp in the light constants
    // (azimuth symmetry about the 315 axis)
    assert(math.abs(northFacing - eastRising) <= 1 &&
      math.abs(southFacing - westRising) <= 1)
    // byte range respected
    assert(flat.forall(r => r.getAs[Int]("shade") >= 0 && r.getAs[Int]("shade") <= 255))
  }
}
