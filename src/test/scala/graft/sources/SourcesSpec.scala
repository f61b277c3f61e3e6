package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.raster.PixelFrame

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("FileList: flatten, glob, and .txt expansion (A2, gdalos_util.py:37-66)") {
    val dir = tempDir("graft_fl")
    val a = dir.resolve("a.tif"); Files.writeString(a, "")
    val b = dir.resolve("b.tif"); Files.writeString(b, "")
    val c = dir.resolve("c.dat"); Files.writeString(c, "")
    val lst = dir.resolve("list.txt")
    Files.writeString(lst, s"$c\n\n${dir.resolve("*.tif")}\n")
    val out = FileList.flattenAndExpand(Seq("plain.tif", Seq(lst.toString)))
    assert(out == Seq("plain.tif", c.toString, a.toString, b.toString))
    // glob disabled passes the pattern through
    assert(FileList.flattenAndExpand(Seq(s"$dir/*.tif"), doExpandGlob = false)
      == Seq(s"$dir/*.tif"))
  }

  test("writeCogLayout produces spatially-sorted tile files (A3)") {
    val dir = tempDir("graft_cog").resolve("tiles")
    val tiles = PixelFrame.pack(PixelFrame.dem(spark, 32, 32), 8, PixelFrame.Dem.Ndv)
    Sinks.writeCogLayout(tiles, dir.toString, buckets = 2)
    val back = spark.read.parquet(dir.toString)
    assert(back.count() == 16)
    // within each parquet file, tiles must be (ty,tx)-monotone
    val byFile = back.select(input_file_name().as("f"), col("ty"), col("tx"))
      .collect().groupBy(_.getString(0))
    for ((_, rows) <- byFile) {
      val keys = rows.map(r => (r.getInt(1), r.getInt(2))).toSeq
      assert(keys == keys.sorted, "tiles not clustered within file")
    }
  }

  test("COG layout at-rest payload is dtype-tagged binary: Int16 round-trips bit-exact at a fraction of the bytes (A3/§7.4)") {
    def dirBytes(p: java.nio.file.Path): Long =
      Files.walk(p).filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum()
    val root = tempDir("graft_cog_bin")
    // integer-valued DEM + Int16 ndv: the 16-bit payload is lossless.
    // 256x256 keeps the payload well above parquet footer overhead so
    // the size assertion measures the encoding, not file fixed costs.
    val tiles = PixelFrame.pack(PixelFrame.dem(spark, 256, 256), 16, PixelFrame.Dem.Ndv)
    val packedDir = root.resolve("packed")
    val arrayDir = root.resolve("array")
    Sinks.writeCogLayout(tiles, packedDir.toString, buckets = 2, dtypeCode = 16)
    tiles.repartitionByRange(2, col("ty"), col("tx"))
      .sortWithinPartitions("ty", "tx")
      .write.mode("overwrite").parquet(arrayDir.toString) // legacy ARRAY<DOUBLE>
    // self-describing read restores the compute form bit-exactly
    val back = Sinks.readCogLayout(spark, packedDir.toString)
    val a = PixelFrame.explodeTiles(back, 16)
    val b = PixelFrame.explodeTiles(tiles, 16)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "packed round-trip must be bit-exact for Int16-valued tiles")
    // and the at-rest footprint must actually shrink. The RAW payload
    // is 4x smaller (2 vs 8 bytes/sample — what the shuffle wire and
    // decode path see); on disk snappy narrows the gap because doubles
    // holding small integers are 6/8 zero bytes, so assert the
    // compressed ratio we can honestly claim across codecs.
    val (pb, ab) = (dirBytes(packedDir), dirBytes(arrayDir))
    assert(pb * 4 < ab * 3, s"packed layout $pb B should be under 3/4 of array layout $ab B")
  }

  test("lossy Int16 at-rest contract holds THROUGH writeCogLayout→readCogLayout") {
    // the writeCogLayout scaladoc's LOSSY CONTRACT, asserted on the
    // actual at-rest path (RasterOpsSpec pins the same semantics at
    // the packBinary level; this pins that the write→read round trip
    // applies them — a dtypeCode plumbing bug here would silently
    // widen or re-order the cast chain): fractional samples truncate
    // TOWARD ZERO, out-of-range saturates at the int cast then
    // narrows by two's-complement wrap.
    val dir = tempDir("graft_cog_lossy").resolve("tiles")
    val vals = Seq(1.9, -3.9, 40000.0, -40000.0, 1e10, -1e10, 0.25, -0.75)
    val tiles = Seq((7L, 1, 2, 3, vals)).toDF("rid", "band", "tx", "ty", "data")
    Sinks.writeCogLayout(tiles, dir.toString, buckets = 1, dtypeCode = 16)
    val back = Sinks.readCogLayout(spark, dir.toString)
      .select($"data").as[Seq[Double]].head()
    assert(back == Seq(
      1.0, -3.0,           // truncation toward zero, both signs
      -25536.0, 25536.0,   // ±40000 wrap mod 2^16
      -1.0,                // 1e10 -> Int.MaxValue -> -1 as short
      0.0,                 // -1e10 -> Int.MinValue -> 0 as short
      0.0, 0.0),           // sub-integer magnitudes vanish entirely
      s"Int16 at-rest round trip broke the documented lossy contract: $back")
    // and the spatial key + identity columns survive the packed write
    val row = Sinks.readCogLayout(spark, dir.toString)
      .select($"rid", $"band", $"tx", $"ty").head()
    assert((row.getLong(0), row.getInt(1), row.getInt(2), row.getInt(3)) == ((7L, 1, 2, 3)))
  }

  test("applyWriteBandRule drops alpha only for lossy photo (B5)") {
    val t = Seq((1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)).toDF("band", "v")
    assert(Sinks.applyWriteBandRule(t, lossy = true, kindIsPhoto = true).count() == 3)
    assert(Sinks.applyWriteBandRule(t, lossy = false, kindIsPhoto = true).count() == 4)
    assert(Sinks.applyWriteBandRule(t, lossy = true, kindIsPhoto = false).count() == 4)
  }

  test("infoSink writes schema+stats+plan (A10)") {
    val p = tempDir("graft_info").resolve("r")
    Sinks.infoSink(PixelFrame.dem(spark, 8, 8), p.toString)
    val txt = Files.readString(Paths.get(p.toString + ".info"))
    assert(txt.contains("px") && txt.contains("mean") && txt.contains("Physical Plan"))
  }

  test("xyzSink writes whitespace tables (A13)") {
    val dir = tempDir("graft_xyz").resolve("out")
    Sinks.xyzSink(PixelFrame.dem(spark, 4, 4).select("px", "py", "v")
      .orderBy("py", "px").coalesce(1), dir.toString)
    val f = Files.list(Paths.get(dir.toString)).toArray.map(_.toString)
      .find(_.endsWith(".csv")).get
    val first = Files.readAllLines(Paths.get(f)).get(1)
    assert(first.split(" ").length == 3)
  }

  test("rasterToJson emits the gdal_to_json shape (A12)") {
    val json = Sinks.rasterToJson(PixelFrame.constant(spark, 2, 2, 7.0),
      Array(0, 1, 0, 2, 0, -1), ndv = -1)
    assert(json == """{"size":[2,2],"gt":[0.0,1.0,0.0,2.0,0.0,-1.0],"ndv":-1.0,"bands":1,"data":[[[7.0,7.0],[7.0,7.0]]]}""")
    assertThrows[IllegalArgumentException](
      Sinks.rasterToJson(PixelFrame.dem(spark, 64, 64), Array(0, 1, 0, 0, 0, -1), -1, maxPixels = 10))
  }

  test("CZML sinks produce packet documents with a REAL embedded PNG (A11)") {
    val styled = PixelFrame.constant(spark, 2, 2, 1.0)
      .withColumn("argb", lit(0xff00ff00))
    val czml = Sinks.rasterToCzml(styled, "vs", (34.0, 31.0, 35.0, 32.0))
    assert(czml.contains(""""id":"document"""") && czml.contains("wsenDegrees")
      && czml.contains("base64,"))
    // the data URI decodes to a valid 2×2 PNG with the styled color
    val b64 = czml.split("base64,")(1).takeWhile(_ != '"')
    val (pw, ph, pix) = Png.decode(java.util.Base64.getDecoder.decode(b64))
    assert(pw == 2 && ph == 2 && pix.forall(_ == 0xff00ff00))
    val poly = Sinks.polylinesToCzml(
      Seq(Seq((34.0, 31.0, 0.0), (34.1, 31.1, 10.0))), Seq(0xffff0000))
    assert(poly.contains("cartographicDegrees") && poly.contains("[255,0,0,255]"))
  }
}
