package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.raster.PixelFrame

class RasterSourceSpec extends SparkSpec {
  import spark.implicits._

  private def src(w: Int, h: Int, ts: Int = 64) =
    spark.read.format("graft.sources.RasterSource")
      .option("w", w).option("h", h).option("ts", ts).load()

  test("DSv2 raster source matches the generator frame (A1)") {
    val viaSource = src(64, 48)
    val viaRange = PixelFrame.dem(spark, 64, 48)
    assert(viaSource.count() == 64L * 48)
    assert(viaSource.except(viaRange).count() == 0
      && viaRange.except(viaSource).count() == 0)
  }

  test("px/py filters push into the source and prune tile partitions") {
    val df = src(512, 512, ts = 64)
      .filter($"px" >= 100 && $"px" < 200 && $"py" >= 300 && $"py" < 350)
    // pushed filters appear in the scan node
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RasterScan") || plan.contains("BatchScan"))
    // partition pruning: only the tiles overlapping the window are planned
    val parts = df.rdd.getNumPartitions
    // px window spans tiles 1..3 (t=64), py spans 4..5 → ≤ 3×2 = 6
    assert(parts <= 6, s"expected ≤6 tile partitions, got $parts")
    assert(df.count() == 100L * 50)
    // values identical to the unpruned path
    val expect = PixelFrame.dem(spark, 512, 512)
      .filter($"px" >= 100 && $"px" < 200 && $"py" >= 300 && $"py" < 350)
    assert(df.except(expect).count() == 0)
  }

  test("column pruning reaches the reader") {
    val df = src(64, 64).select("px", "v")
    assert(df.schema.fieldNames.toSeq == Seq("px", "v"))
    assert(df.agg(max("px")).head().getInt(0) == 63)
  }

  test("tiles mode: BINARY payloads byte-equal to tile_pack; tx/ty filters prune partitions") {
    graft.functions.GraftFunctions.register(spark)
    val tiles = spark.read.format("graft.sources.RasterSource")
      .option("w", 80).option("h", 60).option("ts", 16)
      .option("tiles", "true").load()
    assert(tiles.count() == 5L * 4) // 80/16 x ceil(60/16)
    // payload parity: the scan's BINARY bytes must equal tile_pack of
    // the pixel-form packed tile (same row-major layout, ndv padding)
    val viaPixels = PixelFrame.packBinary(
      PixelFrame.pack(PixelFrame.dem(spark, 80, 60), ts = 16,
        ndv = PixelFrame.Dem.Ndv), dtypeCode = 16)
      .select("tx", "ty", "dtype", "data")
    val viaScan = tiles.select("tx", "ty", "dtype", "data")
    assert(viaScan.except(viaPixels).count() == 0
      && viaPixels.except(viaScan).count() == 0)
    // tile-range pushdown prunes whole partitions at planning time
    val window = tiles.filter($"tx" >= 1 && $"tx" < 3 && $"ty" === 2)
    assert(window.rdd.getNumPartitions == 2)
    assert(window.count() == 2)
    // empty window plans zero partitions
    assert(tiles.filter($"tx" > 100).rdd.getNumPartitions == 0)
  }

  test("codec reads through a Hadoop FileSystem path (file:// — the cluster seam)") {
    import java.nio.file.Files
    import graft.core.GeoTransform
    val w = 40; val h = 24
    val vals = Array.tabulate(w * h)(i => (i % 997).toDouble)
    val f = tempDir("graft_hfs").resolve("t.tif")
    Files.write(f, GeoTiff.encodePyramid(Seq((w, h, vals)), GeoTiff.DtInt16,
      GeoTransform(0, 1, 0, h.toDouble, 0, -1), compression = 5, tileSize = 16))
    val uri = "file://" + f.toAbsolutePath // qualified path → Hadoop FS route
    val info = GeoTiff.readInfo(uri)
    assert(info.width == w && info.height == h)
    val local = GeoTiff.readInfo(f.toString)
    // same segments either route; same decoded bytes for the first tile
    assert(info.segments == local.segments)
    assert(GeoTiff.decodeSegment(uri, info, info.segments.head)
      .sameElements(GeoTiff.decodeSegment(f.toString, local, local.segments.head)))
    // end-to-end DSv2 scan over the URI path
    val df = spark.read.format("graft.sources.RasterSource")
      .option("path", uri).load()
    assert(df.count() == w.toLong * h)
    assert(df.agg(sum("v")).head().getDouble(0) == vals.sum)
    Files.deleteIfExists(f)
  }

  test("empty window plans zero partitions") {
    val df = src(64, 64).filter($"px" > 1000)
    assert(df.rdd.getNumPartitions == 0 || df.count() == 0)
  }
}
