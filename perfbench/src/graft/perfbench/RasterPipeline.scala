package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.catalog.Catalog
import graft.core.{GeoRectangle, GeoTransform, Radio}
import graft.raster.{RasterOps, Viewshed}
import graft.sources.{GeoTiff, GeoTiffPartition}
import graft.trans.Trans

/** The gdalos chain on one seeded DEM: read → trans (crop, nodata
  * rewrite, warp to UTM, integer scale) → sharded COG export with two
  * overviews → viewshed over seeded observers and hillshade with a
  * palette, both on the exported COG → seeded window reads, each routed
  * through the catalog and summarized by `RasterOps.stats`.
  */
final class RasterPipeline(run: Run) extends Workload {
  import run.spark
  import spark.implicits._

  private val side = if (run.small) 128 else 256
  private val tile = if (run.small) 32 else 64
  private val nObservers = if (run.small) 4 else 8
  private val nReads = if (run.small) 4 else 12
  private val SrcNdv: Short = -9999
  private val DstNdv = -32768.0

  private var dem: Gen.Dem = _
  private var demPath, cogPath: String = _
  private var gt: GeoTransform = _
  private var opts: Trans.TransOptions = _
  private var catalog: DataFrame = _
  // set by the cold iteration, after its checks pass
  private var cogSha: String = _
  private var cogTruth: Array[Double] = _
  private var cogW, cogH = 0

  def setup(dir: File): Unit = {
    dem = Gen.dem(run.seed, side, side, SrcNdv)
    // the catalog routes by the UTM zone in the file name: points west
    // of 36°E go to the source DEM (zone 36), east to the COG (zone 37)
    demPath = new File(dir, "srtm_w84u36_dem.tif").getPath
    cogPath = new File(dir, "srtm_w84u37_cog.tif").getPath
    Gen.writeTiff(dem, demPath, tile)
    gt = GeoTransform(dem.lon0, dem.res, 0, dem.lat0, 0, -dem.res)
    // the crop and the observers' reach are the same for every seed, so
    // the work per iteration is too; the seed moves terrain and positions
    val ext = gt.extent(side, side)
    def inset(f: Double) = f * 0.05
    opts = Trans.TransOptions(
      extent = Some(GeoRectangle(ext.minX + inset(ext.width), ext.minY + inset(ext.height),
        ext.maxX - inset(ext.width), ext.maxY - inset(ext.height))),
      srcNdv = Some(SrcNdv.toDouble), dstNdv = DstNdv,
      warpSrs = Some("w84u36"), scaleFactor = Some(1.0))
    catalog = Seq((0, demPath), (1, cogPath)).toDF("rid", "path")
  }

  private def load(path: String): DataFrame =
    spark.read.format("graft.sources.RasterSource").option("path", path).load()

  def iteration(i: Int): Unit = {
    val tr = run.tracer
    val r = Gen.rng(run.seed, 1000 + i)
    val obsRng = Gen.rng(run.seed, 11)

    val planned = run.op("export") {
      val src = tr.call("sources", "load")(load(demPath))
      val p = tr.call("trans", "plan")(Trans.plan(src, gt, side, side, opts).get)
      tr.call("trans", "exportGeoTiffSharded")(
        Trans.exportGeoTiffSharded(p, cogPath, tileSize = 256, ovrLevels = 2))
      p
    }
    planned.foreach { p =>
      if (cogSha == null) run.check("trans", "COG read back is bit-equal to the trans frame") {
        val back = load(cogPath).select($"px", $"py", $"v".as("vb"))
        val diff = back.join(p.frame.select($"px", $"py", $"v".as("va")), Seq("px", "py"), "full_outer")
          .agg(count(lit(1)), sum(when($"va".isNull || $"vb".isNull || $"va" =!= $"vb", 1L)
            .otherwise(0L))).collect().head
        val pages = GeoTiff.readInfos(cogPath).map(x => (x.width, x.height))
        cogW = p.outW; cogH = p.outH
        val ok = diff.getLong(0) == p.outW.toLong * p.outH && diff.getLong(1) == 0L &&
          pages == Seq((p.outW, p.outH), ((p.outW + 1) / 2, (p.outH + 1) / 2),
            ((p.outW + 3) / 4, (p.outH + 3) / 4))
        if (ok) {
          cogSha = fileSha(cogPath)
          cogTruth = new Array[Double](cogW * cogH)
          load(cogPath).select($"px", $"py", $"v").as[(Int, Int, Double)].toLocalIterator()
            .forEachRemaining { case (x, y, v) => cogTruth(y * cogW + x) = v }
        }
        ok
      } else run.check("trans", "COG is byte-identical to the verified cold export") {
        fileSha(cogPath) == cogSha
      }
    }

    // viewshed and hillshade read the exported product, as a gdalos
    // pipeline does; observers sit on valid source pixels
    val (w, h) = planned.map(p => (p.outW, p.outH)).getOrElse((side, side))
    val cell = planned.map(_.outGt.c1).getOrElse(30.0)
    val obs = Iterator.continually((obsRng.nextInt(w), obsRng.nextInt(h)))
      .filter { case (x, y) => dem.at(x * side / w, y * side / h) != SrcNdv }
      .take(nObservers).zipWithIndex.map { case ((x, y), k) =>
        (k, x, y, 5.0 + obsRng.nextInt(40), cell * (side / 12 + k * side / 6 / nObservers), 0.0, 360.0)
      }.toSeq
    val observers = obs.toDF("oid", "ox", "oy", "oz", "maxr", "dirdeg", "aperturedeg")
    run.op("viewshed") {
      val vs = tr.act("raster", "viewshedCombineTable")(
        Viewshed.viewshedCombineTable(tr.call("sources", "load")(load(cogPath)), observers,
          op = "count", cellSize = cell))(
        _.select($"px", $"py", $"v".cast("double")).as[(Int, Int, Double)].collect())
      run.stableOutput("raster", "viewshed", run.sha(vs.sorted.mkString)) {
        viewshedAgrees(vs, obs, cell)
      }
    }
    val palette = Seq((0.0, 0xff1a1a40), (96.0, 0xff5a7a3a), (180.0, 0xffd0c080),
      (255.0, 0xffffffff))
    run.op("hillshade") {
      val hs = tr.act("raster", "hillshade")(
        RasterOps.hillshade(tr.call("sources", "load")(load(cogPath)), cell)
          .withColumn("argb", RasterOps.paletteInterpCol($"shade", palette)))(
        _.select("px", "py", "shade", "argb").as[(Int, Int, Option[Int], Option[Long])].collect())
      run.stableOutput("raster", "hillshade", run.sha(hs.sortBy(r => (r._2, r._1)).mkString)) {
        hillshadeAgrees(hs, cell)
      }
    }

    // a fixed mix, so latency percentiles compare across seeds: every
    // third point lies east of 36°E (routed to the COG), the rest west
    // (the source DEM); sizes cycle through 1..4 sixteenths of the side;
    // positions are seeded
    var decoded, windowPx = 0L
    for (k <- 0 until nReads) {
      val half = side / 2 * dem.res
      val x = 36.0 + (if (k % 3 == 2) 1 else -1) * (0.02 + 0.96 * r.nextDouble()) * half
      val (fy, s) = (r.nextDouble(), side / 16 * (1 + k % 4))
      run.op("window_read", interactive = true) {
        val pts = Seq((k, x, dem.lat0)).toDF("point_id", "x", "y")
        val hit = tr.act("catalog", "route")(Catalog.route(pts, catalog))(
          _.select("rid", "path").collect().head)
        val path = hit.getString(1)
        val (fw, fh, ndv) = if (hit.getInt(0) == 0) (side, side, SrcNdv.toDouble) else (w, h, DstNdv)
        val (sw, sh) = (math.min(s, fw), math.min(s, fh))
        val fx = (x - dem.lon0) / (side * dem.res)
        val x0 = math.min(fw - sw, (fx * fw).toInt); val y0 = ((fh - sh) * fy).toInt
        val src = tr.call("sources", "load")(load(path))
        val stats = tr.act("raster", "stats")(
          RasterOps.stats(RasterOps.cropWindow(src, x0, y0, x0 + sw, y0 + sh), ndv)) { df =>
          val row = df.collect().head
          if (tr.enabled) { decoded += decodedPixels(df.queryExecution.executedPlan); windowPx += sw * sh }
          row
        }
        val truth: (Int, Int) => Double =
          if (hit.getInt(0) == 0) (px, py) => dem.at(px, py).toDouble
          else (px, py) => if (cogTruth == null) Double.NaN else cogTruth(py * cogW + px)
        run.check("raster", s"window ($x0,$y0,$sw,$sh) of $path matches the full frame") {
          statsRow(stats) == expected(truth, ndv, x0, y0, sw, sh)
        }
      }
    }
    if (windowPx > 0) run.extras("sources.decode_px_per_window_px") = decoded.toDouble / windowPx
  }


  /** Hillshade recomputed on the driver from the COG: Horn's gradient
    * over full valid 3×3 neighbourhoods, lit from 315° at 45°, in the
    * engine's operation order, so every shade must match exactly; every
    * shaded pixel has a palette colour, exact at the palette's ends.
    */
  private def hillshadeAgrees(rows: Array[(Int, Int, Option[Int], Option[Long])], cell: Double): Boolean = {
    val (az, alt) = (math.toRadians(315.0), math.toRadians(45.0))
    val (sinAlt, cosAlt, sinAz, cosAz) = (math.sin(alt), math.cos(alt), math.sin(az), math.cos(az))
    def v(x: Int, y: Int) = cogTruth(y * cogW + x)
    val want = for {
      y <- 1 until cogH - 1; x <- 1 until cogW - 1
      if (-1 to 1).forall(dy => (-1 to 1).forall(dx => v(x + dx, y + dy) != DstNdv))
    } yield {
      var sx, sy = 0.0
      for (dy <- -1 to 1; dx <- -1 to 1) {
        sx += dx * (2 - math.abs(dy)) * v(x + dx, y + dy)
        sy += dy * (2 - math.abs(dx)) * v(x + dx, y + dy)
      }
      val (p, q) = (sx / (8 * cell), sy / (8 * cell))
      val raw = (sinAlt - cosAlt * (p * sinAz - q * cosAz)) / math.sqrt(1.0 + p * p + q * q)
      (x, y) -> math.floor(math.max(0.0, raw) * 255.0 + 0.5).toInt
    }
    val got = rows.map { case (x, y, s, _) => (x, y) -> s.getOrElse(-1) }.toMap
    // the palette's end stops are exact: shade 0 and 255 take its first and last colour
    val ends = Map(0 -> 0xff1a1a40L, 255 -> 0xffffffffL)
    rows.forall(r => r._4.isDefined && r._3.flatMap(ends.get).forall(r._4.contains)) &&
      got.size == rows.length && got == want.toMap
  }

  /** The count viewshed recomputed on the driver from the COG, in the
    * engine's operation order, so every count must match exactly: per
    * observer, the pixels within its radius are swept outward in 64
    * angular buckets, and a valid pixel is seen when its elevation ratio
    * (curvature and refraction included) reaches the largest ratio before
    * it in its bucket.
    */
  private def viewshedAgrees(rows: Array[(Int, Int, Double)],
                             obs: Seq[(Int, Int, Int, Double, Double, Double, Double)],
                             cell: Double): Boolean = {
    val want = new Array[Double](cogW * cogH)
    val cc = 1.0 - Radio.AtmosphericRefractionCoeff
    for ((_, ox, oy, oz, maxr, _, _) <- obs) {
      val h0 = cogTruth(oy * cogW + ox)
      val r = math.ceil(maxr / cell).toInt
      val reached = for {
        py <- math.max(0, oy - r) to math.min(cogH - 1, oy + r)
        px <- math.max(0, ox - r) to math.min(cogW - 1, ox + r)
        if px != ox || py != oy
        (dx, dy) = (px - ox, py - oy)
        dist = math.sqrt((dx * dx + dy * dy).toDouble) * cell
        if dist <= maxr
      } yield {
        val bucket = Math.floorMod(
          math.floor((math.atan2(dy.toDouble, dx.toDouble) + math.Pi) / (2 * math.Pi) * 64).toLong, 64L)
        (bucket, dist, px, py)
      }
      for (sector <- reached.groupBy(_._1).values) {
        var obstruction: Option[Double] = None
        for ((_, dist, px, py) <- sector.sortBy(t => (t._2, t._3, t._4))) {
          val v = cogTruth(py * cogW + px)
          if (v != DstNdv) {
            val hc = -cc * dist * dist / (2 * Radio.SphereRadius)
            val ratio = (v + hc - (h0 + oz)) / dist
            if (ratio >= obstruction.getOrElse(-1e300)) want(py * cogW + px) += 1
            obstruction = Some(obstruction.fold(ratio)(math.max(_, ratio)))
          }
        }
      }
    }
    rows.length == cogW * cogH && rows.map(r => (r._1, r._2)).distinct.length == rows.length &&
      rows.forall { case (x, y, c) => c == want(y * cogW + x) }
  }

  private def statsRow(r: org.apache.spark.sql.Row): Seq[Any] =
    Seq(r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)),
      Option(r.get(5)))

  /** `RasterOps.stats` of a window computed on the driver from the full
    * frame: counts, min, max, sum and mean of the valid pixels.
    */
  private def expected(v: (Int, Int) => Double, ndv: Double, x0: Int, y0: Int,
                       w: Int, h: Int): Seq[Any] = {
    val vals = for (y <- y0 until y0 + h; x <- x0 until x0 + w) yield v(x, y)
    val valid = vals.filter(_ != ndv)
    val s = valid.map(_.toLong).sum.toDouble
    Seq(vals.length.toLong, valid.length.toLong,
      valid.minOption, valid.maxOption,
      if (valid.isEmpty) None else Some(s), if (valid.isEmpty) None else Some(s / valid.length))
  }

  /** Pixels of every GeoTIFF segment the executed scan decodes. */
  private def decodedPixels(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => decodedPixels(a.executedPlan)
    case q: QueryStageExec => decodedPixels(q.plan)
    case b: BatchScanExec => b.inputPartitions.collect {
      case g: GeoTiffPartition => g.segW.toLong * g.segH
    }.sum
    case other => other.children.map(decodedPixels).sum
  }

  private def fileSha(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(Paths.get(path))).map("%02x".format(_)).mkString
  }
}
