package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.{GeoRectangle, Jobs}
import graft.raster.PixelFrame
import graft.sources.GeoTiff
import graft.trans.Trans
import graft.trans.Trans.TransOptions

/** Thin CLI front-end over the trans pipeline — the reference's
  * argparse surface (`gdalos_trans.py:1237-1278`) mapped onto
  * [[graft.trans.Trans.TransOptions]] / [[graft.trans.Trans.run]].
  * Sequence-valued arguments — multiple input files, comma-separated
  * `-t_srs` — fan out through [[graft.core.Jobs.expand]], the
  * reference's sequence-kwarg cross-product
  * (`gdalos_trans.py:62-70,263-281`); each expanded job is an
  * independent Spark plan over the shared session.
  *
  * Flags (reference names where they exist):
  * {{{
  *   -o <out>            output path (default: <input>.out[.tif];
  *                       multi-job runs suffix .0, .1, …)
  *   -of GTIFF|COG       one GeoTIFF file of 256-px DEFLATE tiles
  *                       (overviews as internal pages; any size —
  *                       tiles are encoded on the executors), or the
  *                       distributed COG parquet layout (default)
  *   -ot <dtype>         Byte|Int16|Float32|Float64 (GTIFF only)
  *   -dstnodata <v>      output nodata value
  *   -srcnodata <v>      input nodata value (else from the header)
  *   -hideNoData         ignore the input's NoDataValue
  *   -extent minx maxx miny maxy    georeferenced crop (reference order)
  *   -projwin ulx uly lrx lry       georeferenced crop, corner order
  *   -srcwin xoff yoff xsize ysize  pixel-window crop
  *   -t_srs <srs>[,<srs>…]  warp target(s), talos names (w84u36, …)
  *   -partition <n>      split the (cropped) extent into n grid cells
  *                       (reference `partition` kwarg / R5 grid,
  *                       find_two_greatest_devisors) — one job per cell
  *   -ovr <n>            overview levels to build
  *   -overwrite          replace an existing output (else skip, like
  *                       the reference's skip-if-exists)
  *   -quiet              suppress the decision log
  * }}}
  */
object Main {

  val usage: String =
    """usage: graft.Main [-o out] [-of GTIFF|COG] [-ot dtype]
      |  [-dstnodata v] [-srcnodata v] [-hideNoData]
      |  [-extent minx maxx miny maxy | -projwin ulx uly lrx lry | -srcwin x y w h]
      |  [-t_srs srs[,srs…]] [-partition n] [-ovr n] [-overwrite] [-quiet] filename…
      |  -of GTIFF writes one GeoTIFF of 256-px DEFLATE tiles; COG (default) the parquet tile layout""".stripMargin

  def main(argv: Array[String]): Unit = {
    val spark = Session.protocol(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val rc = run(argv, spark)
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  /** Parse + execute; returns a process exit code. Separated from
    * [[main]] so tests can drive the full path on a shared session.
    */
  def run(argv: Array[String], spark: SparkSession): Int = {
    var out = Option.empty[String]
    var of = "COG"
    var ot = "Int16"
    var dstNdv = Option.empty[Double]
    var srcNdv = Option.empty[Double]
    var hideNodata = false
    var extent = Option.empty[GeoRectangle]
    var srcwin = Option.empty[(Int, Int, Int, Int)]
    var tSrs = Seq.empty[String]
    var partition = 1
    var ovr = 0
    var overwrite = false
    var quiet = false
    val files = Seq.newBuilder[String]

    var i = 0
    def next(): String = { i += 1; argv(i) }
    try {
      while (i < argv.length) {
        argv(i) match {
          case "-o"          => out = Some(next())
          case "-of"         => of = next().toUpperCase
          case "-ot"         => ot = next()
          case "-dstnodata"  => dstNdv = Some(next().toDouble)
          case "-srcnodata"  => srcNdv = Some(next().toDouble)
          case "-hideNoData" => hideNodata = true
          case "-extent" =>
            // reference order: min_x max_x min_y max_y (from_min_max)
            val (minx, maxx) = (next().toDouble, next().toDouble)
            val (miny, maxy) = (next().toDouble, next().toDouble)
            extent = Some(GeoRectangle(minx, miny, maxx, maxy))
          case "-projwin" =>
            val (ulx, uly) = (next().toDouble, next().toDouble)
            val (lrx, lry) = (next().toDouble, next().toDouble)
            extent = Some(GeoRectangle(ulx, lry, lrx, uly))
          case "-srcwin" =>
            srcwin = Some((next().toInt, next().toInt, next().toInt, next().toInt))
          case "-t_srs"     => tSrs = next().split(',').toSeq.filter(_.nonEmpty)
          case "-partition" => partition = next().toInt
          case "-ovr"       => ovr = next().toInt
          case "-overwrite" => overwrite = true
          case "-quiet"     => quiet = true
          case f if !f.startsWith("-") => files += f
          case bad =>
            System.err.println(s"unknown flag: $bad\n$usage"); return 1
        }
        i += 1
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: NumberFormatException =>
        System.err.println(usage); return 1
    }

    val fs = files.result()
    if (fs.isEmpty) { System.err.println(usage); return 1 }
    val dtype = ot.toLowerCase match {
      case "byte"    => GeoTiff.DtByte
      case "int16"   => GeoTiff.DtInt16
      case "float32" => GeoTiff.DtFloat32
      case "float64" => GeoTiff.DtFloat64
      case other =>
        System.err.println(s"unsupported -ot $other (Byte|Int16|Float32|Float64)")
        return 1
    }

    // I3 sequence fan-out: every Seq-valued kwarg multiplies the jobs.
    // -partition rides the expansion as a cell INDEX (the cell rect
    // itself depends on each file's extent, resolved inside the job).
    val params = Map[String, Any]("filename" -> fs) ++
      (if (tSrs.nonEmpty) Map("t_srs" -> tSrs) else Map.empty) ++
      (if (partition > 1) Map("cell" -> (0 until partition)) else Map.empty)
    val jobs = Jobs.expand(params)

    def runJob(job: Map[String, Any], ji: Int): Int = {
      val f = job("filename").asInstanceOf[String]
      val info = GeoTiff.readInfo(f)
      val gt = info.gt.getOrElse {
        System.err.println(s"$f: no geotransform (missing scale/tiepoint tags)")
        return 1
      }
      // -srcwin pixel window → geo rect through the affine (north-up)
      val winExtent = srcwin.map { case (x0, y0, ws, hs) =>
        val (ax, ay) = gt.pixelToGeo(x0, y0)
        val (bx, by) = gt.pixelToGeo(x0 + ws, y0 + hs)
        GeoRectangle(math.min(ax, bx), math.min(ay, by),
          math.max(ax, bx), math.max(ay, by))
      }
      // -partition: the requested (or full-file) extent split on the
      // R5 grid (find_two_greatest_devisors), this job taking its cell
      val jobExtent = job.get("cell") match {
        case Some(ci: Int) =>
          val whole = winExtent.orElse(extent).getOrElse(gt.extent(info.width, info.height))
          Some(graft.core.Partitions.makePartitions(whole, partition)(ci))
        case _ => winExtent.orElse(extent)
      }
      val opt = TransOptions(
        extent = jobExtent,
        srcNdv = if (hideNodata) None else srcNdv.orElse(info.nodata),
        dstNdv = dstNdv.getOrElse(PixelFrame.Dem.Ndv),
        warpSrs = job.get("t_srs").map(_.asInstanceOf[String]))
      val df = spark.read.format("graft.sources.RasterSource")
        .option("path", f).load()
      val base = out.getOrElse(f + ".out" + (if (of == "GTIFF") ".tif" else ""))
      val outPath = if (jobs.size > 1) s"$base.$ji" else base

      if (!overwrite && Files.exists(Paths.get(outPath))) {
        if (!quiet) println(s"skip $outPath (exists; use -overwrite)")
        return 0
      }
      val planned = of match {
        case "GTIFF" =>
          Trans.plan(df, gt, info.width, info.height, opt).map { p =>
            Trans.exportGeoTiffSharded(p, outPath, dtype = dtype, ndv = opt.dstNdv,
              ovrLevels = ovr)
            p
          }
        case "COG" =>
          Trans.run(spark, df, gt, info.width, info.height, opt, outPath,
            ovrLevels = ovr)
        case other =>
          System.err.println(s"unsupported -of $other (GTIFF|COG)")
          return 1
      }
      planned match {
        case Some(p) =>
          if (!quiet) { println(s"$f -> $outPath"); p.decisions.foreach(d => println(s"  $d")) }
          0
        case None =>
          if (!quiet) println(s"skip $f (empty extent)")
          0
      }
    }

    jobs.zipWithIndex.map { case (j, ji) =>
      try runJob(j, ji)
      catch {
        case e: Exception =>
          System.err.println(s"job $ji failed: ${e.getMessage}")
          1
      }
    }.max
  }
}
