package graft.raster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{GeoRectangle, GeoTransform, Geometry}

/** The trans-pipeline operators (SURVEY §3.1 steps, B/H/E/D families)
  * over the pixel frame. Every operator is a declarative DataFrame
  * transform: filters reach the scan as pushed predicates, pixel math
  * is whole-stage-codegen column arithmetic, and aggregates use
  * map-side partial aggregation — nothing collects to the driver.
  */
object RasterOps {

  /** B2 extent crop: geo-rect → integer pixel window via the
    * geotransform (reference `projWin`/`srcWin`,
    * `gdalos_trans.py:514-581`), then a pure range predicate that
    * Catalyst pushes into the scan (tile/rowgroup pruning at scale).
    * Returns None when the requested extent misses the raster — the
    * reference's empty-extent short-circuit (R3,
    * `gdalos_trans.py:552`).
    */
  def crop(df: DataFrame, gt: GeoTransform, w: Int, h: Int,
           extent: GeoRectangle): Option[DataFrame] =
    gt.windowFromExtent(extent, w, h).map { case (x0, y0, x1, y1) =>
      cropWindow(df, x0, y0, x1, y1)
    }

  /** B2 pixel-window crop (`srcWin` variant). */
  def cropWindow(df: DataFrame, x0: Int, y0: Int, x1: Int, y1: Int): DataFrame =
    df.filter(col("px") >= x0 && col("px") < x1 && col("py") >= y0 && col("py") < y1)

  /** B3 cutline mask: keep pixels whose center falls inside the
    * polygon ring, given in geo coordinates (`cropToCutline`,
    * `gdalos_trans.py:415-422`; ring→mask `viewshed_calc.py:148-177`).
    * Two-stage: a coarse bbox range predicate (pushed to the scan —
    * the R3 pushdown) then the exact point-in-polygon test, both
    * whole-stage-codegen. The exact test calls [[Geometry.pointInPolygon]]
    * once per pixel center: the unrolled column form repeats both
    * center expressions in every edge, and for a 50-vertex sector
    * ring the filter's generated method outgrows the JVM's 64 KB
    * limit, so Janino refuses the stage.
    */
  def cutline(df: DataFrame, gt: GeoTransform, w: Int, h: Int,
              ringGeo: Seq[(Double, Double)]): DataFrame = {
    val bbox = Geometry.ringBBox(ringGeo)
    val coarse = gt.windowFromExtent(bbox, w, h)
      .map { case (x0, y0, x1, y1) => cropWindow(df, x0, y0, x1, y1) }
      .getOrElse(df.filter(lit(false)))
    // pixel-center geo coordinates (gdalos_extent.py:13-29: center at +0.5)
    val cx = lit(gt.c0) + (col("px") + 0.5) * gt.c1 + (col("py") + 0.5) * gt.c2
    val cy = lit(gt.c3) + (col("px") + 0.5) * gt.c4 + (col("py") + 0.5) * gt.c5
    val inside = udf((x: Double, y: Double) => Geometry.pointInPolygon(x, y, ringGeo))
    coarse.filter(inside(cx, cy))
  }

  /** Vector→raster burn (`gdalos_rasterize.py:84-123`): pixels whose
    * centers fall inside the geo-space ring take `burnValue`; all
    * others keep their value. The same two stages as [[cutline]]
    * (coarse bbox comparisons guard the exact point-in-polygon test,
    * here the unrolled column form) but as a value REWRITE, not a
    * filter — the burn composes with any pixel frame, so a fresh
    * canvas is just `PixelFrame.constant` input. Embarrassingly
    * parallel: no shuffle, no driver geometry.
    */
  def rasterize(df: DataFrame, gt: GeoTransform,
                ringGeo: Seq[(Double, Double)], burnValue: Double): DataFrame = {
    val bbox = Geometry.ringBBox(ringGeo)
    val cx = lit(gt.c0) + (col("px") + 0.5) * gt.c1 + (col("py") + 0.5) * gt.c2
    val cy = lit(gt.c3) + (col("px") + 0.5) * gt.c4 + (col("py") + 0.5) * gt.c5
    val inside = cx >= bbox.minX && cx <= bbox.maxX &&
      cy >= bbox.minY && cy <= bbox.maxY &&
      Geometry.pointInPolygonCol(cx, cy, ringGeo)
    df.withColumn("v", when(inside, lit(burnValue)).otherwise(col("v")))
  }

  /** B7 overview selection: resolve an overview index per the
    * reference's numbering contract (`gdalos_trans.py:72-79`): 0 is
    * the base raster, 1..n the overviews, negative counts from the
    * top (−1 → n).
    */
  def resolveOvrIdx(ovrCount: Int, idx: Int): Int = {
    val r = if (idx < 0) ovrCount + idx + 1 else idx
    require(r >= 0 && r <= ovrCount, s"ovr_idx $idx out of range for $ovrCount overviews")
    r
  }

  /** B7: select one pyramid level from an `ovr`-tagged frame. */
  def selectOvr(pyramid: DataFrame, ovrCount: Int, idx: Int): DataFrame =
    pyramid.filter(col("ovr") === resolveOvrIdx(ovrCount, idx))

  /** B1 band select (`bandList`, `gdalos_trans.py:440-459`). */
  def bandSelect(df: DataFrame, bands: Seq[Int]): DataFrame =
    df.filter(col("band").isin(bands: _*))

  /** B4 nodata normalize (`gdalos_trans.py:486-512`): rewrite the
    * source nodata sentinel to the destination's.
    */
  def nodataNormalize(df: DataFrame, srcNdv: Double, dstNdv: Double): DataFrame =
    df.withColumn("v", when(col("v") === srcNdv, lit(dstNdv)).otherwise(col("v")))

  /** H1 scale with nodata passthrough — the exact `scale_np_array`
    * semantics (`calc/scale_raster.py:28-43`): out = trunc(v·factor)
    * cast to an integer dtype (numpy 'unsafe' casting truncates toward
    * zero), except v == inNdv → outNdv.
    */
  def scaleToInt(df: DataFrame, factor: Double, inNdv: Double, outNdv: Double): DataFrame =
    df.withColumn("v",
      when(col("v") === inNdv, lit(outNdv))
        .otherwise((col("v") * factor).cast("long").cast("double")))

  /** `autoscale` (`calc/scale_raster.py:11-25`): pick the scale from
    * max(band)/max(dtype), snapped up to the first admissible value.
    */
  def autoscale(maxBandVal: Double, maxDtValue: Double,
                possible: Seq[Double] = Seq(0.1, 0.15, 0.2, 0.25, 0.3)): Double = {
    val scale = maxBandVal / maxDtValue
    possible.find(scale <= _).getOrElse(math.ceil(scale * 100) / 100)
  }

  /** E5 discretization ladder — exact `cont2discrete_array` semantics
    * (`calc/gdalos_raster_color.py:16-42`).
    *
    * up:   class = smallest i with v ≤ values(i), else n−1
    * down: class = largest  i with v ≥ values(i), else 0
    */
  def classify(df: DataFrame, values: Seq[Double], up: Boolean): DataFrame =
    df.withColumn("v", classifyCol(col("v"), values, up).cast("double"))

  def classifyCol(v: Column, values: Seq[Double], up: Boolean): Column = {
    val sorted = values.sorted
    val n = sorted.length
    if (up)
      sorted.init.zipWithIndex.foldRight(lit(n - 1): Column) {
        case ((thr, i), acc) => when(v <= thr, lit(i)).otherwise(acc)
      }
    else
      sorted.zipWithIndex.drop(1).foldLeft(lit(0): Column) {
        case (acc, (thr, i)) => when(v >= thr, lit(i)).otherwise(acc)
      }
  }

  /** H6 color-relief interpolation (`gdalos_raster_color.py:60-69`
    * interp mode; palette parse `gdalos_color.py:11-39`) as a
    * GENERATED piecewise-linear CASE chain — palettes are tiny, so
    * unrolling driver-side keeps the per-pixel math in whole-stage
    * codegen with zero joins. Returns ARGB as a long (alpha 255
    * overflows int). Clamps outside the key range like the reference.
    */
  def paletteInterpCol(v: Column, entries: Seq[(Double, Int)]): Column = {
    require(entries.nonEmpty, "empty palette")
    val sorted = entries.sortBy(_._1)
    def ch(argb: Int, sh: Int): Int = (argb >>> sh) & 0xff
    def channel(sh: Int): Column = {
      val base = when(v <= sorted.head._1, lit(ch(sorted.head._2, sh).toLong))
      val mid = sorted.sliding(2).foldLeft(base) {
        case (acc, Seq((k0, c0), (k1, c1))) =>
          val slope = (ch(c1, sh) - ch(c0, sh)).toDouble / (k1 - k0)
          acc.when(v <= k1,
            round(lit(ch(c0, sh).toDouble) + (v - k0) * slope).cast("long"))
        case (acc, _) => acc
      }
      mid.otherwise(lit(ch(sorted.last._2, sh).toLong))
    }
    channel(24) * 16777216L + channel(16) * 65536L + channel(8) * 256L + channel(0)
  }

  /** The identical CASE chain as ANSI SQL (oracle generator for H6). */
  def paletteInterpSql(v: String, entries: Seq[(Double, Int)]): String = {
    val sorted = entries.sortBy(_._1)
    def ch(argb: Int, sh: Int): Int = (argb >>> sh) & 0xff
    def channel(sh: Int): String = {
      val head = s"WHEN $v <= ${sorted.head._1} THEN CAST(${ch(sorted.head._2, sh)} AS BIGINT)"
      val mid = sorted.sliding(2).collect {
        case Seq((k0, c0), (k1, c1)) =>
          val slope = (ch(c1, sh) - ch(c0, sh)).toDouble / (k1 - k0)
          s"WHEN $v <= $k1 THEN CAST(ROUND(${ch(c0, sh).toDouble} + ($v - $k0) * $slope, 0) AS BIGINT)"
      }.mkString(" ")
      s"(CASE $head $mid ELSE CAST(${ch(sorted.last._2, sh)} AS BIGINT) END)"
    }
    s"(${channel(24)} * 16777216 + ${channel(16)} * 65536 + ${channel(8)} * 256 + ${channel(0)})"
  }

  /** B6 palette→RGB expand (`rgbExpand`, `gdalos_trans.py:480-484`)
    * via broadcast dimension join (C4) — palette rows
    * `(value DOUBLE, argb INT)`. Unmatched pixels get `defaultArgb`
    * (the color file's `nv` entry).
    */
  def paletteExpand(df: DataFrame, palette: DataFrame, defaultArgb: Int): DataFrame =
    df.join(broadcast(palette), df("v") === palette("value"), "left")
      .select(df("rid"), df("band"), df("px"), df("py"), df("v"),
        coalesce(col("argb"), lit(defaultArgb)).as("argb"))

  /** D6 raster statistics (`ComputeStatistics` /
    * `get_raster_min_max`, `calc/scale_raster.py:11-25`), nodata-aware.
    * The sum goes through DECIMAL so it is exact and
    * partition-order-independent; mean is derived from it.
    */
  def stats(df: DataFrame, ndv: Double): DataFrame = {
    val valid = when(col("v") =!= ndv, col("v"))
    df.agg(
      count(lit(1)).as("n_total"),
      count(valid).as("n_valid"),
      min(valid).as("mn"),
      max(valid).as("mx"),
      sum(valid.cast(DecimalType(28, 6))).cast("double").as("s"))
      .withColumn("mean", col("s") / col("n_valid"))
  }

  /** Horn 3×3 gradient over a pixel frame (the gdaldem slope/aspect
    * kernel — a terrain-analysis extension beyond the reference's own
    * operator set): p = dz/dx and q = dz/dy via the (1,2,1) weighted
    * central differences, divided by 8·cellSize.
    *
    * Plan shape: a SCATTER stencil — each valid pixel explodes to its
    * nine (dx,dy) roles and one hash aggregation keyed on the center
    * rebuilds every neighborhood (complementing the gather-join
    * stencil the warp kernels use). One shuffle, 9× the row volume of
    * the frame — constant fan-out, so it scales like any other
    * pixel-keyed aggregation. Only full neighborhoods emit (n = 9):
    * edges and pixels adjacent to nodata are excluded, which is the
    * conservative gdaldem contract.
    *
    * Determinism: weighted sums add integer-valued doubles (DEM values
    * × integer weights), exact at any aggregation order; p and q are
    * one IEEE division each — oracle-comparable bit-for-bit.
    */
  def hornGradient(df: DataFrame, cellSize: Double,
                   ndv: Double = PixelFrame.Dem.Ndv): DataFrame = {
    val offs = array((for (dy <- -1 to 1; dx <- -1 to 1)
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    df.filter(col("v") =!= ndv)
      .select(col("rid"), col("band"), col("px"), col("py"), col("v"),
        explode(offs).as("o"))
      .groupBy(col("rid"), col("band"),
        (col("px") - col("o.dx")).as("px"), (col("py") - col("o.dy")).as("py"))
      .agg(count(lit(1)).as("n"),
        sum((col("o.dx") * (lit(2) - abs(col("o.dy")))) * col("v")).as("sx"),
        sum((col("o.dy") * (lit(2) - abs(col("o.dx")))) * col("v")).as("sy"))
      .filter(col("n") === 9)
      .select(col("rid"), col("band"), col("px"), col("py"),
        (col("sx") / lit(8 * cellSize)).as("p"),
        (col("sy") / lit(8 * cellSize)).as("q"))
  }

  /** Hillshade over the [[hornGradient]] output (the gdaldem
    * hillshade analog): illumination = n̂·l̂ for the surface normal
    * against a light at (azimuth, altitude), scaled to 0–255.
    *
    * Axis convention: `py` is a ROW index increasing southward (the
    * conventional north-up raster), so `q = ∂z/∂py` points SOUTH and
    * the northward derivative is `-q`. The illumination term is
    * therefore `sinAlt - cosAlt*(p*sinAz - q*cosAz)` — matching
    * gdaldem's negative-nsres handling: under az=315 a north-facing
    * slope (z rising southward, q > 0) brightens and a south-facing
    * slope darkens.
    *
    * The per-pixel math is RATIONAL in (p, q): the
    * light components are constant sin/cos literals evaluated once on
    * the driver, and √ is IEEE-correctly-rounded everywhere — so the
    * byte values oracle-compare exactly (the only transcendentals
    * live in driver-side constants shared verbatim with the SQL).
    */
  def hillshade(df: DataFrame, cellSize: Double,
                azimuthDeg: Double = 315.0, altitudeDeg: Double = 45.0,
                ndv: Double = PixelFrame.Dem.Ndv): DataFrame = {
    val az = math.toRadians(azimuthDeg); val alt = math.toRadians(altitudeDeg)
    val (sinAlt, cosAlt, sinAz, cosAz) =
      (math.sin(alt), math.cos(alt), math.sin(az), math.cos(az))
    hornGradient(df, cellSize, ndv)
      .withColumn("shade_raw",
        (lit(sinAlt) - lit(cosAlt) * (col("p") * lit(sinAz) - col("q") * lit(cosAz)))
          / sqrt(lit(1.0) + col("p") * col("p") + col("q") * col("q")))
      .withColumn("shade",
        floor(greatest(lit(0.0), col("shade_raw")) * lit(255.0) + lit(0.5)).cast("int"))
      .drop("shade_raw")
  }

  /** gdaldem-family 3×3 terrain indices in ONE scatter aggregation
    * (the [[hornGradient]] plan shape — 9-role explode, center-keyed
    * hash agg, full neighborhoods only):
    *  - `tri`  — Riley Terrain Ruggedness Index
    *    √Σ(vₙ−c)² over the 8 neighbors, decomposed into the
    *    aggregable form √(Σv² − c² − 2c(Σv−c) + 8c²) so no
    *    per-neighbor center value is needed;
    *  - `tpi`  — Topographic Position Index, c − mean(8 neighbors)
    *    (the /8 is a power-of-two division — exact);
    *  - `roughness` — max − min of the full 3×3 window.
    * The DEM fixture is integer-valued, so every sum (including Σv²)
    * is order-independent-exact and the single √ is IEEE-rounded —
    * all three compare bit-for-bit cross-engine.
    */
  def terrainIndices(df: DataFrame,
                     ndv: Double = PixelFrame.Dem.Ndv): DataFrame = {
    val offs = array((for (dy <- -1 to 1; dx <- -1 to 1)
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    df.filter(col("v") =!= ndv)
      .select(col("rid"), col("band"), col("px"), col("py"), col("v"),
        explode(offs).as("o"))
      .groupBy(col("rid"), col("band"),
        (col("px") - col("o.dx")).as("px"), (col("py") - col("o.dy")).as("py"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"),
        min(col("v")).as("mn"),
        max(col("v")).as("mx"),
        max(when(col("o.dx") === 0 && col("o.dy") === 0, col("v"))).as("c"))
      .filter(col("n") === 9)
      .select(col("rid"), col("band"), col("px"), col("py"),
        sqrt(col("ss") - col("c") * col("c")
          - lit(2.0) * col("c") * (col("s") - col("c"))
          + lit(8.0) * col("c") * col("c")).as("tri"),
        (col("c") - (col("s") - col("c")) / lit(8.0)).as("tpi"),
        (col("mx") - col("mn")).as("roughness"))
  }

  /** The hillshade light constants for an (azimuth, altitude) pair,
    * printed as shortest-round-trip literals — shared with SQL
    * oracles so both engines compute from identical doubles.
    */
  def hillshadeConstants(azimuthDeg: Double, altitudeDeg: Double): (String, String, String, String) = {
    val az = math.toRadians(azimuthDeg); val alt = math.toRadians(altitudeDeg)
    (math.sin(alt).toString, math.cos(alt).toString,
      math.sin(az).toString, math.cos(az).toString)
  }
}
