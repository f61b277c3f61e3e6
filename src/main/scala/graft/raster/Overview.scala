package graft.raster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.ResamplingAlg

/** D7 overview/pyramid build + E1 decimation kernels (reference
  * `add_ovr`/`gdalos_ovr`, `gdalos_trans.py:1067-1217`; kernel enum
  * `gdalos_types.py:33-49`; numbering contract `gdalos_trans.py:72-79`:
  * level k is a 2^k downsample).
  *
  * Each level halves both axes: parent pixel (px,py) aggregates the
  * 2×2 child block (2px..2px+1, 2py..2py+1).
  *
  * Scale notes: `average`/`mode` are one shuffle per level on the
  * halved key (row count drops 4× per level, so the whole pyramid
  * costs < 4/3 of one pass over the base). `nearest` is shuffle-FREE —
  * a pushed-down filter on even coordinates plus a projection.
  */
object Overview {

  /** One decimation level with the given kernel. Nodata-aware:
    * `average` averages the valid (non-ndv) children and yields ndv
    * only when all four are ndv (GDAL average-of-non-NODATA semantics,
    * `gdalos_types.py:36-39`); `mode` takes the most frequent valid
    * value, ties to the smallest (GDAL picks an arbitrary modal value;
    * we pin the tie for determinism); `nearest` samples the top-left
    * child.
    */
  def buildLevel(df: DataFrame, alg: ResamplingAlg, ndv: Double): DataFrame = alg match {
    case ResamplingAlg.Nearest =>
      df.filter(col("px") % 2 === 0 && col("py") % 2 === 0)
        .select(col("rid"), col("band"),
          (col("px") / 2).cast("int").as("px"),
          (col("py") / 2).cast("int").as("py"), col("v"))

    case ResamplingAlg.Average =>
      val valid = when(col("v") =!= ndv, col("v"))
      df.groupBy(col("rid"), col("band"),
          floor(col("px") / 2).cast("int").as("px"),
          floor(col("py") / 2).cast("int").as("py"))
        .agg(sum(valid).as("s"), count(valid).as("c"))
        .select(col("rid"), col("band"), col("px"), col("py"),
          when(col("c") === 0, lit(ndv)).otherwise(col("s") / col("c")).as("v"))

    case ResamplingAlg.Mode =>
      // two-stage: count each (pixel,value), then argmax with a
      // deterministic (count desc, value asc) tie-break — no
      // TypedImperativeAggregate buffer, so no per-group memory bound.
      df.filter(col("v") =!= ndv)
        .groupBy(col("rid"), col("band"),
          floor(col("px") / 2).cast("int").as("px"),
          floor(col("py") / 2).cast("int").as("py"), col("v"))
        .agg(count(lit(1)).as("c"))
        .groupBy("rid", "band", "px", "py")
        .agg(max_by(col("v"), struct(col("c"), -col("v"))).as("v"))

    case other =>
      throw new IllegalArgumentException(
        s"decimation kernel $other is interpolating — use buildLevelKernel(df, alg, ndv, w, h)")
  }

  /** E1 interpolating-kernel decimation (one 2× level): the gather
    * form over the [[Warp]] stencil machinery — identity CRS mapping,
    * grid coarsened 2× (`gdalos_types.py:40-47` kernels, any of
    * bilinear/cubic/cubicspline/lanczos). Same single join + single
    * aggregation plan as a cross-SRS warp; nodata renormalizes out.
    */
  def buildLevelKernel(df: DataFrame, alg: ResamplingAlg, ndv: Double,
                       w: Int, h: Int): DataFrame = {
    val kernel = alg match {
      case ResamplingAlg.Bilinear => Warp.Bilinear
      case ResamplingAlg.Cubic => Warp.Cubic
      case ResamplingAlg.CubicSpline => Warp.CubicSpline
      case ResamplingAlg.Lanczos => Warp.Lanczos
      case other => throw new IllegalArgumentException(
        s"$other is a decimating kernel — use buildLevel")
    }
    val pixGt = graft.core.GeoTransform(0, 1, 0, 0, 0, -1) // pixel space
    Warp.warp(df, pixGt, pixGt.overview(1), (w + 1) / 2, (h + 1) / 2,
      (x, y) => (x, y), ndv, kernel)
  }

  /** Full pyramid: levels 1..n stacked with an `ovr` column (level 0 =
    * the input), iterating [[buildLevel]] log₂ times
    * (`gdalos_trans.py:1183-1188`: ovr_levels = 2^(i+1)).
    *
    * Each level is MATERIALIZED (`localCheckpoint`) before feeding the
    * next: without it the unioned plan recomputes levels 1..k−1 inside
    * level k's branch — O(L²) aggregation stages, and at scale every
    * recompute re-reads the base raster (at the reference's default 10
    * levels, 55 stages instead of 10). This is the in-session analogue
    * of the reference's write-then-reuse `.ovr` chain
    * (`existing_reuse`, `gdalos_trans.py:1097-1130`); Trans.run's
    * pyramid write path persists levels to storage the same way.
    * `materialize = false` restores the pure-plan form (tiny pyramids,
    * plan-shape tests).
    */
  def buildPyramid(df: DataFrame, levels: Int, alg: ResamplingAlg, ndv: Double,
                   materialize: Boolean = true): DataFrame = {
    var acc = df.withColumn("ovr", lit(0))
    var cur = df
    for (k <- 1 to levels) {
      cur = buildLevel(cur, alg, ndv)
      if (materialize && k < levels) cur = cur.localCheckpoint()
      acc = acc.unionByName(cur.withColumn("ovr", lit(k)))
    }
    acc
  }
}
