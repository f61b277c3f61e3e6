package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog / mosaic / routing operators (SURVEY §2 A4/A5, C5, C8, F1,
  * G2/G3) over a raster-catalog DataFrame
  * `(rid INT, path STRING, minx, miny, maxx, maxy, resx DOUBLE)`.
  *
  * A VRT is a logical plan, not data (SURVEY A4): mosaics are unions
  * of tile scans plus de-overlap; catalogs are small metadata tables,
  * so non-equi containment joins broadcast (BroadcastNestedLoopJoin
  * over ~10³–10⁵ rows — the fact-side tiles never join non-equi).
  */
object Catalog {

  /** Deterministic synthetic catalog for tests/queries: 8 UTM-zone-ish
    * slots (`w84u{30..37}`) × ⌈n/8⌉ resolution levels; within a zone,
    * each level's extent strictly contains the levels below it — so
    * the C8 containment filter has real work to do.
    */
  def synthetic(s: SparkSession, n: Int): DataFrame = {
    val zone = col("id") % 8
    val level = floor(col("id") / 8).cast("int")
    s.range(n).select(
      col("id").cast("int").as("rid"),
      concat(lit("srtm_w84u"), (zone + 30).cast("string"),
        lit("_r"), level.cast("string"), lit(".tif")).as("path"),
      (zone * 6 - 36 - level).cast("double").as("minx"),
      (lit(0) - level).cast("double").as("miny"),
      (zone * 6 - 30 + level).cast("double").as("maxx"),
      (lit(8) + level).cast("double").as("maxy"),
      pow(lit(2.0), level.cast("double")).as("resx"))
  }

  private val area = (col("maxx") - col("minx")) * (col("maxy") - col("miny"))

  /** F1 area-descending sort (`filter_ros`, `gdalos_vrt.py:74`). */
  def sortByAreaDesc(cat: DataFrame): DataFrame =
    cat.orderBy(area.desc, col("rid"))

  /** C8/A5 containment filter (`filter_ros`, `gdalos_vrt.py:73-87`):
    * drop every raster whose extent is contained in an
    * earlier-by-(area desc, rid) raster. The reference's sequential
    * greedy is equivalent to this one-shot anti-join because
    * containment is transitive: a raster contained only in a *dropped*
    * raster is also contained in whatever kept raster dropped it.
    */
  def filterContained(cat: DataFrame): DataFrame = {
    val b = cat.select(col("rid").as("b_rid"), col("minx").as("b_minx"),
      col("miny").as("b_miny"), col("maxx").as("b_maxx"), col("maxy").as("b_maxy"))
    val bArea = (col("b_maxx") - col("b_minx")) * (col("b_maxy") - col("b_miny"))
    val containedInBigger =
      col("b_minx") <= col("minx") && col("b_maxx") >= col("maxx") &&
      col("b_miny") <= col("miny") && col("b_maxy") >= col("maxy") &&
      (bArea > area || (bArea === area && col("b_rid") < col("rid")))
    cat.join(broadcast(b), containedInBigger, "left_anti")
  }

  /** A5 multi-overview catalog grouping
    * (`make_vrt_with_multiple_extent_overviews...`,
    * `gdalos_vrt.py:99-152`): resolution level = log₂(resx/minRes)
    * rounded, contained rasters dropped per level.
    */
  def groupByLevel(cat: DataFrame): DataFrame = {
    val minRow = cat.agg(min("resx")).first()
    require(!minRow.isNullAt(0), "groupByLevel: empty catalog (no resx)")
    val minRes = minRow.getDouble(0)
    filterContained(cat)
      .withColumn("level", round(log2(col("resx") / minRes)).cast("int"))
  }

  /** C5 nearest-center routing (`DataSetSelector.get_item_projected`,
    * `gdalos_selector.py:44-65`): zone center from the `w84u<zone>`
    * path pattern (`gdalos_selector.py:15`, center = zone·6 − 183 per
    * `osr_utm_util.py:9-26`), each point routed to the catalog row
    * minimizing (|x − center|, rid). Output: the point columns plus
    * `rid`, `path`, `center`.
    *
    * The catalog is small file metadata, so its `(rid, path, center)`
    * rows are read once on the driver; a row whose path has no zone
    * routes nothing, and a catalog without a zoned row routes no point.
    * The lowest rid per distinct center is kept, sorted by center, and
    * each point takes its nearest center by binary search in one narrow
    * projection: no join, no exchange. On local points the optimizer
    * folds that projection, so the caller's collect runs no Spark job.
    */
  def route(points: DataFrame, cat: DataFrame): DataFrame = {
    val zone = regexp_extract(col("path"), "w84u([-+]?[0-9]*\\.?[0-9]+)", 1)
    val byCenter = cat.filter(zone =!= "")
      .select(col("rid"), col("path"), (zone.cast("double") * 6 - 183).as("center"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._3).values.map(_.minBy(_._1)).toArray
      .sortBy(_._3)(Ordering.Double.TotalOrdering)
    val (rids, centers) = (byCenter.map(_._1), byCenter.map(_._3))
    val nearest = udf { (x: java.lang.Double) =>
      val (rid, path, center) = byCenter(nearestCenter(centers, rids, x))
      (rid, path, Double.box(center)) // boxed: `center` stays nullable, like the cast
    }.asNonNullable()
    val hit = nearest(col("x"))
    (if (centers.isEmpty) points.filter(lit(false)) else points)
      .select(col("*"), hit("_1").as("rid"), hit("_2").as("path"), hit("_3").as("center"))
  }

  /** Index of the center minimizing (|x − center|, rid) in Spark's
    * double order (NaN above every number; a null x ties everywhere).
    * `centers` is sorted and distinct, so the nearest is a neighbour of
    * x's insertion point and every equally near center is contiguous
    * with it.
    */
  private def nearestCenter(centers: Array[Double], rids: Array[Int],
                            x: java.lang.Double): Int = {
    val byDist = Ordering.Double.TotalOrdering // distances are never −0.0
    def dist(j: Int) = if (x == null) 0.0 else math.abs(x - centers(j))
    val i = if (x == null) 0 else {
      val j = java.util.Arrays.binarySearch(centers, x.doubleValue)
      if (j >= 0) j else -j - 1
    }
    val d = Seq(i - 1, i).filter(centers.indices.contains).map(dist).min(byDist)
    def tie(j: Int) = byDist.equiv(dist(j), d)
    ((i - 1 to 0 by -1).takeWhile(tie) ++ (i until centers.length).takeWhile(tie))
      .minBy(rids(_))
  }

  /** G2 mosaic first-wins de-overlap (`gdal.BuildVRT` semantics at
    * `gdalos_vrt.py:216-251`): when N rasters cover a pixel, the first
    * (lowest rid = first in the VRT file list) wins. One hash
    * aggregation per pixel — `min_by` keyed on rid, no window sort.
    */
  def mosaicFirstWins(tiles: DataFrame): DataFrame =
    tiles.groupBy("band", "px", "py")
      .agg(min_by(col("v"), col("rid")).as("v"), min("rid").as("src_rid"))

  /** G3 `.ovr` path de-dup (`filter_ovr`, `gdalos_vrt.py:271-281`):
    * drop `x.ovr` rows whose parent `x` is itself present.
    */
  def dedupOvrPaths(cat: DataFrame): DataFrame = {
    val parents = cat.select(col("path").as("parent_path"))
    cat.join(broadcast(parents),
      col("path") === concat(col("parent_path"), lit(".ovr")), "left_anti")
  }
}
