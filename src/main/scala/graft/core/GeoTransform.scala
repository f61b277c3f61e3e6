package graft.core

/** 6-term affine geotransform, GDAL convention (documented in the
  * reference at `gdalos_extent.py:13-29`):
  *
  *   Xgeo = c0 + px*c1 + py*c2
  *   Ygeo = c3 + px*c4 + py*c5
  *
  * (c0,c3) is the top-left corner of the top-left pixel; pixel/line
  * coordinates run from (0,0) at that corner; the center of the
  * top-left pixel is (0.5,0.5). North-up rasters have c2 = c4 = 0 and
  * c5 < 0.
  */
final case class GeoTransform(c0: Double, c1: Double, c2: Double,
                              c3: Double, c4: Double, c5: Double) {
  def isNorthUp: Boolean = c2 == 0.0 && c4 == 0.0

  def pixelToGeo(px: Double, py: Double): (Double, Double) =
    (c0 + px * c1 + py * c2, c3 + px * c4 + py * c5)

  /** Inverse affine (general 2×2 solve; exact divisions for the
    * north-up case so pixel↔geo round-trips bit-exactly).
    */
  def geoToPixel(x: Double, y: Double): (Double, Double) =
    if (isNorthUp) ((x - c0) / c1, (y - c3) / c5)
    else {
      val det = c1 * c5 - c2 * c4
      require(det != 0.0, s"singular geotransform $this")
      val dx = x - c0; val dy = y - c3
      ((dx * c5 - dy * c2) / det, (dy * c1 - dx * c4) / det)
    }

  /** Extent of a w×h raster under this transform (north-up fast path;
    * general case takes the bbox of the four corners — the reference's
    * `get_points_extent`).
    */
  def extent(w: Int, h: Int): GeoRectangle = {
    val corners = Seq((0.0, 0.0), (w.toDouble, 0.0), (0.0, h.toDouble), (w.toDouble, h.toDouble))
      .map { case (px, py) => pixelToGeo(px, py) }
    GeoRectangle(corners.map(_._1).min, corners.map(_._2).min,
      corners.map(_._1).max, corners.map(_._2).max)
  }

  /** Integer pixel window [x0,x1)×[y0,y1) covering geo-rect `r`,
    * clamped to a w×h raster — the `projWin`/`srcWin` crop math
    * (reference `gdalos_trans.py:514-581`). Uses floor on the min
    * corner and ceil on the max corner, matching
    * `gt_and_size_from_rect` (`rectangle.py:13-17`) ceil semantics.
    */
  def windowFromExtent(r: GeoRectangle, w: Int, h: Int): Option[(Int, Int, Int, Int)] = {
    val (pxA, pyA) = geoToPixel(r.minX, r.maxY) // top-left geo corner
    val (pxB, pyB) = geoToPixel(r.maxX, r.minY) // bottom-right geo corner
    // GDAL-style sub-pixel snap (gdal_translate's 0.001-px projwin
    // tolerance): a geo↔pixel round-trip on a non-power-of-2 grid
    // (e.g. SRTM's 1/3600°) lands at 99.9999…/300.0000…1 and the raw
    // floor/ceil would widen the window by a pixel on each noisy side
    val eps = 1e-3
    val x0 = math.max(0, math.floor(math.min(pxA, pxB) + eps).toInt)
    val y0 = math.max(0, math.floor(math.min(pyA, pyB) + eps).toInt)
    val x1 = math.min(w, math.ceil(math.max(pxA, pxB) - eps).toInt)
    val y1 = math.min(h, math.ceil(math.max(pyA, pyB) - eps).toInt)
    if (x0 >= x1 || y0 >= y1) None else Some((x0, y0, x1, y1))
  }

  /** Transform of the k-th power-of-2 overview (level k halves the
    * resolution k times; numbering contract `gdalos_trans.py:72-79`).
    */
  def overview(k: Int): GeoTransform = {
    val f = (1 << k).toDouble
    GeoTransform(c0, c1 * f, c2 * f, c3, c4 * f, c5 * f)
  }
}

object GeoTransform {
  /** Port of `gt_and_size_from_rect` (`rectangle.py:13-17`): transform
    * + raster size for a rect at a given pixel size (pixelSizeY
    * negative for north-up).
    */
  def fromRect(r: GeoRectangle, pixelSizeX: Double, pixelSizeY: Double): (GeoTransform, Int, Int) = {
    require(pixelSizeX > 0 && pixelSizeY < 0, s"north-up pixel size expected, got ($pixelSizeX,$pixelSizeY)")
    val w = math.ceil(r.width / pixelSizeX).toInt
    val h = math.ceil(r.height / -pixelSizeY).toInt
    (GeoTransform(r.minX, pixelSizeX, 0, r.maxY, 0, pixelSizeY), w, h)
  }
}
