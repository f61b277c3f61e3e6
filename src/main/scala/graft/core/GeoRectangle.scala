package graft.core

/** Axis-aligned geographic bounding box — the unit of spatial predicate
  * pushdown (reference: `rectangle.py:5-17`, extent ops used at
  * `gdalos_trans.py:407,539-566` and `gdalos_vrt.py:114`).
  *
  * Conventions follow GDAL's `osgeo_utils.auxiliary.rectangle`:
  * min/max corners, y grows north; an empty rectangle has
  * `minX >= maxX || minY >= maxY`.
  */
final case class GeoRectangle(minX: Double, minY: Double, maxX: Double, maxY: Double) {
  def width: Double  = maxX - minX
  def height: Double = maxY - minY
  def area: Double   = if (isEmpty) 0.0 else width * height
  def isEmpty: Boolean = minX >= maxX || minY >= maxY

  /** Intersection; possibly empty (reference `gdalos_trans.py:539-545`). */
  def intersect(o: GeoRectangle): GeoRectangle =
    GeoRectangle(
      math.max(minX, o.minX), math.max(minY, o.minY),
      math.min(maxX, o.maxX), math.min(maxY, o.maxY))

  /** Bounding union (reference `gdalos_vrt.py:114`). */
  def union(o: GeoRectangle): GeoRectangle =
    GeoRectangle(
      math.min(minX, o.minX), math.min(minY, o.minY),
      math.max(maxX, o.maxX), math.max(maxY, o.maxY))

  /** Containment — `rect_contains(this, other)` (reference `rectangle.py:5-10`). */
  def contains(o: GeoRectangle): Boolean =
    minX <= o.minX && maxX >= o.maxX && minY <= o.minY && maxY >= o.maxY

  def containsPoint(x: Double, y: Double): Boolean =
    minX <= x && x <= maxX && minY <= y && y <= maxY

  /** The (i,j) cell of an nx×ny partition grid of this extent
    * (reference `partitions.py:17-24` + `get_partition` use at
    * `gdalos_trans.py:560-563`). Cell (0,0) is the min corner.
    */
  def partition(i: Int, j: Int, nx: Int, ny: Int): GeoRectangle = {
    require(nx > 0 && ny > 0 && i >= 0 && i < nx && j >= 0 && j < ny,
      s"bad partition ($i,$j) of ${nx}x$ny")
    val dx = width / nx
    val dy = height / ny
    GeoRectangle(minX + i * dx, minY + j * dy,
      if (i == nx - 1) maxX else minX + (i + 1) * dx,
      if (j == ny - 1) maxY else minY + (j + 1) * dy)
  }

  /** Snap outward to the pixel grid of `gt` (reference `extent_aligned`,
    * `gdalos_trans.py:565-566` / `targetAlignedPixels`): the smallest
    * grid-aligned rectangle containing `this`.
    */
  def align(gt: GeoTransform): GeoRectangle = {
    val (px0, py0) = gt.geoToPixel(minX, maxY) // top-left in pixel space
    val (px1, py1) = gt.geoToPixel(maxX, minY) // bottom-right
    // same 0.001-px snap as GeoTransform.windowFromExtent: an extent
    // produced by pixelToGeo round-trips to 99.9999…, and raw
    // floor/ceil would grow the aligned rect a pixel per noisy side
    val eps = 1e-3
    val fx0 = math.floor(px0 + eps); val fy0 = math.floor(py0 + eps)
    val cx1 = math.ceil(px1 - eps);  val cy1 = math.ceil(py1 - eps)
    val (gx0, gy0) = gt.pixelToGeo(fx0, fy0)
    val (gx1, gy1) = gt.pixelToGeo(cx1, cy1)
    GeoRectangle(math.min(gx0, gx1), math.min(gy0, gy1),
      math.max(gx0, gx1), math.max(gy0, gy1))
  }
}

object GeoRectangle {
  val empty: GeoRectangle = GeoRectangle(0, 0, 0, 0)

  /** Extent union fold, mirroring the reference's extent folds (D8). */
  def unionAll(rs: Iterable[GeoRectangle]): GeoRectangle =
    rs.reduceLeft(_ union _)
}
