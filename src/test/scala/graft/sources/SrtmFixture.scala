package graft.sources

import java.nio.file.Paths

/** The committed SRTM-shaped GeoTIFF, `fixtures/srtm_like.tif`
  * (written by `tools/make_geotiff_fixture.py`): the layout of the
  * gdalos sample tile `data/maps/srtm1_x35_y32.tif` (361×361 Int16,
  * 256×256 DEFLATE tiles, EPSG:4326, GDAL_NODATA −32768) with pixels
  * from `PixelFrame.dem`'s integer formula. Tests take their expected
  * values from [[value]], never from the codec under test.
  */
object SrtmFixture {
  val W = 361
  val H = 361

  /** The file in the source tree (tests run from the project root). */
  val path: String =
    Paths.get("src", "test", "resources", "fixtures", "srtm_like.tif").toAbsolutePath.toString

  /** Pixel (px, py): nodata on the `%101` holes, else `(7px + 13py) % 997`. */
  def value(px: Int, py: Int): Double =
    if ((px * 31 + py * 17) % 101 == 0) -32768.0
    else ((px * 7 + py * 13) % 997).toDouble

  /** Row-major pixels of the window [x0, x1) × [y0, y1). */
  def window(x0: Int, y0: Int, x1: Int, y1: Int): IndexedSeq[Double] =
    for (py <- y0 until y1; px <- x0 until x1) yield value(px, py)
}
