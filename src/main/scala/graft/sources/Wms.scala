package graft.sources

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URL}

import javax.xml.parsers.DocumentBuilderFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A1 WMS remote-raster source — the last reference input kind: a
  * `.xml` input file is a GDAL WMS configuration opened as a raster
  * dataset, tiles fetched over HTTP (`gdalos_trans.py:832-833` sets
  * `GDAL_HTTP_UNSAFESSL` for exactly these inputs and hands the path
  * to `open_ds`, `gdalos_trans.py:318-320`). The XML shape parsed here
  * is the public GDAL WMS/TMS minidriver config
  * (gdal.org/drivers/raster/wms.html): `<Service name=..>` with a
  * `<ServerUrl>` `${x}`/`${y}`/`${z}` template, a `<DataWindow>`
  * (extent + level-0 tile counts), block size and band count.
  *
  * Spark shape: the tile GRID is a `spark.range` projection (never a
  * driver-side list — at a deep zoom the grid is millions of rows and
  * stays distributed); the HTTP fetch + PNG decode of each tile is
  * executor work inside one narrow `mapPartitions`, exactly the
  * [[Gpkg.pixelFrame]] contract, so a WMS level drops into every
  * downstream raster operator (crop, combine, mosaic, overview build)
  * unchanged. Tiles die in the map — only decoded pixel rows continue.
  *
  * At 100 TB the fetch is the bottleneck, not the plan: per-executor
  * HTTP connections fan out with the partitioning of the grid, and a
  * `repartition(n)` on the grid before [[fetchPixels]] is the
  * concurrency knob (tiles-per-connection stays 1: WMS servers are
  * request-per-tile). Zero-egress build: gated against the in-process
  * [[Wms.Stub]] tile server (q131 + WmsSpec); a real deployment
  * changes only the `ServerUrl` in the XML.
  */
object Wms {

  /** The parsed GDAL WMS config subset this source consumes. `yOrigin`
    * follows the GDAL `<DataWindow><YOrigin>` knob: `"top"` (default
    * here and in GDAL's WMS driver) means `${y}` counts rows from the
    * north edge; `"bottom"` is the OSGeo-TMS flip, applied in
    * [[urlFor]] so grid rows are always stored top-down internally. */
  final case class Config(serverUrl: String, serviceName: String,
                          ulx: Double, uly: Double, lrx: Double, lry: Double,
                          tileCountX: Int, tileCountY: Int,
                          blockSizeX: Int, blockSizeY: Int,
                          bandsCount: Int, projection: String,
                          yOrigin: String = "top",
                          connectTimeoutMs: Int = 10000,
                          readTimeoutMs: Int = 60000)

  /** Parse a GDAL WMS config XML string (JDK DOM — no external XML
    * dependency). Fails loudly on a missing `<ServerUrl>`; everything
    * else has the GDAL driver's defaults. */
  def parseConfig(xml: String): Config = {
    val doc = DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new ByteArrayInputStream(xml.getBytes("UTF-8")))
    def text(tag: String, dflt: String): String = {
      val nodes = doc.getElementsByTagName(tag)
      if (nodes.getLength == 0) dflt else nodes.item(0).getTextContent.trim
    }
    val serverUrl = text("ServerUrl", "")
    require(serverUrl.nonEmpty, "WMS config: <ServerUrl> is required")
    val svc = doc.getElementsByTagName("Service")
    val svcName = if (svc.getLength == 0) "TMS"
      else Option(svc.item(0).getAttributes.getNamedItem("name"))
        .map(_.getNodeValue).getOrElse("TMS")
    Config(
      serverUrl = serverUrl,
      serviceName = svcName,
      ulx = text("UpperLeftX", "-180").toDouble,
      uly = text("UpperLeftY", "90").toDouble,
      lrx = text("LowerRightX", "180").toDouble,
      lry = text("LowerRightY", "-90").toDouble,
      tileCountX = text("TileCountX", "1").toInt,
      tileCountY = text("TileCountY", "1").toInt,
      blockSizeX = text("BlockSizeX", "256").toInt,
      blockSizeY = text("BlockSizeY", "256").toInt,
      bandsCount = text("BandsCount", "3").toInt,
      projection = text("Projection", "EPSG:4326"),
      yOrigin = text("YOrigin", "top").toLowerCase)
  }

  /** Expand the `${x}`/`${y}`/`${z}` URL template for one tile.
    * `ty` is the INTERNAL top-down row; a `yOrigin=bottom` config
    * flips it here, at the wire boundary, so the rest of the pipeline
    * never branches on the convention. */
  def urlFor(cfg: Config, z: Int, tx: Int, ty: Int): String = {
    val nyAtZ = cfg.tileCountY << z
    val wireY = if (cfg.yOrigin == "bottom") nyAtZ - 1 - ty else ty
    cfg.serverUrl
      .replace("${z}", z.toString)
      .replace("${x}", tx.toString)
      .replace("${y}", wireY.toString)
  }

  /** The tile grid of one TMS level as a DataFrame — level 0 is the
    * DataWindow's TileCountX×TileCountY, each level doubles both
    * axes. A `spark.range` projection: the grid never materializes on
    * the driver, so a level-15 sweep (billions of tiles) plans the
    * same way as the demo's 2×2. */
  def tileGrid(s: SparkSession, cfg: Config, level: Int): DataFrame = {
    val nx = cfg.tileCountX.toLong << level
    val ny = cfg.tileCountY.toLong << level
    s.range(nx * ny).select(
      lit(level).as("z"),
      (col("id") % nx).cast("int").as("tx"),
      (col("id") / nx).cast("int").as("ty"))
  }

  private def httpGet(url: String, cfg: Config): Array[Byte] = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    conn.setConnectTimeout(cfg.connectTimeoutMs)
    conn.setReadTimeout(cfg.readTimeoutMs)
    try {
      val code = conn.getResponseCode
      require(code == 200, s"WMS tile fetch $url: HTTP $code")
      val in = conn.getInputStream
      try in.readAllBytes() finally in.close()
    } finally conn.disconnect()
  }

  /** Fetch + decode every tile of `grid` (columns z, tx, ty) into the
    * standard pixel frame (rid=0, band=1, px, py, v) — v is the R
    * channel as double, global pixel coords = tile grid × block size
    * (the [[Gpkg.pixelFrame]] convention). One narrow mapPartitions:
    * requests fan out with the grid's partitioning, payloads never
    * shuffle. A non-200 or undecodable tile fails the task loudly — a
    * silent hole in a mosaic is the one thing a source must not
    * produce. */
  def fetchPixels(grid: DataFrame, cfg: Config): DataFrame = {
    val spark = grid.sparkSession
    import spark.implicits._
    val (tw, th) = (cfg.blockSizeX, cfg.blockSizeY)
    grid.select(col("z").cast("int"), col("tx").cast("int"), col("ty").cast("int"))
      .as[(Int, Int, Int)]
      .mapPartitions(_.flatMap { case (z, tx, ty) =>
        val (w, h, argb) = Png.decode(httpGet(urlFor(cfg, z, tx, ty), cfg))
        require(w == tw && h == th,
          s"WMS tile ($z/$tx/$ty): ${w}x$h, config says ${tw}x$th")
        for (y <- 0 until h; x <- 0 until w) yield (
          0, 1, tx * tw + x, ty * th + y,
          ((argb(y * w + x) >> 16) & 0xff).toDouble)
      })
      .toDF("rid", "band", "px", "py", "v")
  }

  /** One WMS level as a pixel frame — parse, grid, fetch, decode. */
  def pixelFrame(s: SparkSession, cfg: Config, level: Int): DataFrame =
    fetchPixels(tileGrid(s, cfg, level), cfg)

  /** A demo GDAL-WMS config XML against `serverUrl` — the shape the
    * reference's `.xml` inputs carry, pointed at the in-process stub
    * (or any TMS endpoint). */
  def demoConfigXml(serverUrl: String): String =
    s"""<GDAL_WMS>
       |  <Service name="TMS">
       |    <ServerUrl>$serverUrl/wms/$${z}/$${x}/$${y}.png</ServerUrl>
       |  </Service>
       |  <DataWindow>
       |    <UpperLeftX>35.0</UpperLeftX>
       |    <UpperLeftY>33.0</UpperLeftY>
       |    <LowerRightX>37.0</LowerRightX>
       |    <LowerRightY>31.0</LowerRightY>
       |    <TileCountX>1</TileCountX>
       |    <TileCountY>1</TileCountY>
       |    <YOrigin>top</YOrigin>
       |  </DataWindow>
       |  <Projection>EPSG:4326</Projection>
       |  <BlockSizeX>32</BlockSizeX>
       |  <BlockSizeY>32</BlockSizeY>
       |  <BandsCount>1</BandsCount>
       |</GDAL_WMS>""".stripMargin

  /** In-process TMS tile server (zero-egress twin of a WMS backend,
    * the [[RestProfile.Stub]] precedent): serves
    * `/wms/{z}/{x}/{y}.png` as 32×32 greyscale PNGs with the
    * deterministic pixel formula v = (gx·3 + gy·7) mod 251 over
    * GLOBAL pixel coords (gx = x·32+px, gy = y·32+py) — replayable in
    * SQL, so a WMS read gets a real hash-match oracle. Distinct from
    * the GPKG fixture's (3,5) so a crossed wire between the two
    * sources cannot silently pass. Lazily started on a loopback port;
    * the dispatcher thread is made daemon via the starter-thread trick
    * (see RestProfile.Stub — a non-daemon dispatcher held the round-8
    * bench JVM open past the harness timeout). */
  object Stub {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val TileSize = 32
    @volatile private var server: HttpServer = _
    val requestCount = new java.util.concurrent.atomic.AtomicInteger(0)
    private val TilePath = "/wms/(\\d+)/(\\d+)/(\\d+)\\.png".r

    def tilePng(tx: Int, ty: Int): Array[Byte] = {
      val ts = TileSize
      val argb = Array.tabulate(ts * ts) { i =>
        val px = i % ts; val py = i / ts
        val v = ((tx * ts + px) * 3 + (ty * ts + py) * 7) % 251
        0xff000000 | (v << 16) | (v << 8) | v
      }
      Png.encode(ts, ts, argb)
    }

    def url: String = synchronized {
      if (server == null) {
        server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        server.createContext("/wms", new HttpHandler {
          def handle(ex: HttpExchange): Unit = {
            requestCount.incrementAndGet()
            ex.getRequestURI.getPath match {
              case TilePath(_, x, y) =>
                val bytes = tilePng(x.toInt, y.toInt)
                ex.getResponseHeaders.add("Content-Type", "image/png")
                ex.sendResponseHeaders(200, bytes.length.toLong)
                val os = ex.getResponseBody
                try os.write(bytes) finally os.close()
              case _ =>
                ex.sendResponseHeaders(404, -1L)
                ex.close()
            }
          }
        })
        server.setExecutor(null)
        val starter = new Thread(() => server.start(), "wms-stub-starter")
        starter.setDaemon(true)
        starter.start()
        starter.join()
        sys.addShutdownHook(if (server != null) server.stop(0))
      }
      s"http://127.0.0.1:${server.getAddress.getPort}"
    }
  }
}
