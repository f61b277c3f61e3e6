package graft.sources

import java.io.{ByteArrayOutputStream, RandomAccessFile}
import java.util.zip.{Deflater, Inflater}

import graft.core.GeoTransform

/** Pure-JDK baseline GeoTIFF codec (no native GDAL, no imaging libs) —
  * the decoder behind the A1 `open_ds` front door
  * (`gdalos_trans.py:318-320` opens datasets; block model
  * `gdalos_trans.py:788-801`) and the A3 GTiff writer
  * (`gdalos_trans.py:773-816` creation options).
  *
  * Reader scope: classic TIFF (II/MM) AND BigTIFF (version 43: 8-byte
  * counts/offsets, 20-byte IFD entries, LONG8/SLONG8/IFD8 types — the
  * form the reference's `BIGTIFF` creation options emit for >4 GiB
  * outputs, `gdalos_trans.py:788-801`), striped or tiled, compression
  * none(1)/LZW(5)/JPEG(7, incl. shared JPEGTables; entropy coding via
  * the JDK ImageIO reader)/DEFLATE(8 & old 32946)/PackBits(32773),
  * predictor
  * none(1)/horizontal(2)/floating-point(3: byte-plane split + bytewise
  * differencing, libtiff `tif_predict.c` fpDiff/fpAcc semantics),
  * samples Byte/Int16/UInt16/Int32/Float32/
  * Float64, chunky planar config, GeoTIFF georeferencing from
  * ModelPixelScale+ModelTiepoint (tags 33550/33922), nodata from
  * GDAL_NODATA (42113), CRS from the GeoKey directory (34735:
  * geographic/projected EPSG code). That covers the reference's own
  * fixture (`data/maps/srtm1_x35_y32.tif`: 361×361 Int16, 256×256
  * tiles, DEFLATE, EPSG:4326), everything our writer emits, and the
  * common LZW/PackBits files found in the wild.
  *
  * Writer scope: little-endian, striped or TILED (the COG layout),
  * none/LZW/JPEG(photo kind: Byte RGB→YCbCr or grayscale, fixed
  * quality)/DEFLATE/PackBits, optional horizontal or floating-point
  * predictor, Byte/Int16/Float32/Float64, ModelPixelScale +
  * ModelTiepoint + GDAL_NODATA + geographic-or-projected GeoKeys.
  *
  * Scale notes: `readInfo` touches only the header/IFD byte ranges
  * (driver-side planning metadata, like the reference's `open_ds`
  * header read); `decodeSegment` reads exactly one strip/tile's byte
  * range — the executor-side unit of work. One TIFF segment = one
  * Spark `InputPartition` in [[RasterSource]], so scans parallelize
  * over the block grid and pruned windows skip whole segments. Both
  * calls run through [[withRanges]]: plain paths via RandomAccessFile,
  * URI paths (`file://`/`hdfs://`/`s3a://`) via the Hadoop FileSystem
  * positioned-read API — the cluster deployment is a qualified path,
  * not a codec change.
  */
object GeoTiff {

  /** One strip or tile: byte range + its pixel-grid placement.
    * `band` = 0 for chunky segments (all bands interleaved); 1..n for
    * planar-configuration-2 segments, which carry exactly one band
    * (TIFF 6.0: component planes stored as separate strip/tile runs).
    */
  final case class Segment(offset: Long, byteCount: Long,
                           x0: Int, y0: Int, w: Int, h: Int, band: Int = 0)

  final case class Info(
      width: Int, height: Int, bands: Int,
      bitsPerSample: Int, sampleFormat: Int,
      compression: Int, predictor: Int, bigEndian: Boolean,
      nodata: Option[Double],
      pixelScale: Option[(Double, Double)],
      tiepoint: Option[Array[Double]],
      epsg: Option[Int],
      segments: Seq[Segment],
      jpegTables: Option[Array[Byte]] = None) {

    /** GDAL-convention geotransform from scale+tiepoint: raster point
      * (i,j) pins to geo (x,y); north-up with negative c5.
      */
    def gt: Option[GeoTransform] = for {
      (sx, sy) <- pixelScale
      t <- tiepoint
    } yield GeoTransform(t(3) - t(0) * sx, sx, 0, t(4) + t(1) * sy, 0, -sy)

    def dtypeName: String = (bitsPerSample, sampleFormat) match {
      case (8, 1) => "Byte"
      case (16, 2) => "Int16"
      case (16, 1) => "UInt16"
      case (32, 2) => "Int32"
      case (32, 3) => "Float32"
      case (64, 3) => "Float64"
      case (b, f) => s"bits${b}fmt$f"
    }
  }

  // TIFF tag ids
  private val TWidth = 256; private val TLength = 257
  private val TBits = 258; private val TCompression = 259
  private val TPhotometric = 262; private val TStripOffsets = 273
  private val TSamplesPerPixel = 277; private val TRowsPerStrip = 278
  private val TStripByteCounts = 279; private val TPlanarConfig = 284
  private val TPredictor = 317
  private val TTileWidth = 322; private val TTileLength = 323
  private val TTileOffsets = 324; private val TTileByteCounts = 325
  private val TSampleFormat = 339; private val TJpegTables = 347
  private val TModelPixelScale = 33550; private val TModelTiepoint = 33922
  private val TGeoKeyDir = 34735; private val TGdalNodata = 42113

  /** Parse header + first IFD (the base raster). */
  def readInfo(path: String): Info = readInfos(path).head

  /** Parse the WHOLE IFD chain: base raster + internal overview pages
    * (the in-file form of the reference's pyramid model — level k is a
    * 2^k downsample, numbering contract `gdalos_trans.py:72-79`).
    * Reads only the byte ranges it needs.
    */
  def readInfos(path: String): Seq[Info] = withRanges(path) { readAt =>
    {
      val head = readAt(0, 8)
      val be = head(0) == 'M' && head(1) == 'M'
      require(be || (head(0) == 'I' && head(1) == 'I'), "not a TIFF (bad byte order)")
      def u16(a: Array[Byte], o: Int): Int =
        if (be) ((a(o) & 0xff) << 8) | (a(o + 1) & 0xff)
        else ((a(o + 1) & 0xff) << 8) | (a(o) & 0xff)
      def u32(a: Array[Byte], o: Int): Long = {
        val (b0, b1, b2, b3) =
          if (be) (a(o), a(o + 1), a(o + 2), a(o + 3))
          else (a(o + 3), a(o + 2), a(o + 1), a(o))
        (((b0 & 0xffL) << 24) | ((b1 & 0xffL) << 16) | ((b2 & 0xffL) << 8) | (b3 & 0xffL))
      }
      def u64(a: Array[Byte], o: Int): Long =
        if (be) (u32(a, o) << 32) | u32(a, o + 4)
        else (u32(a, o + 4) << 32) | u32(a, o)
      val version = u16(head, 2)
      val big = version == 43 // BigTIFF
      require(version == 42 || big, s"not a TIFF (version $version)")
      if (big) require(u16(head, 4) == 8 && u16(head, 6) == 0,
        "malformed BigTIFF header (offset size must be 8)")
      // classic: 12-byte entries, 2-byte counts, 4-byte offsets;
      // BigTIFF: 20-byte entries, 8-byte counts, 8-byte offsets.
      val entrySize = if (big) 20 else 12
      val cntSize = if (big) 8 else 2
      val inlineCap = if (big) 8 else 4

      def parseIfd(ifdOff: Long): (Info, Long) = {
      val nEntries =
        (if (big) u64(readAt(ifdOff, 8), 0) else u16(readAt(ifdOff, 2), 0).toLong).toInt
      require(nEntries > 0 && nEntries < 65536, s"implausible IFD entry count $nEntries")
      val entries = readAt(ifdOff + cntSize, nEntries * entrySize)
      val nextOff = ifdOff + cntSize + nEntries.toLong * entrySize
      val nextIfd = if (big) u64(readAt(nextOff, 8), 0) else u32(readAt(nextOff, 4), 0)

      // tag → (type, count, position of the inline-value-or-offset field)
      final case class Entry(typ: Int, cnt: Int, at: Int)
      val tags = (0 until nEntries).map { i =>
        val o = i * entrySize
        val cnt = if (big) u64(entries, o + 4) else u32(entries, o + 4)
        u16(entries, o) -> Entry(u16(entries, o + 2), cnt.toInt, o + (if (big) 12 else 8))
      }.toMap

      val typeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 12 -> 8,
        16 -> 8, 17 -> 8, 18 -> 8) // LONG8 / SLONG8 / IFD8 (BigTIFF)
      def rawValues(e: Entry): Array[Byte] = {
        val sz = typeSize.getOrElse(e.typ, 1) * e.cnt
        if (sz <= inlineCap) entries.slice(e.at, e.at + sz)
        else readAt(if (big) u64(entries, e.at) else u32(entries, e.at), sz)
      }
      def longs(tag: Int): Option[Seq[Long]] = tags.get(tag).map { e =>
        val raw = rawValues(e)
        (0 until e.cnt).map { i =>
          e.typ match {
            case 3 => u16(raw, i * 2).toLong
            case 4 => u32(raw, i * 4)
            case 1 => (raw(i) & 0xff).toLong
            case 16 | 17 | 18 => u64(raw, i * 8)
            case t => throw new IllegalArgumentException(s"tag $tag: unexpected type $t")
          }
        }
      }
      def doubles(tag: Int): Option[Seq[Double]] = tags.get(tag).map { e =>
        require(e.typ == 12, s"tag $tag: expected DOUBLE, got type ${e.typ}")
        val raw = rawValues(e)
        (0 until e.cnt).map { i =>
          val hi = u32(raw, i * 8); val lo = u32(raw, i * 8 + 4)
          val bits = if (be) (hi << 32) | lo else (lo << 32) | hi
          java.lang.Double.longBitsToDouble(bits)
        }
      }
      def ascii(tag: Int): Option[String] = tags.get(tag).map { e =>
        new String(rawValues(e), "ASCII").takeWhile(c => c != 0 && c != ' ')
      }
      def single(tag: Int, default: Long): Long = longs(tag).map { vs =>
        require(vs.nonEmpty, s"tag $tag: zero-count value"); vs.head
      }.getOrElse(default)

      val w = single(TWidth, 0).toInt
      val h = single(TLength, 0).toInt
      require(w > 0 && h > 0, s"bad raster size ${w}x$h")
      val bands = single(TSamplesPerPixel, 1).toInt
      val bits = single(TBits, 8).toInt
      val fmt = single(TSampleFormat, 1).toInt
      val comp = single(TCompression, 1).toInt
      require(comp == 1 || comp == 5 || comp == 7 || comp == 8 || comp == 32773
          || comp == 32946,
        s"unsupported compression $comp (only none/LZW/JPEG/DEFLATE/PackBits)")
      require(comp != 7 || (bits == 8 && fmt == 1),
        "JPEG-in-TIFF requires 8-bit unsigned samples")
      val pred = single(TPredictor, 1).toInt
      require(pred == 1 || pred == 2 || pred == 3, s"unsupported predictor $pred")
      require(pred != 3 || fmt == 3,
        "predictor 3 (floating-point differencing) requires float samples")
      require(comp != 7 || pred == 1, "JPEG pages never carry a predictor")
      val planar = single(TPlanarConfig, 1).toInt
      require(planar == 1 || planar == 2, s"unsupported planar config $planar")
      require(planar == 1 || comp != 7, "planar JPEG pages unsupported")
      // planar config 2: each segment carries ONE band; the
      // strip/tile arrays concatenate the per-band plane runs
      // (all of band 1's segments, then band 2's, …)
      val tiled = tags.contains(TTileOffsets)
      def req(tag: Int): Seq[Long] = longs(tag).getOrElse(
        throw new IllegalArgumentException(s"missing required tag $tag"))
      val segments: Seq[Segment] =
        if (tiled) {
          val tw = single(TTileWidth, 0).toInt
          val th = single(TTileLength, 0).toInt
          val offs = req(TTileOffsets)
          val cnts = req(TTileByteCounts)
          val tilesAcross = (w + tw - 1) / tw
          val tilesDown = (h + th - 1) / th
          val perBand = tilesAcross * tilesDown
          offs.indices.map { i =>
            val (j, band) =
              if (planar == 2 && bands > 1) (i % perBand, i / perBand + 1) else (i, 0)
            Segment(offs(i), cnts(i), (j % tilesAcross) * tw, (j / tilesAcross) * th,
              tw, th, band)
          }
        } else {
          val rps = math.min(single(TRowsPerStrip, h), h).toInt
          val offs = req(TStripOffsets)
          val cnts = req(TStripByteCounts)
          val perBand = (h + rps - 1) / rps
          offs.indices.map { i =>
            val (j, band) =
              if (planar == 2 && bands > 1) (i % perBand, i / perBand + 1) else (i, 0)
            Segment(offs(i), cnts(i), 0, j * rps, w, math.min(rps, h - j * rps), band)
          }
        }

      // GeoKey directory: (KeyID, TIFFTagLocation, Count, Value)
      // quadruples after the 4-short header; location 0 = inline value.
      // GeographicTypeGeoKey 2048 / ProjectedCSTypeGeoKey 3072.
      val epsg = longs(TGeoKeyDir).flatMap { keys =>
        val quads = keys.drop(4).grouped(4).toSeq
        def keyVal(id: Long) = quads.collectFirst {
          case Seq(`id`, 0L, 1L, v) => v.toInt
        }
        keyVal(3072).orElse(keyVal(2048))
      }

      (Info(w, h, bands, bits, fmt, comp, pred, be,
        nodata = ascii(TGdalNodata).flatMap(s => s.trim.toDoubleOption),
        pixelScale = doubles(TModelPixelScale).map(s => (s(0), s(1))),
        tiepoint = doubles(TModelTiepoint).map(_.toArray),
        epsg = epsg, segments = segments,
        jpegTables = tags.get(TJpegTables).map(rawValues)), nextIfd)
      } // parseIfd

      val out = Seq.newBuilder[Info]
      var off = if (big) u64(readAt(8, 8), 0) else u32(head, 4)
      var guard = 0
      while (off != 0 && guard < 64) { // 64-page guard vs cyclic chains
        val (info, nxt) = parseIfd(off)
        out += info; off = nxt; guard += 1
      }
      out.result()
    }
  }

  /** The byte-range seam: every read in this codec is (offset, length)
    * → bytes. Plain paths use RandomAccessFile; URI paths (`file://`,
    * `hdfs://`, `s3a://`, …) route the SAME two calls through the
    * Hadoop FileSystem API (positioned `readFully` on
    * FSDataInputStream), so a cluster deployment needs no codec
    * change — just a qualified path.
    */
  private def withRanges[T](path: String)(body: ((Long, Int) => Array[Byte]) => T): T =
    if (path.contains("://")) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val in = fs.open(p)
      try body { (off, len) =>
        val b = new Array[Byte](len); in.readFully(off, b, 0, len); b
      } finally in.close()
    } else {
      val f = new RandomAccessFile(path, "r")
      try body { (off, len) =>
        val b = new Array[Byte](len); f.seek(off); f.readFully(b); b
      } finally f.close()
    }

  /** Decode one strip/tile to row-major doubles (band-interleaved for
    * multi-band chunky): value of band b (1-based) at segment-local
    * (x,y) is `out((y*seg.w + x)*bands + b-1)`. A planar segment
    * (`seg.band > 0`) holds exactly one band: `out(y*seg.w + x)`.
    * Edge segments keep their full nominal size; pixels beyond the
    * raster edge are padding (caller clips by global px/py).
    */
  def decodeSegment(path: String, info: Info, seg: Segment): Array[Double] = {
    val raw = withRanges(path)(readAt => readAt(seg.offset, seg.byteCount.toInt))
    val bytesPerSample = info.bitsPerSample / 8
    val segBands = if (seg.band > 0) 1 else info.bands
    val nSamples = seg.w * seg.h * segBands
    if (info.compression == 7) return jpegDecode(raw, info, seg)
    val data = info.compression match {
      case 1 => raw
      case 5 => lzwDecode(raw, nSamples * bytesPerSample)
      case 32773 => packBitsDecode(raw, nSamples * bytesPerSample)
      case _ => inflate(raw, nSamples * bytesPerSample)
    }

    if (info.predictor == 2) {
      // horizontal differencing is defined on integer samples only
      // (floating-point data uses predictor 3)
      require(info.sampleFormat != 3,
        "predictor 2 on floating-point samples is invalid (use predictor 3)")
      undiffRows(data, seg.w, seg.h, segBands, bytesPerSample, info.bigEndian)
    } else if (info.predictor == 3) {
      fpUndiffRows(data, seg.w, seg.h, segBands, bytesPerSample, info.bigEndian)
    }

    val out = new Array[Double](nSamples)
    val be = info.bigEndian
    var i = 0
    while (i < nSamples) {
      val o = i * bytesPerSample
      out(i) = (info.bitsPerSample, info.sampleFormat) match {
        case (8, _) => (data(o) & 0xff).toDouble
        case (16, 2) => readS16(data, o, be).toDouble
        case (16, 1) => (readS16(data, o, be) & 0xffff).toDouble
        case (32, 2) => readS32(data, o, be).toDouble
        case (32, 3) => java.lang.Float.intBitsToFloat(readS32(data, o, be)).toDouble
        case (64, 3) =>
          // word order follows byte order: BE stores the high 32 bits
          // first, LE the low 32 bits first (mirrors doubles() above)
          val w0 = readS32(data, o, be); val w1 = readS32(data, o + 4, be)
          val bits = if (be) (w0.toLong << 32) | (w1 & 0xffffffffL)
                     else (w1.toLong << 32) | (w0 & 0xffffffffL)
          java.lang.Double.longBitsToDouble(bits)
        case (b, sf) => throw new IllegalArgumentException(s"unsupported sample bits=$b fmt=$sf")
      }
      i += 1
    }
    out
  }

  /** Undo TIFF predictor 2 (horizontal differencing) in place:
    * sample[x] += sample[x-1] within each row, per band, on the
    * integer sample width.
    */
  private def undiffRows(data: Array[Byte], w: Int, h: Int, bands: Int,
                         bps: Int, be: Boolean): Unit = {
    val rowSamples = w * bands
    var y = 0
    while (y < h) {
      var x = bands // first pixel of the row is the seed
      while (x < rowSamples) {
        val o = (y * rowSamples + x) * bps
        val p = (y * rowSamples + x - bands) * bps
        bps match {
          case 1 => data(o) = ((data(o) & 0xff) + (data(p) & 0xff)).toByte
          case 2 =>
            val v = (readS16(data, o, be) + readS16(data, p, be)).toShort
            writeS16(data, o, v, be)
          case 4 =>
            val v = readS32(data, o, be) + readS32(data, p, be)
            writeS32(data, o, v, be)
          case other => throw new IllegalArgumentException(s"predictor on $other-byte samples")
        }
        x += 1
      }
      y += 1
    }
  }

  /** Decode one JPEG-compressed page segment (compression 7 — the
    * reference's photo-kind lossy path, `gdalos_trans.py:426-459`
    * JPEG+YCBCR). Each segment is a self-contained JPEG stream, or an
    * abbreviated stream sharing Huffman/quant tables via the
    * JPEGTables tag (347): merged as tables-minus-EOI +
    * tile-minus-SOI, the standard TIFF-EP concatenation. Entropy
    * decoding delegates to the JDK's ImageIO JPEG reader (baseline
    * DCT, YCbCr→RGB handled there); exotic variants fail its decode
    * and are rejected, not mis-read.
    */
  private def jpegDecode(raw: Array[Byte], info: Info, seg: Segment): Array[Double] = {
    // TIFF-EP concatenation only applies to conforming blobs: tables
    // must end with EOI (FFD9) and the segment start with SOI (FFD8) —
    // otherwise splicing produces garbage that ImageIO rejects with a
    // misleading "undecodable" error; fall back to the raw segment so
    // self-contained streams still decode and bad ones fail loudly.
    def hasMarker(a: Array[Byte], at: Int, m: Int) =
      at >= 0 && at + 1 < a.length && (a(at) & 0xff) == 0xff && (a(at + 1) & 0xff) == m
    val stream = info.jpegTables match {
      case Some(t) if t.length >= 4 && hasMarker(t, t.length - 2, 0xd9) &&
          raw.length >= 2 && hasMarker(raw, 0, 0xd8) =>
        val merged = new Array[Byte](t.length - 2 + raw.length - 2)
        System.arraycopy(t, 0, merged, 0, t.length - 2)
        System.arraycopy(raw, 2, merged, t.length - 2, raw.length - 2)
        merged
      case _ => raw
    }
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(stream))
    require(img != null, "undecodable JPEG segment")
    val r = img.getRaster
    require(r.getNumBands == info.bands,
      s"JPEG component count ${r.getNumBands} != declared bands ${info.bands}")
    val out = new Array[Double](seg.w * seg.h * info.bands)
    val w = math.min(seg.w, img.getWidth); val h = math.min(seg.h, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < info.bands) {
          out((y * seg.w + x) * info.bands + b) = r.getSample(x, y, b).toDouble
          b += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Encode one page segment as a self-contained baseline JPEG via the
    * JDK's ImageIO writer at a FIXED quality (deterministic bytes).
    * Band 0..2 map to R,G,B (TYPE_3BYTE_BGR's sample model exposes
    * band 0 = red); single band → grayscale.
    */
  private def jpegEncode(raw: Array[Byte], w: Int, h: Int, bands: Int): Array[Byte] = {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(w, h,
      if (bands >= 3) BufferedImage.TYPE_3BYTE_BGR else BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < bands) {
          r.setSample(x, y, b, raw((y * w + x) * bands + b) & 0xff)
          b += 1
        }
        x += 1
      }
      y += 1
    }
    val wtr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = wtr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.9f)
    val bos = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wtr.setOutput(ios)
    wtr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    wtr.dispose(); ios.close()
    bos.toByteArray
  }

  /** Undo TIFF predictor 3 (floating-point differencing, libtiff
    * `tif_predict.c` fpAcc): each encoded row holds the samples' bytes
    * split into `bps` byte planes — plane 0 is the MOST significant
    * byte of every sample, plane bps−1 the least — with bytewise
    * horizontal differencing (stride = samples per pixel) run across
    * the whole planar row buffer. Decode = accumulate, then
    * re-interleave planes into the file's declared byte order so the
    * normal sample readers apply unchanged.
    */
  private def fpUndiffRows(data: Array[Byte], w: Int, h: Int, bands: Int,
                           bps: Int, be: Boolean): Unit = {
    val wc = w * bands            // samples per row
    val rowLen = wc * bps         // bytes per row
    val tmp = new Array[Byte](rowLen)
    var y = 0
    while (y < h) {
      val ro = y * rowLen
      // 1. bytewise horizontal accumulate across the planar row
      var i = bands
      while (i < rowLen) {
        data(ro + i) = ((data(ro + i) & 0xff) + (data(ro + i - bands) & 0xff)).toByte
        i += 1
      }
      // 2. planes → interleaved samples (plane 0 = MSB)
      System.arraycopy(data, ro, tmp, 0, rowLen)
      var count = 0
      while (count < wc) {
        var b = 0
        while (b < bps) {
          val dst = count * bps + (if (be) b else bps - 1 - b)
          data(ro + dst) = tmp(b * wc + count)
          b += 1
        }
        count += 1
      }
      y += 1
    }
  }

  /** Apply TIFF predictor 3 (fpDiff) in place on little-endian
    * interleaved rows: split each row into MSB-first byte planes, then
    * bytewise-difference with stride = samples per pixel.
    */
  private def fpDiffRows(data: Array[Byte], w: Int, rows: Int, bands: Int,
                         bps: Int): Unit = {
    val wc = w * bands
    val rowLen = wc * bps
    val tmp = new Array[Byte](rowLen)
    var y = 0
    while (y < rows) {
      val ro = y * rowLen
      var count = 0
      while (count < wc) { // LE interleaved → MSB-first planes
        var b = 0
        while (b < bps) {
          tmp(b * wc + count) = data(ro + count * bps + (bps - 1 - b))
          b += 1
        }
        count += 1
      }
      var i = rowLen - 1
      while (i >= bands) {
        tmp(i) = ((tmp(i) & 0xff) - (tmp(i - bands) & 0xff)).toByte
        i -= 1
      }
      System.arraycopy(tmp, 0, data, ro, rowLen)
      y += 1
    }
  }

  private def readS16(a: Array[Byte], o: Int, be: Boolean): Short =
    if (be) (((a(o) & 0xff) << 8) | (a(o + 1) & 0xff)).toShort
    else (((a(o + 1) & 0xff) << 8) | (a(o) & 0xff)).toShort
  private def writeS16(a: Array[Byte], o: Int, v: Short, be: Boolean): Unit =
    if (be) { a(o) = (v >> 8).toByte; a(o + 1) = v.toByte }
    else { a(o + 1) = (v >> 8).toByte; a(o) = v.toByte }
  private def readS32(a: Array[Byte], o: Int, be: Boolean): Int =
    if (be) ((a(o) & 0xff) << 24) | ((a(o + 1) & 0xff) << 16) | ((a(o + 2) & 0xff) << 8) | (a(o + 3) & 0xff)
    else ((a(o + 3) & 0xff) << 24) | ((a(o + 2) & 0xff) << 16) | ((a(o + 1) & 0xff) << 8) | (a(o) & 0xff)
  private def writeS32(a: Array[Byte], o: Int, v: Int, be: Boolean): Unit =
    if (be) { a(o) = (v >>> 24).toByte; a(o + 1) = (v >>> 16).toByte; a(o + 2) = (v >>> 8).toByte; a(o + 3) = v.toByte }
    else { a(o + 3) = (v >>> 24).toByte; a(o + 2) = (v >>> 16).toByte; a(o + 1) = (v >>> 8).toByte; a(o) = v.toByte }

  /** TIFF LZW decode (compression 5): MSB-first codes, 9→12-bit
    * widths with TIFF's EARLY CHANGE (width grows when the next free
    * code is 2^w − 1, one earlier than plain LZW), Clear=256, EOI=257,
    * dictionary entries from 258. Decodes exactly `expected` bytes.
    */
  private[sources] def lzwDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    val Clear = 256; val Eoi = 257
    val out = new Array[Byte](expected)
    var outPos = 0
    // dictionary as (prefix code, appended byte); literals implicit
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = 258
    var width = 9
    var bitPos = 0L
    val nBits = data.length.toLong * 8
    def readCode(): Int = {
      if (bitPos + width > nBits) return Eoi // truncated stream → stop
      var v = 0
      var i = 0
      while (i < width) {
        val b = (data((bitPos >> 3).toInt) >> (7 - (bitPos & 7)).toInt) & 1
        v = (v << 1) | b
        bitPos += 1; i += 1
      }
      v
    }
    def emit(code: Int): Int = { // writes the string of `code`, returns its first byte
      if (code < 256) {
        require(outPos < expected, "LZW output overflow")
        out(outPos) = code.toByte; outPos += 1; code
      } else {
        require(code < next, s"LZW: code $code beyond dictionary $next")
        val first = emit(prefix(code))
        require(outPos < expected, "LZW output overflow")
        out(outPos) = suffix(code); outPos += 1
        first
      }
    }
    var prev = -1
    var done = false
    while (!done && outPos < expected) {
      val code = readCode()
      if (code == Eoi) done = true
      else if (code == Clear) { next = 258; width = 9; prev = -1 }
      else if (prev < 0) { // first code after (re)start is a literal
        require(code < 256, s"LZW: non-literal first code $code")
        emit(code); prev = code
      } else {
        require(code <= next && code != Clear && code != Eoi,
          s"LZW: invalid code $code (next=$next)")
        if (code == next) { // KwKwK: string = prev-string + its first byte
          require(next < 4096, "LZW: dictionary overflow")
          prefix(next) = prev
          suffix(next) = firstByte(prefix, suffix, prev)
          next += 1
          emit(code)
        } else {
          val first = emit(code)
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = first.toByte; next += 1
          }
        }
        prev = code
        if (next == (1 << width) - 1 && width < 12) width += 1 // early change
      }
    }
    require(outPos == expected, s"LZW: short output $outPos of $expected")
    out
  }

  private def firstByte(prefix: Array[Int], suffix: Array[Byte], code: Int): Byte = {
    var c = code
    while (c >= 256) c = prefix(c)
    c.toByte
  }

  /** TIFF LZW encode (greedy longest-match, Clear at start and on a
    * full table, EOI at end; early-change width growth mirrors
    * [[lzwDecode]]).
    */
  private[sources] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val Clear = 256; val Eoi = 257
    val out = new ByteArrayOutputStream()
    var cur = 0; var curBits = 0
    var width = 9
    def write(code: Int): Unit = {
      cur = (cur << width) | code; curBits += width
      while (curBits >= 8) {
        out.write((cur >> (curBits - 8)) & 0xff); curBits -= 8
      }
      cur &= (1 << curBits) - 1
    }
    val dict = new java.util.HashMap[Integer, Integer](8192)
    var next = 258
    def reset(): Unit = { dict.clear(); next = 258; width = 9 }
    write(Clear); reset()
    var run = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (run < 0) run = b
      else {
        val key = (run << 8) | b
        val hit = dict.get(key)
        if (hit != null) run = hit
        else {
          write(run)
          dict.put(key, next); next += 1
          // libtiff width pair: the encoder widens when the next free
          // entry EXCEEDS 2^w - 1; the decoder (one entry behind at
          // read time) widens when it exceeds 2^w - 2 — TIFF's early
          // change. Both sides then flip widths between the same two
          // codes of the stream.
          if (next > (1 << width) - 1 && width < 12) width += 1
          if (next == 4094) { write(Clear); reset() }
          run = b
        }
      }
      i += 1
    }
    if (run >= 0) write(run)
    write(Eoi)
    if (curBits > 0) out.write((cur << (8 - curBits)) & 0xff)
    out.toByteArray
  }

  /** PackBits decode (compression 32773, TIFF 6.0 §9). */
  private[sources] def packBitsDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = 0; var o = 0
    while (o < expected && i < data.length) {
      val n = data(i); i += 1
      if (n >= 0) { // copy n+1 literals
        val cnt = n + 1
        require(i + cnt <= data.length && o + cnt <= expected, "PackBits overrun")
        System.arraycopy(data, i, out, o, cnt); i += cnt; o += cnt
      } else if (n != -128) { // repeat next byte 1-n times
        val cnt = 1 - n
        require(i < data.length && o + cnt <= expected, "PackBits overrun")
        java.util.Arrays.fill(out, o, o + cnt, data(i)); i += 1; o += cnt
      } // -128: no-op
    }
    require(o == expected, s"PackBits: short output $o of $expected")
    out
  }

  /** PackBits encode: repeat runs (≥2 equal bytes) + literal runs. */
  private[sources] def packBitsEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      var r = i + 1
      while (r < data.length && data(r) == data(i) && r - i < 128) r += 1
      if (r - i >= 2) { // repeat run
        out.write(1 - (r - i)); out.write(data(i)); i = r
      } else { // literals until the next repeat pair (or the 128 cap)
        var e = i + 1
        while (e < data.length && e - i < 128 &&
               !(e + 1 < data.length && data(e) == data(e + 1))) e += 1
        out.write((e - i) - 1); out.write(data, i, e - i); i = e
      }
    }
    out.toByteArray
  }

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var off = 0
    while (off < expected && !inf.finished()) {
      val n =
        try inf.inflate(out, off, expected - off)
        catch { case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(s"corrupt deflate stream: ${e.getMessage}") }
      require(n > 0 || !(inf.needsInput() || inf.needsDictionary()),
        s"truncated deflate stream: $off of $expected")
      off += n
    }
    inf.end()
    // short final strip data is legal only when uncompressed size was
    // overestimated; we size exactly, so demand a full buffer
    require(off == expected, s"short inflate: $off of $expected")
    out
  }

  // ------------------------------ writer ------------------------------

  /** Sample encodings the writer supports. */
  sealed abstract class DType(val bits: Int, val fmt: Int)
  case object DtByte extends DType(8, 1)
  case object DtInt16 extends DType(16, 2)
  case object DtFloat32 extends DType(32, 3)
  case object DtFloat64 extends DType(64, 3)

  /** CRS identity for written GeoKeys. Geographic grids emit
    * GTModelType=2 + GeographicTypeGeoKey(2048); projected grids emit
    * GTModelType=1 + ProjectedCSTypeGeoKey(3072) — so a UTM-meter
    * export is never mislabeled as WGS84 degrees.
    */
  final case class CrsTag(epsg: Int, geographic: Boolean)
  object CrsTag {
    val Wgs84Geo: CrsTag = CrsTag(4326, geographic = true)
    /** EPSG 4000–4999 is the geographic-2D block (4326 WGS84, 4230
      * ED50, …); everything else we write (326xx/327xx WGS84 UTM,
      * 230xx ED50 UTM) is projected.
      */
    def fromEpsg(epsg: Int): CrsTag = CrsTag(epsg, geographic = epsg >= 4000 && epsg < 5000)
  }

  /** Encode a single-band row-major raster as a little-endian striped
    * DEFLATE GeoTIFF with geotransform + nodata metadata. A bounded
    * driver-side sink, like the reference writing one output dataset
    * per job — big rasters stay in the distributed tile layout (A3
    * parquet COG); this materializes exports/fixtures.
    */
  def encode(w: Int, h: Int, values: Array[Double], dtype: DType,
             gt: GeoTransform, nodata: Option[Double] = None,
             rowsPerStrip: Int = 64, predictor: Int = 1,
             crs: CrsTag = CrsTag.Wgs84Geo): Array[Byte] =
    encodePyramid(Seq((w, h, values)), dtype, gt, nodata, rowsPerStrip, predictor, crs)

  /** Encode a base raster plus overview pages as a multi-IFD GeoTIFF —
    * the in-file form of the reference's pyramid (`gdalos_ovr`
    * internal-overview mode, `gdalos_trans.py:1097-1136`): page 0 is
    * the base with geo tags; page k (marked ReducedImage via
    * NewSubfileType=1) is the 2^k downsample. [[readInfos]] walks the
    * chain back.
    *
    * `tileSize > 0` writes TILED pages instead of strips (TIFF 6.0
    * tiles, multiple of 16; edge tiles padded with the nodata value) —
    * tiled pages + internal overviews is the Cloud-Optimized-GeoTIFF
    * layout contract (`gdalos_trans.py:773-816` `COG` driver options),
    * and each tile is an independently-fetchable byte range = one
    * [[RasterSource]] InputPartition.
    */
  def encodePyramid(pages: Seq[(Int, Int, Array[Double])], dtype: DType,
                    gt: GeoTransform, nodata: Option[Double] = None,
                    rowsPerStrip: Int = 64, predictor: Int = 1,
                    crs: CrsTag = CrsTag.Wgs84Geo, tileSize: Int = 0,
                    compression: Int = 8, bands: Int = 1,
                    bigTiff: Boolean = false): Array[Byte] = {
    pages.zipWithIndex.foreach { case ((w, h, values), i) =>
      require(values.length == w.toLong * h * bands,
        s"page $i: expected ${w.toLong * h * bands} values (chunky), got ${values.length}")
    }
    val out = new ByteArrayOutputStream()
    writePyramidImpl(out,
      pages.map { case (w, h, values) => StreamPage(w, h, i => values(i.toInt)) },
      dtype, gt, nodata, rowsPerStrip, predictor, crs, tileSize, compression,
      bands, bigTiff, materialize = true, maxBytes = Int.MaxValue.toLong)
    out.toByteArray
  }

  /** A lazily-valued page for [[writePyramid]]: `at(i)` returns the
    * sample at chunky index `i = (y*w + x)*bands + b` — backed by an
    * array, a memory-mapped source, a tile cache, whatever the caller
    * has. The writer pulls each sample exactly twice (sizing pass +
    * streaming pass).
    */
  final case class StreamPage(w: Int, h: Int, at: Long => Double)

  /** STREAMING twin of [[encodePyramid]]: identical byte layout
    * (`header | page0 IFD | ext | segments | page1 …`), pushed to an
    * `OutputStream` with BOUNDED heap — the >2 GiB / BigTIFF export
    * path the in-memory encoder refuses (COG output contract,
    * `gdalos_trans.py:773-816`). It runs TWO segment passes: pass 1
    * compresses every page's segments to learn the byte counts the
    * IFDs (written BEFORE the segment data) must carry, pass 2
    * recompresses and streams — peak heap is one raw+compressed
    * segment plus the O(nSegments) offset arrays, never the file and
    * never a full page. Deterministic codecs (LZW/DEFLATE/PackBits/JPEG
    * here) make the two passes agree, so output is byte-identical to
    * [[encodePyramid]] on the same inputs (GeoTiffSpec pins this).
    * Classic (non-Big) TIFF offsets are checked against the u32 limit
    * before any byte is written, instead of silently truncating.
    * Returns total bytes written.
    */
  def writePyramid(out: java.io.OutputStream, pages: Seq[StreamPage],
                   dtype: DType, gt: GeoTransform, nodata: Option[Double] = None,
                   rowsPerStrip: Int = 64, predictor: Int = 1,
                   crs: CrsTag = CrsTag.Wgs84Geo, tileSize: Int = 0,
                   compression: Int = 8, bands: Int = 1,
                   bigTiff: Boolean = false): Long =
    writePyramidImpl(out, pages, dtype, gt, nodata, rowsPerStrip, predictor,
      crs, tileSize, compression, bands, bigTiff, materialize = false,
      maxBytes = Long.MaxValue)

  private final case class IfdTag(id: Int, typ: Int, cnt: Int,
                                  inline: Option[Long], ext: Option[Array[Byte]])

  private def leBytes(vs: Seq[Long], typ: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val width = typ match { case 3 => 2; case 16 => 8; case _ => 4 }
    vs.foreach { v =>
      (0 until width).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    }
    out.toByteArray
  }

  private def dblBytes(vs: Seq[Double]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    vs.foreach { v =>
      val bits = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => out.write(((bits >> (8 * i)) & 0xff).toInt))
    }
    out.toByteArray
  }

  /** One little-endian sample at chunky byte index `i*bps` — the
    * writer's sample packing, shared by the in-JVM pyramid writer and
    * the executor-side sharded tile encoder.
    */
  private[sources] def writeSampleLE(raw: Array[Byte], i: Int, v: Double,
                                     dtype: DType): Unit = dtype match {
    case DtByte => raw(i) = v.toInt.toByte
    case DtInt16 => writeS16(raw, i * 2, v.toInt.toShort, be = false)
    case DtFloat32 => writeS32(raw, i * 4, java.lang.Float.floatToIntBits(v.toFloat), be = false)
    case DtFloat64 =>
      // LE word order: low 32 bits first (see decodeSegment)
      val bits = java.lang.Double.doubleToLongBits(v)
      writeS32(raw, i * 8, bits.toInt, be = false)
      writeS32(raw, i * 8 + 4, (bits >>> 32).toInt, be = false)
  }

  /** The writer's segment tail: predictor, then codec, for one packed
    * segment of `w × rows` chunky pixels (`raw` is differenced in
    * place). The one codec dispatch of the strip path, the tile path
    * and the executor-side [[encodeTileSegment]]; JPEG takes the
    * segment's dimensions, so it is encoded per segment here too.
    */
  private def compressSeg(raw: Array[Byte], w: Int, rows: Int, bands: Int,
                          bps: Int, predictor: Int, compression: Int): Array[Byte] = {
    if (predictor == 2) diffRows(raw, w, rows, bps)
    else if (predictor == 3) fpDiffRows(raw, w, rows, bands, bps)
    compression match {
      case 1 => raw
      case 5 => lzwEncode(raw)
      case 7 => jpegEncode(raw, w, rows, bands)
      case 8 => deflate(raw)
      case 32773 => packBitsEncode(raw)
      case other => throw new IllegalArgumentException(
        s"unsupported write compression $other (none/LZW/JPEG/DEFLATE/PackBits)")
    }
  }

  private def tiffHeader(bigTiff: Boolean): Array[Byte] = {
    val header = new ByteArrayOutputStream()
    header.write('I'); header.write('I')
    if (bigTiff) {
      header.write(43); header.write(0)
      header.write(8); header.write(0)  // offset size
      header.write(0); header.write(0)  // reserved
      header.write(leBytes(Seq(16L), 16)) // first IFD at 16 (u64)
    } else {
      header.write(42); header.write(0)
      header.write(leBytes(Seq(8L), 4)) // first IFD at 8
    }
    header.toByteArray
  }

  /** IFD + external tag data of one page laid out at `base` with the
    * given compressed segment byte counts; segment data follows the
    * block immediately. Returns (block bytes, offset WITHIN the block
    * of the next-IFD pointer) for [[tiffBlocks]] to chain.
    */
  private def pageBlock(pageIdx: Int, w: Int, h: Int, stripSizes: Seq[Long],
                        base: Long, dtype: DType, gt: GeoTransform,
                        nodata: Option[Double], rowsPerStrip: Int,
                        predictor: Int, crs: CrsTag, tileSize: Int,
                        compression: Int, bands: Int,
                        bigTiff: Boolean): (Array[Byte], Int) = {
    val offTyp = if (bigTiff) 16 else 4
    val ptrSz = if (bigTiff) 8 else 4
    val inlineCap = if (bigTiff) 8 else 4
    val entrySz = if (bigTiff) 20 else 12
    val cntSz = if (bigTiff) 8 else 2
    val tiled = tileSize > 0
    val nStrips = stripSizes.length
    val segOffTag = if (tiled) TTileOffsets else TStripOffsets

    val ascii = nodata.map(nd =>
      (if (nd == nd.floor && nd.abs < 1e15) nd.toLong.toString else nd.toString) + " ")
    val pixelScale = Seq(gt.c1, -gt.c5, 0.0)
    val tiepoint = Seq(0.0, 0.0, 0.0, gt.c0, gt.c3, 0.0)
    val geoKeys: Seq[Long] =
      if (crs.geographic) Seq(1, 1, 0, 2, // version, 2 keys
        1024, 0, 1, 2, // GTModelType = geographic
        2048, 0, 1, crs.epsg.toLong) // GeographicTypeGeoKey
      else Seq(1, 1, 0, 2,
        1024, 0, 1, 1, // GTModelType = projected
        3072, 0, 1, crs.epsg.toLong) // ProjectedCSTypeGeoKey

    val segTags =
      if (tiled) Seq(
        IfdTag(TTileWidth, 3, 1, Some(tileSize.toLong), None),
        IfdTag(TTileLength, 3, 1, Some(tileSize.toLong), None),
        IfdTag(TTileOffsets, offTyp, nStrips, None, Some(new Array[Byte](nStrips * ptrSz))),
        IfdTag(TTileByteCounts, offTyp, nStrips, None, Some(leBytes(stripSizes, offTyp))))
      else Seq(
        IfdTag(TStripOffsets, offTyp, nStrips, None, Some(new Array[Byte](nStrips * ptrSz))),
        IfdTag(TRowsPerStrip, 3, 1, Some(rowsPerStrip.toLong), None),
        IfdTag(TStripByteCounts, offTyp, nStrips, None, Some(leBytes(stripSizes, offTyp))))
    // per-band counts for BitsPerSample/SampleFormat (TIFF 6.0);
    // 1-2 shorts fit the inline value field, 3+ go external
    def perBand(tag: Int, v: Long): IfdTag =
      if (bands == 1) IfdTag(tag, 3, 1, Some(v), None)
      else IfdTag(tag, 3, bands, None, Some(leBytes(Seq.fill(bands)(v), 3)))
    var tags = Seq(
      IfdTag(TWidth, 3, 1, Some(w.toLong), None),
      IfdTag(TLength, 3, 1, Some(h.toLong), None),
      perBand(TBits, dtype.bits.toLong),
      IfdTag(TCompression, 3, 1, Some(compression.toLong), None),
      // RGB(2) vs min-is-black(1); JPEG RGB pages are YCbCr(6) — the
      // reference's photo-kind JPEG+YCBCR pairing (gdalos_trans.py:426-459)
      IfdTag(TPhotometric, 3, 1,
        Some(if (bands >= 3) (if (compression == 7) 6L else 2L) else 1L), None),
      IfdTag(TSamplesPerPixel, 3, 1, Some(bands.toLong), None),
      IfdTag(TPlanarConfig, 3, 1, Some(1L), None), // chunky
      IfdTag(TPredictor, 3, 1, Some(predictor.toLong), None),
      perBand(TSampleFormat, dtype.fmt.toLong)) ++ segTags
    if (pageIdx == 0) {
      tags = tags ++ Seq(
        IfdTag(TModelPixelScale, 12, 3, None, Some(dblBytes(pixelScale))),
        IfdTag(TModelTiepoint, 12, 6, None, Some(dblBytes(tiepoint))),
        IfdTag(TGeoKeyDir, 3, geoKeys.length, None, Some(leBytes(geoKeys, 3))))
      ascii.foreach { s =>
        tags = tags :+ IfdTag(TGdalNodata, 2, s.length, None, Some(s.getBytes("ASCII")))
      }
    } else {
      tags = tags :+ IfdTag(254, 4, 1, Some(1L), None) // NewSubfileType = ReducedImage
    }
    tags = tags.sortBy(_.id) // TIFF requires ascending tag order

    // layout inside the block: IFD | external tag data | strip data
    val ifdSize = cntSz + tags.length * entrySz + ptrSz
    var extOff = base + ifdSize
    val extOffsets = tags.map { t =>
      t.ext match {
        case Some(b) if b.length > inlineCap => val o = extOff; extOff += b.length; Some(o)
        case _ => None
      }
    }
    var stripOff = extOff
    val stripOffsets = stripSizes.map { sz => val o = stripOff; stripOff += sz; o }
    if (!bigTiff) require(stripOff <= 0xFFFFFFFFL,
      s"classic TIFF offsets overflow the u32 limit at $stripOff bytes — set bigTiff=true")
    val soIdx = tags.indexWhere(_.id == segOffTag)
    val soBytes = leBytes(stripOffsets, offTyp)
    System.arraycopy(soBytes, 0, tags(soIdx).ext.get, 0, soBytes.length)

    val outB = new ByteArrayOutputStream()
    outB.write(leBytes(Seq(tags.length.toLong), if (bigTiff) 16 else 3),
      0, cntSz)
    tags.zip(extOffsets).foreach { case (t, ext) =>
      outB.write(leBytes(Seq(t.id.toLong), 3))
      outB.write(leBytes(Seq(t.typ.toLong), 3))
      outB.write(leBytes(Seq(t.cnt.toLong), if (bigTiff) 16 else 4))
      val valueField: Array[Byte] = (t.inline, t.ext, ext) match {
        case (Some(v), _, _) =>
          leBytes(Seq(v), if (t.typ == 3) 3 else 4).padTo(inlineCap, 0.toByte)
        case (_, Some(b), None) => b.padTo(inlineCap, 0.toByte) // short external fits inline
        case (_, _, Some(o)) => leBytes(Seq(o), offTyp)
        case _ => Array.fill(inlineCap)(0.toByte)
      }
      outB.write(valueField, 0, inlineCap)
    }
    outB.write(leBytes(Seq(0L), offTyp)) // next IFD — patched by the chain
    tags.zip(extOffsets).foreach {
      case (t, Some(_)) => outB.write(t.ext.get)
      case _ => ()
    }
    (outB.toByteArray, cntSz + tags.length * entrySz)
  }

  /** Encode ONE tile's compressed TIFF segment from its padded sample
    * array (`tileSize²` row-major doubles, single band) — the
    * EXECUTOR-side piece of the sharded export, with no driver
    * involvement: the same packing and [[compressSeg]] tail as
    * [[writePyramid]]'s tiled path, so the bytes match it for the same
    * samples. JPEG is refused: its edge tiles replicate the border
    * pixel, which one padded tile cannot.
    */
  def encodeTileSegment(vals: Array[Double], tileSize: Int, dtype: DType,
                        predictor: Int = 1, compression: Int = 8): Array[Byte] = {
    require(vals.length == tileSize * tileSize,
      s"expected ${tileSize * tileSize} samples, got ${vals.length}")
    require(compression != 7, "JPEG tiles are written by writePyramid only")
    val bps = dtype.bits / 8
    val raw = new Array[Byte](vals.length * bps)
    var i = 0
    while (i < vals.length) { writeSampleLE(raw, i, vals(i), dtype); i += 1 }
    compressSeg(raw, tileSize, tileSize, 1, bps, predictor, compression)
  }

  /** The container around sized pages: the file header and one IFD
    * block per (w, h, segmentByteCounts) page — page 0 the base with
    * geo tags, page k the 2^k overview marked ReducedImage — with each
    * next-IFD pointer already chained to the following page. The file
    * is `header | blocks(0) | page-0 segments | blocks(1) | …`, and the
    * segments (tiles or strips, row-major) MUST have exactly the
    * declared byte counts: every offset is computed from them. Used by
    * [[writePyramid]] and by the sharded export, whose tile segments
    * are encoded on the executors.
    */
  private[graft] def tiffBlocks(pages: Seq[(Int, Int, Seq[Long])], dtype: DType,
                                gt: GeoTransform, nodata: Option[Double],
                                rowsPerStrip: Int, predictor: Int, crs: CrsTag,
                                tileSize: Int, compression: Int, bands: Int,
                                bigTiff: Boolean): (Array[Byte], Seq[Array[Byte]]) = {
    require(tileSize == 0 || (tileSize > 0 && tileSize % 16 == 0),
      "TIFF tile size must be a positive multiple of 16")
    require(gt.isNorthUp && gt.c5 < 0, s"GeoTIFF writer needs a north-up geotransform, got $gt")
    require(pages.nonEmpty, "need at least one page")
    pages.zipWithIndex.foreach { case ((w, h, counts), i) =>
      val nSeg =
        if (tileSize > 0) ((w + tileSize - 1) / tileSize) * ((h + tileSize - 1) / tileSize)
        else (h + rowsPerStrip - 1) / rowsPerStrip
      require(counts.length == nSeg,
        s"page $i: expected $nSeg segment byte counts for ${w}x$h, got ${counts.length}")
    }
    // BigTIFF (version 43) widths: 8-byte counts/offsets/value fields,
    // 20-byte IFD entries, LONG8 (type 16) segment offset arrays — the
    // `BIGTIFF` creation option (`gdalos_trans.py:788-801`), REQUIRED
    // for >4 GiB outputs. Classic widths otherwise.
    val header = tiffHeader(bigTiff)
    val ptrSz = if (bigTiff) 8 else 4
    var base = header.length.toLong
    val blocks = pages.zipWithIndex.map { case ((w, h, counts), i) =>
      val (block, ptrRel) = pageBlock(i, w, h, counts, base, dtype, gt, nodata,
        rowsPerStrip, predictor, crs, tileSize, compression, bands, bigTiff)
      base += block.length + counts.sum
      if (i < pages.length - 1) {
        // next page's IFD starts right after this page's segment data
        var j = 0
        while (j < ptrSz) { block(ptrRel + j) = ((base >> (8 * j)) & 0xff).toByte; j += 1 }
      }
      block
    }
    (header, blocks)
  }

  private def writePyramidImpl(out: java.io.OutputStream, pages: Seq[StreamPage],
                               dtype: DType, gt: GeoTransform, nodata: Option[Double],
                               rowsPerStrip: Int, predictor: Int, crs: CrsTag,
                               tileSize: Int, compression: Int, bands: Int,
                               bigTiff: Boolean, materialize: Boolean,
                               maxBytes: Long): Long = {
    require(bands >= 1 && bands <= 16, s"unsupported band count $bands")
    require(predictor == 1 || bands == 1,
      "predictor 2 is supported for single-band pages only")
    require(Set(1, 5, 7, 8, 32773).contains(compression),
      s"unsupported write compression $compression (none/LZW/JPEG/DEFLATE/PackBits)")
    require(compression != 7 || (dtype == DtByte && predictor == 1
        && (bands == 1 || bands == 3)),
      "JPEG write needs Byte samples, no predictor, 1 or 3 bands (alpha dropped per B5)")
    require(predictor == 1
        || (predictor == 2 && (dtype == DtByte || dtype == DtInt16))
        || (predictor == 3 && (dtype == DtFloat32 || dtype == DtFloat64)),
      "predictor 2 needs integer samples; predictor 3 needs float samples")
    val bps = dtype.bits / 8

    /** Compressed segments (strips or tiles) of one page, produced
      * lazily — one raw + one compressed segment live at a time.
      */
    def segments(w: Int, h: Int, at: Long => Double): Iterator[Array[Byte]] =
      if (tileSize > 0) {
        val ts = tileSize
        val ta = (w + ts - 1) / ts
        val td = (h + ts - 1) / ts
        val pad = nodata.getOrElse(0.0)
        for (ty <- (0 until td).iterator; tx <- (0 until ta).iterator) yield {
          val raw = new Array[Byte](ts * ts * bands * bps)
          var i = 0
          while (i < ts * ts * bands) {
            val p = i / bands; val b = i % bands
            val sx = tx * ts + p % ts
            val sy = ty * ts + p / ts
            // JPEG edge tiles replicate the border pixel (a hard
            // nodata edge would bleed DCT ringing into valid pixels)
            writeSampleLE(raw, i,
              if (sx < w && sy < h) at((sy.toLong * w + sx) * bands + b)
              else if (compression == 7)
                at((math.min(sy, h - 1).toLong * w + math.min(sx, w - 1)) * bands + b)
              else pad, dtype)
            i += 1
          }
          compressSeg(raw, ts, ts, bands, bps, predictor, compression)
        }
      } else {
        val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
        (0 until nStrips).iterator.map { st =>
          val y0 = st * rowsPerStrip
          val rows = math.min(rowsPerStrip, h - y0)
          val raw = new Array[Byte](rows * w * bands * bps)
          var i = 0
          while (i < rows * w * bands) {
            // chunky rows are contiguous
            writeSampleLE(raw, i, at(y0.toLong * w * bands + i), dtype)
            i += 1
          }
          compressSeg(raw, w, rows, bands, bps, predictor, compression)
        }
      }

    // pass 1: every page's segment byte counts (materialized in the
    // in-memory path, compressed-and-discarded in the streaming path —
    // except COMPRESSION=NONE, where a segment's byte count IS its raw
    // size and the sizing pass is pure arithmetic)
    val cached = if (materialize) pages.map(pg => segments(pg.w, pg.h, pg.at).toVector) else null
    val sizes: Seq[Seq[Long]] = pages.indices.map { i =>
      val pg = pages(i)
      if (materialize) cached(i).map(_.length.toLong)
      else if (compression == 1) {
        if (tileSize > 0) {
          val ta = (pg.w + tileSize - 1) / tileSize
          val td = (pg.h + tileSize - 1) / tileSize
          Vector.fill(ta * td)(tileSize.toLong * tileSize * bands * bps)
        } else {
          val nStrips = (pg.h + rowsPerStrip - 1) / rowsPerStrip
          (0 until nStrips).map { st =>
            math.min(rowsPerStrip, pg.h - st * rowsPerStrip).toLong * pg.w * bands * bps
          }.toVector
        }
      }
      else segments(pg.w, pg.h, pg.at).map(_.length.toLong).toVector
    }
    val (header, blocks) = tiffBlocks(pages.zip(sizes).map { case (pg, s) => (pg.w, pg.h, s) },
      dtype, gt, nodata, rowsPerStrip, predictor, crs, tileSize, compression, bands, bigTiff)
    val total = header.length + blocks.map(_.length.toLong).sum + sizes.map(_.sum).sum
    require(total <= maxBytes,
      s"encodePyramid assembles in memory; $total bytes exceeds the 2 GiB " +
        "Array ceiling — stream via writePyramid or write the COG parquet layout instead")
    // pass 2: header | page0 block | page0 segments | page1 block | …
    out.write(header)
    pages.indices.foreach { i =>
      out.write(blocks(i))
      if (materialize) cached(i).foreach(out.write)
      else segments(pages(i).w, pages(i).h, pages(i).at).foreach(out.write)
    }
    total
  }

  /** Apply TIFF predictor 2 (forward differencing) in place. */
  private def diffRows(data: Array[Byte], w: Int, rows: Int, bps: Int): Unit = {
    var y = 0
    while (y < rows) {
      var x = w - 1
      while (x >= 1) {
        val o = (y * w + x) * bps
        val p = (y * w + x - 1) * bps
        bps match {
          case 1 => data(o) = ((data(o) & 0xff) - (data(p) & 0xff)).toByte
          case 2 => writeS16(data, o, (readS16(data, o, be = false) - readS16(data, p, be = false)).toShort, be = false)
          case 4 => writeS32(data, o, readS32(data, o, be = false) - readS32(data, p, be = false), be = false)
        }
        x -= 1
      }
      y += 1
    }
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
