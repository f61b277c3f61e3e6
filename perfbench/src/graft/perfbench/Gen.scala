package graft.perfbench

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom
import java.util.zip.Deflater

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every generator takes the run seed plus a
  * salt naming its stream, so two streams never share draws and the
  * same seed always rebuilds the same bytes. The engine only ever sees
  * what these write to disk.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  // ----------------------------------------------------------- DEM ---

  /** A DEM as row-major Int16 heights plus its placement. */
  final case class Dem(w: Int, h: Int, v: Array[Short], ndv: Short,
                       lon0: Double, lat0: Double, res: Double) {
    def at(px: Int, py: Int): Short = v(py * w + px)
  }

  /** Smooth terrain: a base plus Gaussian hills and a ridge, 0..~3000 m,
    * with nodata discs punched in. Heights stay integer, so every
    * aggregate over them is exact.
    */
  def dem(seed: Long, w: Int, h: Int, ndv: Short): Dem = {
    val r = rng(seed, 1)
    val hills = Array.fill(14)((r.nextDouble() * w, r.nextDouble() * h,
      20 + r.nextDouble() * w / 5, 80 + r.nextDouble() * 900))
    val (ridgeA, ridgeF) = (r.nextDouble() * 120, 2 + r.nextDouble() * 4)
    val v = new Array[Short](w * h)
    for (py <- 0 until h; px <- 0 until w) {
      var z = 300.0 + ridgeA * math.sin(ridgeF * math.Pi * (px + 0.5 * py) / w)
      for ((cx, cy, s, a) <- hills) {
        val dx = px - cx; val dy = py - cy
        z += a * math.exp(-(dx * dx + dy * dy) / (2 * s * s))
      }
      v(py * w + px) = (z + r.nextInt(7) - 3).toShort
    }
    for (k <- 0 until 16) {
      // radii 3..24 for every seed, so the valid area varies little
      val cx = r.nextInt(w); val cy = r.nextInt(h); val rad = 3 + k * 7 % 22
      for (py <- math.max(0, cy - rad) until math.min(h, cy + rad + 1);
           px <- math.max(0, cx - rad) until math.min(w, cx + rad + 1)
           if (px - cx) * (px - cx) + (py - cy) * (py - cy) <= rad * rad)
        v(py * w + px) = ndv
    }
    // centred on 36°E, the boundary of UTM zones 36 and 37
    Dem(w, h, v, ndv, lon0 = 36.0 - w / 2 * 0.0003, lat0 = 30.31, res = 0.0003)
  }

  /** Writes `d` as a little-endian tiled GeoTIFF: DEFLATE, horizontal
    * predictor, signed 16-bit, EPSG:4326 geokeys and GDAL_NODATA. This
    * writer is independent of the engine's own encoder, so a decode bug
    * cannot cancel against an encode bug.
    */
  def writeTiff(d: Dem, path: String, tile: Int): Unit = {
    require(d.w % tile == 0 && d.h % tile == 0, "DEM must tile evenly")
    val tiles = ArrayBuffer[Array[Byte]]()
    for (ty <- 0 until d.h / tile; tx <- 0 until d.w / tile) {
      val raw = ByteBuffer.allocate(tile * tile * 2).order(ByteOrder.LITTLE_ENDIAN)
      for (y <- 0 until tile) {
        var prev = 0
        for (x <- 0 until tile) {
          val cur: Int = d.at(tx * tile + x, ty * tile + y)
          raw.putShort((cur - prev).toShort) // predictor 2: wrap-around difference
          prev = cur
        }
      }
      tiles += deflate(raw.array())
    }
    val ascii = (d.ndv.toString + "\u0000").getBytes("US-ASCII")
    val geoKeys = Array(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)
    // (tag, type, count, payload bytes) — types 2 ASCII, 3 SHORT, 4 LONG, 12 DOUBLE
    def shorts(xs: Int*) = le(xs.length * 2)(b => xs.foreach(x => b.putShort(x.toShort)))
    def longs(xs: Long*) = le(xs.length * 4)(b => xs.foreach(x => b.putInt(x.toInt)))
    def doubles(xs: Double*) = le(xs.length * 8)(b => xs.foreach(b.putDouble))
    val nIfd = 17
    val ifdSize = 2 + nIfd * 12 + 4
    val fixedTags = Seq(
      (256, 4, 1, longs(d.w)), (257, 4, 1, longs(d.h)), (258, 3, 1, shorts(16)),
      (259, 3, 1, shorts(8)), (262, 3, 1, shorts(1)), (277, 3, 1, shorts(1)),
      (284, 3, 1, shorts(1)), (317, 3, 1, shorts(2)), (322, 4, 1, longs(tile)),
      (323, 4, 1, longs(tile)))
    val tailTags = Seq(
      (339, 3, 1, shorts(2)),
      (33550, 12, 3, doubles(d.res, d.res, 0.0)),
      (33922, 12, 6, doubles(0, 0, 0, d.lon0, d.lat0, 0)),
      (34735, 3, geoKeys.length, shorts(geoKeys: _*)),
      (42113, 2, ascii.length, ascii))
    // lay out: header | IFD | out-of-line payloads | tile data
    var cursor = 8L + ifdSize
    val extOff = scala.collection.mutable.Map[Int, Long]()
    val offsetsLen = tiles.length * 4
    def reserve(tag: Int, len: Int): Unit =
      if (len > 4) { extOff(tag) = cursor; cursor += len + (len & 1) }
    reserve(324, offsetsLen); reserve(325, offsetsLen)
    tailTags.foreach { case (t, _, _, p) => reserve(t, p.length) }
    val tileOffsets = tiles.scanLeft(cursor)(_ + _.length).init
    val allTags = (fixedTags ++ Seq(
      (324, 4, tiles.length, longs(tileOffsets.toSeq: _*)),
      (325, 4, tiles.length, longs(tiles.map(_.length.toLong).toSeq: _*))) ++ tailTags)
      .sortBy(_._1)
    require(allTags.length == nIfd)
    val out = new ByteArrayOutputStream()
    out.write(le(8) { b => b.put('I'.toByte).put('I'.toByte).putShort(42); b.putInt(8) })
    out.write(le(ifdSize) { b =>
      b.putShort(nIfd.toShort)
      allTags.foreach { case (tag, typ, count, payload) =>
        b.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
        if (payload.length <= 4) b.put(java.util.Arrays.copyOf(payload, 4))
        else b.putInt(extOff(tag).toInt)
      }
      b.putInt(0)
    })
    allTags.filter(_._4.length > 4).sortBy(t => extOff(t._1)).foreach { case (_, _, _, p) =>
      out.write(p); if ((p.length & 1) == 1) out.write(0)
    }
    tiles.foreach(t => out.write(t))
    val f = new FileOutputStream(path)
    try f.write(out.toByteArray) finally f.close()
  }

  private def le(n: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
    val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    fill(b); b.array()
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  // -------------------------------------------------------- corpus ---

  /** A vocabulary of distinct lowercase words, drawn Zipf-weighted so
    * BM25 sees both hub terms and rare ones.
    */
  final class Vocab(seed: Long, n: Int) {
    val words: Array[String] = {
      val r = rng(seed, 2)
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < n)
        seen += Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 0.9))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, n - 1))
    }
    def doc(r: SplittableRandom, minLen: Int, maxLen: Int): String =
      Array.fill(minLen + r.nextInt(maxLen - minLen + 1))(draw(r)).mkString(" ")
  }

  /** The planted structure of a dedup corpus, by doc id. */
  final case class Corpus(docs: Array[(Long, String)],
                          families: Seq[Seq[Long]],
                          copyGroups: Seq[Seq[Long]]) {
    /** Near-dup closure: each family plus the copies of its members;
      * copy groups of non-family docs are their own clusters.
      */
    def nearDupGroups: Seq[Set[Long]] = {
      val famOf = families.zipWithIndex.flatMap { case (f, i) => f.map(_ -> i) }.toMap
      val grown = families.map(_.toSet).toArray
      val loose = ArrayBuffer[Set[Long]]()
      copyGroups.foreach { g =>
        g.flatMap(famOf.get).headOption match {
          case Some(i) => grown(i) = grown(i) ++ g
          case None => loose += g.toSet
        }
      }
      grown.toSeq ++ loose
    }
  }

  /** `n` docs: ~30% in near-dup families (one hot family of `hot`,
    * the rest Zipf-sized, at least 3 members), ~10% exact copies of
    * other docs, the rest distinct. A family is a base doc plus
    * variants that each append one distinct word, so every variant
    * stays above 0.9 word-3-shingle Jaccard to the base. Ids are a
    * seeded permutation, so families scatter over the id space.
    */
  def corpus(seed: Long, n: Int, hot: Int, vocab: Vocab): Corpus = {
    val r = rng(seed, 3)
    val famTarget = (n * 0.3).toInt; val copyTarget = n / 10
    // the family sizes come from a fixed stream, so every seed plants
    // the same family sizes and the loops do like work; the seed draws
    // the texts, ids and copies
    val sizeRng = rng(0, 3)
    val sizes = ArrayBuffer(hot)
    while (sizes.sum < famTarget) {
      val z = math.min(64, (3 / math.pow(1 - sizeRng.nextDouble(), 1.0 / 1.2)).toInt)
      sizes += math.max(3, math.min(z, famTarget - sizes.sum))
    }
    val texts = ArrayBuffer[String]()
    val famIdx = ArrayBuffer[Seq[Int]]()
    sizes.foreach { sz =>
      val base = vocab.doc(r, 40, 80)
      val start = texts.length
      texts += base
      val extra = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(vocab.words.toSeq).take(sz - 1)
      extra.foreach(w => texts += base + " " + w)
      famIdx += (start until texts.length)
    }
    while (texts.length < n - copyTarget) texts += vocab.doc(r, 40, 80)
    val originals = texts.length
    val copiesOf = scala.collection.mutable.Map[Int, ArrayBuffer[Int]]()
    while (texts.length < n) {
      val src = r.nextInt(originals)
      copiesOf.getOrElseUpdate(src, ArrayBuffer()) += texts.length
      texts += texts(src)
    }
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((0L until n).toVector)
    val docs = texts.indices.map(i => (perm(i), texts(i))).toArray
    Corpus(docs,
      famIdx.map(_.map(i => perm(i))).toSeq,
      copiesOf.toSeq.sortBy(_._1).map { case (src, cs) => (src +: cs.toSeq).map(i => perm(i)) })
  }

  // ---------------------------------------------------- embeddings ---

  /** `n` 64-d vectors: `clusters` Gaussian clusters plus a degenerate
    * pile of `pile` vectors whose components are all equal (pairwise
    * cosine exactly 1). Returns (vectors by id, pile ids).
    */
  def embeddings(seed: Long, n: Int, clusters: Int, pile: Int)
      : (Array[(Long, Array[Float])], Set[Long]) = {
    val r = rng(seed, 4)
    val centers = Array.fill(clusters)(Array.fill(64)(r.nextGaussian()))
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((0L until n).toVector)
    val vecs = (0 until n).map { i =>
      val v =
        if (i < pile) Array.fill(64)((0.5 + (i % 5) * 0.01).toFloat)
        else {
          val c = centers(i % clusters)
          Array.tabulate(64)(d => (c(d) + 0.15 * r.nextGaussian()).toFloat)
        }
      (perm(i), v)
    }.toArray
    (vecs, vecs.take(pile).map(_._1).toSet)
  }
}
