package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  /** Query frame (qid, qvec) of the given vectors of `emb` — a single
    * query is a one-row batch. */
  private def queriesOf(emb: DataFrame, ids: Long*): DataFrame =
    emb.filter($"vec_id".isin(ids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))

  /** Per-qid ranked (vec_id, cosine) lists of a batched ANN result. */
  private def annLists(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.select("qid", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
    (3L, "completely different words about spark shuffles and joins here"),
    (4L, "unrelated text regarding raster pyramids overviews and tiles"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts (hash-groupBy)") {
    val d = Dedup.exactDedup(docs, "doc_id", "text").cache()
    assert(d.count() == 4)
    val dup = d.filter($"n_copies" > 1).head()
    assert(dup.getAs[Long]("keep_id") == 0L && dup.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH finds exact+near dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))   // jaccard 1.0 — always a candidate
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // exact-dup pair carries jaccard 1.0
    val j = Dedup.minhashLsh(docs, "doc_id", "text")
      .filter($"id_a" === 0 && $"id_b" === 1).select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("minhash LSH hot-bucket cap: star pairing bounds candidates, closure unchanged") {
    // 128 copies of one text: every copy lands in the SAME bucket in
    // every band (identical signatures), so the unguarded clique is
    // |bucket|² — 8128 candidates per band — while the capped form
    // stars on the bucket minimum: exactly m-1 distinct pairs
    // corpus-wide (star, not chain: a chain is a diameter-m path the
    // 50-round min-label closure cannot close).
    val m = 128
    val dup = spark.range(m.toLong).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again").as("text"))
    val capped = Dedup.minhashLsh(dup, "doc_id", "text", threshold = 0.5)
      .cache()
    assert(capped.count() == (m - 1).toLong,
      "hot bucket must emit the (m-1)-pair star, not the clique")
    // every star pair is an exact duplicate — jaccard 1.0 survives verify
    assert(capped.filter($"jaccard" < 1.0).count() == 0)
    // cluster-level recall is UNCHANGED: the star closes into the
    // same single component the clique would
    val cappedCc = Dedup.connectedComponents(capped.select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    val clique = Dedup.minhashLsh(dup, "doc_id", "text", threshold = 0.5,
      maxBucket = 100000)
    val cliqueCc = Dedup.connectedComponents(clique.select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(cappedCc == cliqueCc, "closure must be identical with and without the cap")
    assert(cappedCc.size == m && cappedCc.values.toSet.size == 1)
    capped.unpersist()
    // a mixed corpus below the cap is untouched: same pairs either way
    val mixed = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mixedUncapped = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5,
      maxBucket = 100000).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mixed == mixedUncapped)
  }

  test("minhashLshWithCensus: one signature pass, same frames as the separate calls") {
    val m = 128
    val dup = spark.range(m.toLong).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again").as("text"))
    val (pairs, census) = Dedup.minhashLshWithCensus(dup, "doc_id", "text")
    val sep = Dedup.minhashLsh(dup, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet == sep)
    // census: 4 bands, one 128-member bucket each — cap (64) active
    val c = census.orderBy("band")
      .as[(Int, Long, Long, Long)].collect()
    assert(c.length == 4)
    assert(c.forall { case (_, nB, maxB, nHot) => nB == 1 && maxB == m && nHot == 1 })
    val cSep = Dedup.lshBucketCensus(dup, "doc_id", "text").orderBy("band")
      .as[(Int, Long, Long, Long)].collect()
    assert(c.sameElements(cSep))
  }

  test("minhash signature is identical for identical texts, differs otherwise") {
    val sig = docs.select($"doc_id",
      Dedup.minhashSigCol(Dedup.shinglesCol($"text"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(3L))
  }

  test("simhash buckets exact dups together") {
    val b = Dedup.simhashBuckets(docs, "doc_id", "text")
    val row = b.head()
    assert(b.count() == 1 && row.getAs[Long]("n_docs") >= 2 && row.getAs[Long]("keep_id") == 0L)
  }

  test("ngram jaccard with prefix blocking finds the near-dup pair") {
    val pairs = Dedup.ngramJaccardBlocked(docs, "doc_id", "text", prefixLen = 20, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(pairs.size == 3)
  }

  test("brute-force cosine top-k ranks the parallel vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f) ++ Array.fill(61)(0.0f)),
      (1L, Array(2.0f, 0.0f, 0.0f) ++ Array.fill(61)(0.0f)), // cosine 1 with 0
      (2L, Array(0.0f, 1.0f, 0.0f) ++ Array.fill(61)(0.0f)), // orthogonal
      (3L, Array(1.0f, 1.0f, 0.0f) ++ Array.fill(61)(0.0f))) // cosine √2/2
      .toDF("vec_id", "embedding")
    val top = annLists(Similarity.bruteTopKBatch(emb, queriesOf(emb, 0L), k = 2))
    assert(top(0L).map(_._1) == Seq(1L, 3L))
  }

  test("LSH bucket keeps scalar multiples together; lshTopK finds them") {
    val emb = Seq(
      (0L, Array.tabulate(64)(i => (i % 7 - 3).toFloat)),
      (1L, Array.tabulate(64)(i => 2 * (i % 7 - 3).toFloat)), // same direction
      (2L, Array.tabulate(64)(i => -(i % 7 - 3).toFloat)))    // opposite
      .toDF("vec_id", "embedding")
    val buckets = emb.select($"vec_id", Similarity.bucketCol($"embedding", 8).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(buckets(0L) == buckets(1L) && buckets(0L) != buckets(2L))
    val near = annLists(Similarity.lshTopKBatch(emb, queriesOf(emb, 0L), k = 5))
    assert(near(0L).map(_._1) == Seq(1L))
  }

  test("IVF: nprobe=k is exactly brute force; small nprobe is a correct subset") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.fitIvf(emb, k = 8, iters = 2)
    assert(model.centroids.length == 8 && model.centroids.head.length == 64)

    val q0 = queriesOf(emb, 0L)
    val brute = annLists(Similarity.bruteTopKBatch(emb, q0, 10))(0L)
    val full = annLists(Similarity.ivfTopKBatch(emb, model, q0, 10, nprobe = 8))(0L)
    assert(full == brute) // full probe ≡ exact search

    val narrow = annLists(Similarity.ivfTopKBatch(emb, model, q0, 10, nprobe = 2))(0L)
    // subset property: every narrow result appears in the full ranking
    // with the identical score
    val bruteAll = annLists(Similarity.bruteTopKBatch(emb, q0, 1000))(0L).toMap
    assert(narrow.nonEmpty && narrow.forall { case (id, c) => bruteAll(id) == c })
  }

  test("batched ANN ≡ per-query singles (brute and IVF forms)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val qids = Seq(0L, 3L, 7L)
    val qs = queriesOf(emb, qids: _*)
    val model = Similarity.IvfModel(
      (0 until 4).map(c => Array.tabulate(64)(i => ((c * 37 + i * 13) % 41 - 20) / 10.0)))
    val forms: Seq[(String, DataFrame => DataFrame)] = Seq(
      "brute" -> (q => Similarity.bruteTopKBatch(emb, q, k = 5)),
      "ivf" -> (q => Similarity.ivfTopKBatch(emb, model, q, topK = 5, nprobe = 2)),
      "lsh" -> (q => Similarity.lshTopKBatch(emb, q, k = 5, planes = 4)))
    // driver-side exact ranking over the collected fixture: cosine in
    // vec_dot's left-to-right order, each form's candidate rule, rank
    // by (cosine desc, id); LSH buckets come from the bucket kernel
    // (its fold parity is tested on its own)
    val rows = emb.select($"vec_id", $"embedding",
        Similarity.bucketCol($"embedding", 4).as("b"))
      .as[(Long, Seq[Float], Long)].collect()
    def dot(a: Seq[Float], b: Seq[Float]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    def sqDist(a: Seq[Float], c: Array[Double]) =
      a.indices.foldLeft(0.0) { (s, i) => val d = a(i).toDouble - c(i); s + d * d }
    def cells(v: Seq[Float]) = model.centroids.indices
      .sortBy(c => (sqDist(v, model.centroids(c)), c))
    def exact(form: String, q: Long): Seq[(Long, Double)] = {
      val (_, qv, qb) = rows.find(_._1 == q).get
      val probed = cells(qv).take(2).toSet
      rows.filter { case (id, v, b) => id != q && (form match {
          case "brute" => true
          case "ivf"   => probed(cells(v).head)
          case "lsh"   => b == qb
        }) }
        .map { case (id, v, _) =>
          (id, dot(v, qv) / (math.sqrt(dot(v, v)) * math.sqrt(dot(qv, qv)))) }
        .sortBy { case (id, c) => (-c, id) }.take(5).toSeq
    }
    for ((form, search) <- forms) {
      val batch = annLists(search(qs))
      for (q <- qids) {
        val alone = annLists(search(queriesOf(emb, q))).getOrElse(q, Nil)
        assert(batch.getOrElse(q, Nil) == alone, s"$form: batch ≠ one-query batch for $q")
        assert(alone == exact(form, q), s"$form: ≠ driver-side ranking for $q")
      }
    }
    // pre-materialized assignment (the at-rest index shape) gives the
    // identical result as inline assignment
    val ivfBatch = annLists(Similarity.ivfTopKBatch(emb, model, qs, topK = 5, nprobe = 2))
    val indexed = Similarity.assignIvf(emb, model)
    val viaIndex = annLists(Similarity.ivfTopKBatch(indexed, model, qs, topK = 5,
      nprobe = 2, assignedCol = Some("ivf_c")))
    for (q <- qids) assert(viaIndex(q) == ivfBatch(q), s"indexed path mismatch for $q")
  }

  test("IVF at-rest: partitioned corpus prunes via DPP and matches the inline plan") {
    import org.apache.spark.sql.execution.ExplainMode
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val model = Similarity.IvfModel(
      (0 until 4).map(c => Array.tabulate(64)(i => ((c * 37 + i * 13) % 41 - 20) / 10.0)))
    val dir = java.nio.file.Files.createTempDirectory("ivf_at_rest").toString
    Similarity.assignIvf(emb, model).write.mode("overwrite")
      .partitionBy("ivf_c").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val qs = emb.filter($"vec_id" < 6)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val atRest = Similarity.ivfTopKBatch(corpus, model, qs, topK = 5, nprobe = 2,
      assignedCol = Some("ivf_c"))
    // the partitioned scan carries a dynamic-pruning subquery on the
    // cluster key — the at-rest read touches only probed partitions
    val plan = atRest.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected DPP on ivf_c in the at-rest plan:\n$plan")
    // and the pruned plan returns exactly the inline-assignment result
    val inline = Similarity.ivfTopKBatch(emb, model, qs, topK = 5, nprobe = 2)
      .select("qid", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val pruned = atRest.select("qid", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(pruned == inline)
  }

  test("LSH recall vs brute force on the embeddings fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q0 = queriesOf(emb, 0L)
    val brute = Similarity.bruteTopKBatch(emb, q0, 10).select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.lshTopKBatch(emb, q0, 10, planes = 4)
      .select("vec_id").as[Long].collect().toSet
    // 4 planes → 16 buckets; expect meaningful overlap, not exactness
    assert(lsh.nonEmpty && brute.nonEmpty)
  }

  test("text analysis: token counts, quality signals, fingerprint") {
    val q = TextAnalysis.withQuality(docs).filter($"doc_id" === 0).head()
    assert(q.getAs[Int]("n_tokens") == 12)
    assert(q.getAs[Int]("n_distinct_tokens") == 10) // the×2, again×2
    assert(q.getAs[Double]("lex_diversity") == 10.0 / 12)

    val fp = docs.select(TextAnalysis.fingerprintCol($"text", 2).as("fp"))
      .as[Long].collect()
    assert(fp(0) == ('t'.toLong * 31 + 'h'.toLong) % 1000000007L)
    assert(fp(0) == fp(1) && fp(0) != fp(3))
  }

  test("langId heuristic: charset beats stopwords; en via stopword gate") {
    val mixed = Seq((0L, "the cat sat on the mat and the dog"), (1L, "中文 文本 没有 空格 问题"),
      (2L, "xyzzy plugh qwertz zxcvb")).toDF("doc_id", "text")
    val out = mixed.select($"doc_id", TextAnalysis.langIdCol($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "en" && out(1L) == "zh" && out(2L) == "other")
  }

  test("multimodal: payload plumbing + stub feature extraction") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val media = Multimodal.syntheticMedia(
      Seq((7L, "alpha", "src1"), (8L, "beta", "src2")).toDF("doc_id", "text", "source"))
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(7L).n_bytes == "src1:7".length)
    assert(feats(7L).kind == "audio" && feats(8L).kind == "video")
    // checksum is the deterministic rolling hash of the payload bytes
    val expect = "src1:7".getBytes("UTF-8")
      .foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    assert(feats(7L).checksum == expect)

    val frames = Multimodal.sampleFrames(media, 3)
    assert(frames.count() == 6)
    assert(frames.filter($"media_id" === 7 && $"frame_no" === 0)
      .select("frame_len").as[Int].head() == 4)
  }

  test("multimodal: PNG payloads are genuinely decoded (width/height from IHDR)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val pix = Array.tabulate(6 * 4)(i => 0xff000000 | (i * 31))
    val png = graft.sources.Png.encode(6, 4, pix)
    val media = Seq((1L, "image", png)).toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.width.contains(6) && f.height.contains(4) && f.n_bytes == png.length)
    val expectSum = pix.foldLeft(0L)((a, p) => (a * 31 + (p & 0xffffffffL)) % 1000000007L)
    assert(f.checksum == expectSum)
    // a PNG-signed but corrupt payload degrades to honest NULL dims +
    // the raw-byte checksum (never a task failure)
    val corrupt = png.take(20)
    val cf = Multimodal.extractFeatures(
      Seq((2L, "image", corrupt)).toDF("media_id", "kind", "payload")).collect().head
    assert(cf.width.isEmpty && cf.height.isEmpty && cf.n_bytes == 20)
    val rawSum = corrupt.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)
    assert(cf.checksum == rawSum)
  }
  test("multimodal: JPEG SOF dims parsed; undecodable kinds get honest NULLs") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    // minimal JPEG skeleton: SOI, APP0 (empty-ish), SOF0 with 480x640, EOI
    val jpeg = Array[Int](
      0xff, 0xd8,                                  // SOI
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46,          // APP0 len=4
      0xff, 0xc0, 0x00, 0x0b, 0x08,                // SOF0 len=11, precision 8
      0x01, 0xe0,                                  // height 480
      0x02, 0x80,                                  // width 640
      0x01, 0x11, 0x00,                            // 1 component
      0xff, 0xd9).map(_.toByte)                    // EOI
    assert(Multimodal.jpegDims(jpeg).contains((640, 480)))
    val media = Seq(
      (1L, "image", jpeg),
      (2L, "audio", "not an image at all".getBytes("UTF-8"))).toDF("media_id", "kind", "payload")
    val f = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f(0).width.contains(640) && f(0).height.contains(480))
    assert(f(1).width.isEmpty && f(1).height.isEmpty) // no fabricated dims
  }
  test("vec_dot native expression is bit-equal to the higher-order fold") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val cmp = emb.select($"vec_id",
      Similarity.dotFoldCol($"embedding", $"embedding").as("fold"),
      Similarity.dotCol($"embedding", $"embedding").as("native"))
    assert(cmp.filter($"fold" =!= $"native").count() == 0) // identical fp order
    assert(cmp.count() > 0)
    // same for the one-pass LSH bucket kernel vs the per-plane folds
    val bk = emb.select(
      Similarity.bucketFoldCol($"embedding", 8).as("fold_b"),
      Similarity.bucketCol($"embedding", 8).as("native_b"))
    assert(bk.filter($"fold_b" =!= $"native_b").count() == 0)
    // vec_sqdist kernel vs the aggregate(zip_with) fold it replaced
    val self = emb.as("a").crossJoin(emb.limit(3).as("b"))
    val sd = self.select(
      aggregate(zip_with($"a.embedding", $"b.embedding",
          (x, y) => (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, e) => acc + e).as("fold_d"),
      call_function("vec_sqdist", $"a.embedding", $"b.embedding").as("native_d"))
    assert(sd.filter($"fold_d" =!= $"native_d").count() == 0)
    // vec_jl_project kernel vs the per-component fold
    val jp = emb.select($"embedding",
      call_function("vec_jl_project", $"embedding", lit(16)).as("native_p"))
    val jcmp = jp.select(
      transform(sequence(lit(0L), lit(15L)),
        j => Similarity.jlProjectFoldCol($"embedding", j)).as("fold_p"),
      $"native_p")
    assert(jcmp.filter($"fold_p" =!= $"native_p").count() == 0)
  }
  test("repetition signals: spammy text scores high top-fractions, diverse text low") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .collect().map(row => row.getLong(0) -> row).toMap
    val spam = r(1L); val clean = r(2L)
    assert(spam.getAs[Double]("top_unigram_frac") == 1.0)
    assert(spam.getAs[Double]("top_bigram_frac") == 1.0)
    assert(spam.getAs[Double]("distinct_token_ratio") < 0.2)
    assert(clean.getAs[Double]("top_unigram_frac") < 0.2)
    assert(clean.getAs[Double]("distinct_token_ratio") == 1.0)
  }

  test("quality verdict: each rule flags its own degenerate document") {
    val docs = Seq(
      (1L, "a perfectly ordinary sentence, with reasonable words inside."),
      (2L, "tiny"),                                            // too few tokens
      (3L, Seq.fill(40)("spam").mkString(" ")),                // low diversity
      (4L, "x " * 200 + "x"),                                  // mean token len < 2
      (5L, "w.. ,, !! ?? ;; :: .. ,, words ok here!!!"))       // punct-dense
      .toDF("doc_id", "text")
    val v = TextAnalysis.qualityVerdict(docs, "text")
      .select("doc_id", "keep").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(v(1L) == 1)
    assert(Seq(2L, 3L, 4L, 5L).forall(v(_) == 0), v.toString)
  }

  test("stratified sampling is deterministic, rate-monotone, and exact at 0/1") {
    val docs = (0L until 400L).map(i => (i, if (i % 4 == 0) "en" else "other"))
      .toDF("doc_id", "lang")
    def run(ratesEn: Double, other: Double) =
      Sampling.stratifiedSample(docs, $"lang", $"doc_id",
        Seq("en" -> ratesEn, "other" -> other), defaultRate = 0.0)
        .select("doc_id").as[Long].collect().toSet
    assert(run(1.0, 0.0) == (0L until 400L by 4).toSet)  // rate 1 keeps all of stratum
    assert(run(0.0, 0.0).isEmpty)
    val half = run(0.5, 0.2)
    assert(run(0.5, 0.2) == half)                        // re-run identical
    assert(run(0.3, 0.2).subsetOf(half))                 // lower rate ⊆ higher rate
    // roughly proportional draws (hash uniformity sanity)
    val enKept = half.count(_ % 4 == 0)
    assert(enKept > 30 && enKept < 70, s"en kept $enKept of 100 at rate 0.5")
  }

  test("stratifiedTake: exact per-stratum counts, deterministic, rank-consistent") {
    val docs = (0L until 400L).map(i => (i, if (i % 4 == 0) "en" else "other"))
      .toDF("doc_id", "lang")
    def run(en: Long, other: Long) =
      Sampling.stratifiedTake(docs, $"lang", $"doc_id",
        Seq("en" -> en, "other" -> other))
        .select("doc_id", "lang").as[(Long, String)].collect().toSet
    val k = run(30, 50)
    assert(k.count(_._2 == "en") == 30 && k.count(_._2 == "other") == 50)
    assert(run(30, 50) == k)                      // re-run identical
    assert(run(10, 20).subsetOf(k))               // smaller budget ⊆ larger (rank prefix)
    // counts above the stratum size keep the whole stratum
    assert(run(1000, 0).count(_._2 == "en") == 100)
    // unlisted strata keep defaultCount (0) rows
    assert(Sampling.stratifiedTake(docs, $"lang", $"doc_id", Seq("en" -> 5L))
      .filter($"lang" === "other").count() == 0)
  }

  test("multimodal: real image resize (PNG decoded, nearest-sampled, re-encoded)") {
    import graft.llm.Multimodal
    import graft.sources.Png
    // 16x8 gradient PNG: pixel (x,y) = opaque gray 16x+8y
    val w = 16; val h = 8
    val pix = Array.tabulate(w * h) { i =>
      val g = ((i % w) * 16 + (i / w) * 8) & 0xff
      0xff000000 | (g << 16) | (g << 8) | g
    }
    val png = Png.encode(w, h, pix)
    val Some((sw, sh, tw, th, thumbPng)) = Multimodal.thumbnailOf(png, maxDim = 4)
    assert((sw, sh) == ((w, h)) && (tw, th) == ((4, 2))) // aspect preserved
    val (dw, dh, dpix) = Png.decode(thumbPng)
    assert((dw, dh) == ((4, 2)))
    // nearest center sampling: thumb (x,y) = src (4x+2, 4y+2)
    for (y <- 0 until 2; x <- 0 until 4)
      assert(dpix(y * 4 + x) == pix((y * 4 + 2) * w + (x * 4 + 2)), s"($x,$y)")
    // deterministic bytes; no upscale past source dims
    assert(Multimodal.thumbnailOf(png, 4).get._5.sameElements(thumbPng))
    assert(Multimodal.thumbnailOf(png, 100).get._3 == w)
    // non-image payloads: honest None
    assert(Multimodal.thumbnailOf("not an image".getBytes, 4).isEmpty)
    // Dataset path: same narrow map shape as extractFeatures
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val media = Seq((1L, "image", png), (2L, "audio", "pcm".getBytes))
      .toDF("media_id", "kind", "payload")
    val rows = Multimodal.thumbnails(media, 4).collect().sortBy(_.media_id)
    assert(rows(0).thumb_w.contains(4) && rows(0).thumb.isDefined)
    assert(rows(1).thumb.isEmpty && rows(1).width.isEmpty)
  }

  test("autoPlanes bounds within-bucket pair volume ~linearly in corpus size") {
    import graft.llm.Similarity.autoPlanes
    // expected pairs under uniform bucketing: N^2 / 2^(planes+1);
    // autoPlanes must keep that ≤ N * targetBucket at every scale
    val target = 1024
    for (n <- Seq(1L, 1000L, 100000L, 10000000L, 1000000000L, 100000000000L)) {
      val p = autoPlanes(n, target)
      assert(p >= 4 && p <= 24)
      val expectedPairs = n.toDouble * n / math.pow(2.0, p + 1)
      if (p < 24) // inside the clamp the bound must hold
        assert(expectedPairs <= n.toDouble * target,
          s"n=$n planes=$p pairs=$expectedPairs")
    }
    // monotone in corpus size; default matches q64's test-scale choice
    val ps = Seq(100L, 10000L, 1000000L, 100000000L).map(autoPlanes(_))
    assert(ps == ps.sorted)
    assert(autoPlanes(2048) == 4) // tiny corpora stay at the floor
    assertThrows[IllegalArgumentException](autoPlanes(-1))
    assertThrows[IllegalArgumentException](autoPlanes(10, 0))
  }

  test("int8 quantization: codes in [-127,127], round-trip error bounded, zero-safe") {
    val emb = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (1L, Array.fill(4)(0.0f)),             // all-zero: scale 0, codes 0
      (2L, Array(-2.0f, 2.0f, 1.9999f, 0.0001f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(emb).cache()
    val rows = q.orderBy("vec_id").collect()
    // extreme elements hit ±127 exactly; zero vector is all-zero codes
    def codes(i: Int) =
      rows(i).getAs[scala.collection.Seq[Int]]("q_codes").toSeq
    assert(codes(0) == Seq(127, -63, 32, 0))
    assert(rows(1).getAs[Double]("q_scale") == 0.0 && codes(1).forall(_ == 0))
    assert(codes(2).head == -127 && codes(2)(1) == 127)
    // dequantized reconstruction within half a quantization step
    val err = q.select($"vec_id", $"q_scale",
        zip_with($"embedding",
          Similarity.dequantizeCol($"q_codes", $"q_scale"),
          (x, y) => abs(x.cast("double") - y.cast("double"))).as("errs"))
      .select(max(aggregate($"errs", lit(0.0), (a, e) => greatest(a, e))
        - $"q_scale" / lit(127.0))).head().getDouble(0)
    assert(err <= 1e-7)
  }

  test("unigram LM score: common-token docs beat rare/garbage docs; exact mean") {
    val df = Seq(
      (0L, "the the the the"),          // most frequent token
      (1L, "the the zzz the"),          // one rare token drags the mean down
      (2L, "zzz qqq vvv www"))          // all-rare garbage
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .orderBy("id").collect()
    val scores = out.map(_.getAs[Double]("mean_logp"))
    assert(scores(0) > scores(1) && scores(1) > scores(2))
    // exact check for doc 0: p(the) = (7+1)/(12+5); fp floor, /2^20, /4
    val expected = math.floor(math.log(8.0 / 17.0) * 1048576.0) / 1048576.0
    assert(scores(0) == expected)
    assert(out(0).getAs[Long]("n_tokens") == 4)
  }

  test("quantized int8 corpus keeps ANN recall (dequantized IVF vs exact floats)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val deq = Similarity.quantizeInt8(emb).select($"vec_id",
      Similarity.dequantizeCol($"q_codes", $"q_scale").as("embedding"))
    val exact = Similarity.bruteTopKBatch(emb, queriesOf(emb, 0L), k = 10)
      .select("vec_id").as[Long].collect().toSet
    val quant = Similarity.bruteTopKBatch(deq, queriesOf(deq, 0L), k = 10)
      .select("vec_id").as[Long].collect().toSet
    // int8 keeps ~99.9% of the vector's direction: top-10 overlap ≥ 8
    assert(exact.intersect(quant).size >= 8, s"recall too low: $exact vs $quant")
  }

  test("groupCentroids: exact dim-keyed means; fixed-point survives any row order") {
    val emb = Seq(
      (0L, Array(1.0f, -2.0f)),
      (2L, Array(3.0f, 4.0f)),   // group 0 with vec 0
      (1L, Array(0.5f, 0.25f)))  // group 1 alone
      .toDF("vec_id", "embedding")
    val c = Similarity.groupCentroids(emb, $"vec_id" % 2)
      .orderBy("grp", "dim").collect()
    assert(c.length == 4)
    assert(c(0).getAs[Long]("n") == 2 && c(0).getAs[Double]("mean") == 2.0)  // (1+3)/2
    assert(c(1).getAs[Double]("mean") == 1.0)                                // (-2+4)/2
    assert(c(2).getAs[Double]("mean") == 0.5 && c(3).getAs[Double]("mean") == 0.25)
  }

  test("packBins: greedy per-shard fill, bin = where the doc starts, deterministic") {
    val df = (0L until 40L).map(i => (i, 100)).toDF("doc_id", "n_tokens")
    val out = Sampling.packBins(df, $"doc_id", $"n_tokens", budget = 250L, shards = 2)
      .cache()
    // deterministic: same input -> identical assignment
    val again = Sampling.packBins(df, $"doc_id", $"n_tokens", budget = 250L, shards = 2)
    assert(out.orderBy("doc_id").collect().toSeq ==
      again.orderBy("doc_id").collect().toSeq)
    // every doc assigned exactly one (shard, bin); shards as declared
    assert(out.count() == 40)
    assert(out.select("shard").distinct().as[Long].collect().toSet.subsetOf(Set(0L, 1L)))
    // within a shard, bins fill in order: doc at running-total t gets bin t/250;
    // with 100-token docs the pattern is bins of 3,2,3,2,... (300,200 tokens)
    val fills = out.groupBy("shard", "bin").count()
      .orderBy("shard", "bin").as[(Long, Long, Long)].collect()
    val byShard = fills.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    byShard.values.foreach { bins =>
      // contiguous from 0; full bins hold 2-3 docs (300/200-token
      // alternation), only the final bin may be a partial remainder
      assert(bins.map(_._2).toSeq == (0L until bins.length).toSeq)
      assert(bins.init.forall { case (_, _, n) => n == 2 || n == 3 })
      assert(bins.last._3 <= 3)
    }
    // a doc longer than the budget still lands in the bin where it starts
    val big = Seq((1L, 1000), (2L, 10)).toDF("doc_id", "n_tokens")
    val b = Sampling.packBins(big, $"doc_id", $"n_tokens", budget = 250L, shards = 1)
    assert(b.select("bin").as[Long].collect().toSet.nonEmpty)
    // reserved-name collision is refused, not silently overwritten
    val clash = Seq((1L, 10, 99)).toDF("doc_id", "n_tokens", "shard")
    val err = intercept[IllegalArgumentException](
      Sampling.packBins(clash, $"doc_id", $"n_tokens", budget = 250L))
    assert(err.getMessage.contains("shard"))
  }

  test("bm25TopK: term-frequency ranking with length normalization, exact ties broken by id") {
    val docs = Seq(
      (0L, "spark spark spark join"),        // tf=3, short
      (1L, "spark join merge filter scan"),  // tf=1
      (2L, "join merge filter scan batch"),  // no query term
      (3L, "spark spark join merge filter scan batch row column value")) // tf=2, long
      .toDF("doc_id", "text")
    def query(terms: String*) = terms.map(t => (0L, t)).toDF("qid", "term")
    val top = Retrieval.bm25TopKBatch(docs, "doc_id", "text", query("spark"), k = 10)
      .orderBy("rank").collect()
    // only docs containing the term appear; highest tf/shortest doc first
    assert(top.map(_.getAs[Long]("id")).toSeq == Seq(0L, 3L, 1L))
    assert(top.head.getAs[Double]("score") > top.last.getAs[Double]("score"))
    // multi-term query counts distinct terms hit
    val multi = Retrieval.bm25TopKBatch(docs, "doc_id", "text",
        query("spark", "merge"), k = 10)
      .collect()
    assert(multi.find(_.getAs[Long]("id") == 1L).get.getAs[Long]("n_terms_hit") == 2)
  }

  test("bm25TopKBatch: per-qid lists ≡ one-query batches") {
    val docs = Seq(
      (0L, "spark spark spark join"),
      (1L, "spark join merge filter scan"),
      (2L, "join merge filter scan batch"),
      (3L, "spark spark join merge filter scan batch row column value"))
      .toDF("doc_id", "text")
    val batch = Seq((0L, "spark"), (1L, "spark"), (1L, "merge"), (2L, "batch"))
      .toDF("qid", "term")
    val got = Retrieval.bm25TopKBatch(docs, "doc_id", "text", batch, k = 10)
    def list(df: DataFrame, qid: Long) = df.filter(col("qid") === qid).orderBy("rank")
      .select(col("id"), col("score"), col("n_terms_hit"), col("rank"))
      .collect().toSeq
    for (qid <- Seq(0L, 1L, 2L)) {
      val alone = Retrieval.bm25TopKBatch(docs, "doc_id", "text",
        batch.filter(col("qid") === qid), k = 10)
      assert(list(alone, qid).nonEmpty)
      assert(list(got, qid) == list(alone, qid), s"qid $qid diverged from its one-query batch")
    }
    // duplicated (qid, term) rows must not double-count (distinct guard)
    val dup = Retrieval.bm25TopKBatch(docs, "doc_id", "text",
      batch.unionByName(batch), k = 10)
    assert(dup.exceptAll(got).count() == 0 && got.exceptAll(dup).count() == 0)
  }

  test("cdc at-rest store: only new chunks stored, duplicate batch stores nothing, ledger adds up") {
    val base = (1 to 40).map(i => s"sentence number $i with some filler words").mkString(" ")
    val b0 = Seq((1L, base), (2L, "tiny")).toDF("doc_id", "text")
    val b1 = Seq((3L, base)).toDF("doc_id", "text") // exact re-ingest of known content
    val b2 = Seq((4L, base + " plus a brand new unique tail here")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("cdc_store_spec").toString
    Dedup.cdcIngestAtRest(b0, "doc_id", "text", dir)
    Dedup.cdcAppendAtRest(b1, "doc_id", "text", dir, batchId = 1)
    Dedup.cdcAppendAtRest(b2, "doc_id", "text", dir, batchId = 2)
    val led = Dedup.cdcStoreCensus(spark, dir).orderBy("batch").collect()
    assert(led.length == 3)
    // batch 0 fills an empty store: every distinct chunk is new
    assert(led(0).getAs[Long]("n_new_chunks") > 0)
    // batch 1 is content the store already holds: nothing stored
    assert(led(1).getAs[Long]("n_new_chunks") == 0 &&
      led(1).getAs[Long]("new_chars") == 0)
    // batch 2 shares a long prefix: strictly less than its raw size stored
    assert(led(2).getAs[Long]("new_chars") > 0 &&
      led(2).getAs[Long]("new_chars") < led(2).getAs[Long]("raw_chars"))
    // ledger algebra: cumulative columns are the running sums
    assert(led(2).getAs[Long]("cum_raw") ==
      led.map(_.getAs[Long]("raw_chars")).sum)
    assert(led(2).getAs[Long]("cum_stored") ==
      led.map(_.getAs[Long]("new_chars")).sum)
    // the store holds exactly the union of new chunks
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "chunks")).count() ==
      led.map(_.getAs[Long]("n_new_chunks")).sum)
  }

  test("cdc content store: bit-exact reconstruction; takedown GC keeps shared chunks, drops exclusive ones") {
    val tShared = (1 to 30).map(i => s"common clause $i shared verbatim across twins").mkString(" ")
    val tUnique = (1 to 30).map(i => s"solitary line $i that nothing else repeats anywhere").mkString(" ")
    // docs 1 and 2 are identical (every chunk shared); 3 is disjoint
    val dir = java.nio.file.Files.createTempDirectory("cdc_content_spec").toString
    Dedup.cdcInitAtRest(spark, dir)
    Dedup.cdcAppendAtRest(Seq((1L, tShared), (3L, tUnique)).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 0)
    // batch 1 stores ZERO new chunks (content already rests) but its
    // manifest must still land — reconstruction reads across batches
    Dedup.cdcAppendAtRest(Seq((2L, tShared)).toDF("doc_id", "text"),
      "doc_id", "text", dir, batchId = 1)
    def recon(ids: Seq[Long]): Map[Long, String] =
      Dedup.cdcReconstruct(spark, dir, ids.toDF("id"), "id")
        .select("id", "text").as[(Long, String)].collect().toMap
    val r = recon(Seq(1L, 2L, 3L))
    assert(r == Map(1L -> tShared, 2L -> tShared, 3L -> tUnique),
      "store round-trip must be bit-exact for every doc, cross-batch included")
    def chunkSet() = spark.read.parquet(AtRestStore.tablePath(spark, dir, "chunks"))
      .select("h", "len").as[(Long, Int)].collect().toSet
    def manifestSet(keep: Long => Boolean) = spark.read.parquet(AtRestStore.tablePath(spark, dir, "manifests"))
      .filter(col("id").isin(Seq(1L, 2L, 3L).filter(keep): _*))
      .select("h", "len").as[(Long, Int)].collect().toSet
    val before = chunkSet()
    // delete doc 1: every chunk is shared with doc 2 — GC removes NOTHING
    Dedup.cdcDeleteAtRest(Seq(1L).toDF("doc_id"), "doc_id", dir)
    assert(chunkSet() == before, "shared chunks must survive their co-referent's deletion")
    val r2 = recon(Seq(1L, 2L, 3L))
    assert(!r2.contains(1L) && r2(2L) == tShared && r2(3L) == tUnique)
    // delete doc 3: its chunks are exclusive — GC must drop exactly them,
    // leaving precisely the surviving manifests' reference set
    val expectLive = manifestSet(_ == 2L)
    Dedup.cdcDeleteAtRest(Seq(3L).toDF("doc_id"), "doc_id", dir)
    assert(chunkSet() == expectLive,
      "post-GC store must equal the surviving manifests' chunk set")
    assert(recon(Seq(2L))(2L) == tShared)
    // re-delete is a no-op
    Dedup.cdcDeleteAtRest(Seq(1L, 3L).toDF("doc_id"), "doc_id", dir)
    assert(chunkSet() == expectLive && recon(Seq(2L))(2L) == tShared)
    // ledger is history: census totals unchanged by takedown
    assert(Dedup.cdcStoreCensus(spark, dir).count() == 2)
  }

  test("cdc compaction: folds to one partition per table, preserves store, manifests, and cumulative ledger") {
    val t1 = (1 to 25).map(i => s"alpha paragraph $i for the compaction fixture").mkString(" ")
    val t2 = (1 to 25).map(i => s"beta paragraph $i with different words throughout").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("cdc_compact_spec").toString
    Dedup.cdcInitAtRest(spark, dir)
    Dedup.cdcAppendAtRest(Seq((1L, t1)).toDF("doc_id", "text"), "doc_id", "text", dir, 0)
    Dedup.cdcAppendAtRest(Seq((2L, t2)).toDF("doc_id", "text"), "doc_id", "text", dir, 1)
    Dedup.cdcAppendAtRest(Seq((3L, t1)).toDF("doc_id", "text"), "doc_id", "text", dir, 2)
    val preChunks = spark.read.parquet(AtRestStore.tablePath(spark, dir, "chunks"))
      .select("h", "len").as[(Long, Int)].collect().toSet
    val preCensus = Dedup.cdcStoreCensus(spark, dir).orderBy("batch").collect()
    val preCums = (preCensus.last.getAs[Long]("cum_raw"),
      preCensus.last.getAs[Long]("cum_stored"),
      preCensus.last.getAs[Long]("stored_fp"))
    Dedup.cdcCompactAtRest(spark, dir)
    // one batch=0 partition per table; store contents identical
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "chunks"))
      .select("batch").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "chunks"))
      .select("h", "len").as[(Long, Int)].collect().toSet == preChunks)
    // census folds to ONE row carrying the same cumulative totals
    val post = Dedup.cdcStoreCensus(spark, dir).collect()
    assert(post.length == 1)
    assert((post(0).getAs[Long]("cum_raw"), post(0).getAs[Long]("cum_stored"),
      post(0).getAs[Long]("stored_fp")) == preCums)
    // reconstruction unaffected by the fold; re-compaction idempotent
    def recon() = Dedup.cdcReconstruct(spark, dir,
        Seq(1L, 2L, 3L).toDF("id"), "id")
      .select("id", "text").as[(Long, String)].collect().toMap
    assert(recon() == Map(1L -> t1, 2L -> t2, 3L -> t1))
    Dedup.cdcCompactAtRest(spark, dir)
    assert(recon() == Map(1L -> t1, 2L -> t2, 3L -> t1) &&
      Dedup.cdcStoreCensus(spark, dir).count() == 1)
  }

  test("robustGroupStats: hand-computed fences, trim drops the spike, winsor clamps it") {
    // group g: 1..9 plus a 1000 spike; 10%-fences at nearest rank
    // ⌈10·10/100⌉=1 → lo=1, ⌈90·10/100⌉=9 → hi=9
    val df = ((1L to 9L).map(v => ("g", v)) :+ ("g", 1000L))
      .toDF("grp", "v")
    val r = TextAnalysis.robustGroupStats(df, "grp", "v", trimPct = 10)
      .collect().head
    assert(r.getAs[Long]("n") == 10 && r.getAs[Long]("lo") == 1L &&
      r.getAs[Long]("hi") == 9L)
    // trimmed: the 1000 spike is outside [1,9] → dropped
    assert(r.getAs[Long]("n_kept") == 9 && r.getAs[Long]("trim_sum") == 45L)
    assert(r.getAs[Double]("trim_mean") == 5.0)
    // winsorized: the spike clamps to 9
    assert(r.getAs[Long]("wins_sum") == 45L + 9L)
    assert(r.getAs[Double]("wins_mean") == 5.4)
    intercept[IllegalArgumentException](
      TextAnalysis.robustGroupStats(df, "grp", "v", trimPct = 50))
  }

  test("minhashRecallAudit: strict ⊆ loose per decile, exact copies fully recalled, refinement gate") {
    // graded prefixes of one base: same-length docs identical (j=1),
    // cross-length pairs share a prefix shingle run (graded jaccard)
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu").split(" ")
    val docs = (0L until 60L)
      .map(i => (i, base.take(10 + (i % 12).toInt).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.minhashRecallAudit(docs, "doc_id", "text")
      .orderBy("decile").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("n_strict_found") <= r.getAs[Long]("n_loose_pairs"),
        s"decile ${r.getAs[Int]("decile")}: strict pairs exceed the loose reference")
    }
    // exact copies (decile 10) collide on EVERY band in both bandings
    val d10 = got.find(_.getAs[Int]("decile") == 10).get
    assert(d10.getAs[Long]("n_strict_found") == d10.getAs[Long]("n_loose_pairs"))
    assert(d10.getAs[Long]("found_fp") == 1048576L)
    // a loose banding that does not refine the strict one is refused:
    // non-dividing band count, and a "loose" side no wider than strict
    intercept[IllegalArgumentException](
      Dedup.minhashRecallAudit(docs, "doc_id", "text",
        numHashes = 16, strictBands = 4, looseBands = 5))
    intercept[IllegalArgumentException](
      Dedup.minhashRecallAudit(docs, "doc_id", "text",
        numHashes = 16, strictBands = 4, looseBands = 2))
  }

  test("winnow at-rest index: append ≡ one-shot, shared-passage counts, takedown mask + purge") {
    val passage = "a very distinctive shared passage that will winnow into many fingerprints"
    val docs = Seq(
      (1L, passage + " plus tail one about spark plans"),
      (2L, passage + " plus a different tail about tile kernels"),
      (3L, "entirely unrelated text with no overlap whatsoever to the others at all"))
      .toDF("doc_id", "text")
    val probe = Seq((10L, passage + " arriving later in a new shard")).toDF("doc_id", "text")
    def pairs(dir: String) =
      Dedup.winnowProbeAtRest(spark, dir, probe, "doc_id", "text")
        .orderBy("base_id").as[(Long, Long, Long)].collect().toSeq

    val one = java.nio.file.Files.createTempDirectory("win_one").toString
    Dedup.winnowIngestAtRest(docs, "doc_id", "text", one)
    val got = pairs(one)
    // the probe shares the passage with docs 1 and 2, never 3
    assert(got.map(_._2) == Seq(1L, 2L), s"got $got")
    assert(got.forall(_._3 >= 5))

    // append is equivalent to a one-shot ingest of the union
    val two = java.nio.file.Files.createTempDirectory("win_two").toString
    Dedup.winnowIngestAtRest(docs.filter($"doc_id" < 3), "doc_id", "text", two)
    Dedup.winnowAppendAtRest(docs.filter($"doc_id" === 3), "doc_id", "text", two)
    assert(pairs(two) == got)

    // takedown: mask hides doc 1, purge makes it physical, results stable
    Dedup.winnowDeleteAtRest(Seq(1L).toDF("doc_id"), "doc_id", two)
    val masked = pairs(two)
    assert(masked.map(_._2) == Seq(2L))
    Dedup.winnowPurgeAtRest(spark, two)
    assert(pairs(two) == masked)
    assert(spark.read.parquet(AtRestStore.tablePath(spark, two, "fps")).filter($"id" === 1L).count() == 0)
    assert(AtRestStore.tableIfExists(spark, two, "tombstones").forall(_.isEmpty))
    // re-ingest voids the takedown
    Dedup.winnowIngestAtRest(docs, "doc_id", "text", two)
    assert(pairs(two) == got)
  }

  test("lsh takedown: tombstones mask probes, compact purges, re-delete is a no-op") {
    val normalA = "the quick brown fox jumps over the lazy dog again and again"
    val normalB = "completely different words about raster pyramids and tile overviews"
    val base = Seq((1L, normalA), (2L, normalB), (3L, normalA)).toDF("doc_id", "text")
    val probe = Seq((10L, normalA)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lsh_takedown_spec").toString
    Dedup.lshIngestAtRest(base, "doc_id", "text", dir)
    def hits() = Dedup.lshProbeAtRest(spark, dir, probe, "doc_id", "text")
      .select("base_id").as[Long].collect().toSet
    assert(hits() == Set(1L, 3L))
    Dedup.lshDeleteAtRest(Seq(1L).toDF("doc_id"), "doc_id", dir)
    Dedup.lshDeleteAtRest(Seq(1L).toDF("doc_id"), "doc_id", dir) // no-op
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "tombstones")).count() == 1)
    val masked = hits()
    assert(masked == Set(3L), s"tombstoned base still probed: $masked")
    Dedup.lshCompactAtRest(spark, dir)
    // purge is physical and semantics-preserving
    assert(hits() == masked)
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "shingles")).filter($"id" === 1L).count() == 0)
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "buckets")).filter($"id" === 1L).count() == 0)
    assert(AtRestStore.tableIfExists(spark, dir, "tombstones").forall(_.isEmpty))
    // a RE-INGEST voids outstanding takedowns: stale tombstones must
    // not silently mask freshly ingested docs
    Dedup.lshDeleteAtRest(Seq(3L).toDF("doc_id"), "doc_id", dir)
    Dedup.lshIngestAtRest(base, "doc_id", "text", dir)
    assert(hits() == Set(1L, 3L), "stale tombstone survived a re-ingest")
    // takedown against a dir that is not an ingested index fails loud
    val bogus = java.nio.file.Files.createTempDirectory("lsh_bogus").toString
    val e = intercept[IllegalArgumentException](
      Dedup.lshDeleteAtRest(Seq(1L).toDF("doc_id"), "doc_id", bogus))
    assert(e.getMessage.contains("not an ingested index"))
  }

  test("ivf-pq takedown: mask shrinks n_cand, purge preserves results and drops emptied cells") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_takedown_spec").toString
    Similarity.ivfPqIngest(emb, dir)
    def search() = Similarity.ivfPqTopKAtRest(spark, dir, qs, topK = 5, nprobe = 2)
      .orderBy("qid", "rank").collect().toSeq
    val before = search()
    val del = emb.filter(pmod($"vec_id", lit(3)) === 1).select("vec_id")
    Similarity.ivfPqDeleteAtRest(del, dir)
    val maskedRows = search()
    val delSet = del.as[Long].collect().toSet
    assert(maskedRows.forall(r => !delSet.contains(r.getAs[Long]("vec_id"))),
      "tombstoned vector surfaced in a masked search")
    assert(maskedRows.head.getAs[Long]("n_cand") <
      before.head.getAs[Long]("n_cand"), "n_cand must count survivors only")
    Similarity.ivfPqPurgeAtRest(spark, dir)
    assert(search() == maskedRows, "purge changed search results")
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "codes"))
      .join(del.withColumnRenamed("vec_id", "id"), Seq("id")).count() == 0)
    assert(AtRestStore.tableIfExists(spark, dir, "tombstones").forall(_.isEmpty))
  }

  test("bpe at-rest model: stored-table encode ≡ in-memory encode; empty model refused") {
    val docs = Seq(
      (1L, "low low low lower lowest"),
      (2L, "new newer newest low"),
      (3L, "one"))
      .toDF("doc_id", "text")
    val mt = Dedup.bpeTrain(docs, "doc_id", "text", rounds = 2)
    val dir = java.nio.file.Files.createTempDirectory("bpe_at_rest_spec").toString
    Dedup.bpeSaveAtRest(mt, dir)
    val merges = mt.orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val direct = Dedup.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().toSeq
    val stored = Dedup.bpeEncodeAtRest(docs, "doc_id", "text", dir)
      .orderBy("doc_id").collect().toSeq
    assert(stored == direct, "stored-model encode diverged from in-memory encode")
    // an empty merge table must be refused at save, not surface as a
    // silently-identity tokenizer at encode
    intercept[IllegalArgumentException](
      Dedup.bpeSaveAtRest(mt.filter(lit(false)), dir))
  }

  test("cdcChunkStats: chunks tile the text, copies are full dups, boundaries resync after insertion") {
    val base = (1 to 40).map(i => s"sentence number $i with some filler words").mkString(" ")
    val docs = Seq(
      (1L, base),            // first occurrence wins
      (2L, base),            // exact copy — every chunk a dup
      (3L, "tiny"),          // shorter than k=16: one whole-text chunk
      (4L, "PREFIX INSERTED " + base)) // boundaries resync downstream
      .toDF("doc_id", "text")
    // kernel invariant: chunks tile the text exactly (contiguous, full cover)
    graft.functions.GraftFunctions.register(spark)
    val tiles = docs.select($"doc_id", length($"text").as("n"),
        explode(call_function("cdc_chunks", $"text", lit(16), lit(64))).as("c"))
      .groupBy("doc_id", "n")
      .agg(sum($"c.len").as("covered"), min($"c.start").as("first"),
        count(lit(1)).as("nc"))
      .collect()
    tiles.foreach { r =>
      assert(r.getAs[Long]("covered") == r.getAs[Int]("n").toLong &&
        r.getAs[Int]("first") == 1,
        s"doc ${r.getAs[Long]("doc_id")} chunks do not tile its text")
    }
    val got = Dedup.cdcChunkStats(docs, "doc_id", "text", k = 16, d = 64)
      .orderBy("id").collect()
    val byId = got.map(r => r.getAs[Long]("id") -> r).toMap
    // doc 1 chunks all elected first (within-doc repeats aside, none here)
    assert(byId(1L).getAs[Long]("n_dup_chunks") == 0)
    // the exact copy loses every election: all chunks dup, all chars dup
    assert(byId(2L).getAs[Long]("n_dup_chunks") == byId(2L).getAs[Long]("n_chunks"))
    assert(byId(2L).getAs[Long]("dup_chars") == byId(2L).getAs[Long]("total_chars"))
    // short doc: one chunk, whole text
    assert(byId(3L).getAs[Long]("n_chunks") == 1 &&
      byId(3L).getAs[Long]("total_chars") == 4)
    // content-defined resync: the shifted copy still shares most chunks
    val d4 = byId(4L)
    assert(d4.getAs[Long]("dup_chars") > d4.getAs[Long]("total_chars") / 2,
      s"insertion should leave most chunk content shared, got " +
        s"${d4.getAs[Long]("dup_chars")}/${d4.getAs[Long]("total_chars")}")
    // empty text emits no chunks at all
    assert(Dedup.cdcChunkStats(Seq((9L, "")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
  }

  test("stupidBackoffScore: hand-computed level cascade (tri hit, bigram backoff, unigram floor)") {
    val Fp = 1048576.0
    // train: unigrams a:2 b:2 c:2 (N=6, V=3); bigrams "a b":2 "b c":2
    // "c a":1; trigrams "a b c":2 "b c a":1 "c a b":1
    val train = Seq((0L, "a b c a b c")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c d"), // "a b c" tri hit ln(2/2)=0; "b c d" → unigram floor
      (3L, "b a b"))   // "b a b" unseen tri, "a b" seen bigram → ln(0.4·2/2)
      .toDF("doc_id", "text")
    val got = TextAnalysis.stupidBackoffScore(train, score, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val uniFloor = math.floor(math.log(0.4 * 0.4 * 1.0 / 9.0) * Fp)
    val bigLp = math.floor(math.log(0.4) * Fp)
    assert(got == Seq(
      (1L, 2L, 0L, 1L, (0.0 + uniFloor) / Fp / 2.0),
      (3L, 1L, 1L, 0L, bigLp / Fp)))
  }

  test("weightedTake: exact k, deterministic, weight-monotone inclusion, loud on bad weights") {
    val rows = (0L until 200L).map(i => (i, if (i < 100) 1.0 else 50.0))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedTake(df, $"id", $"w", k = 40)
    assert(got.count() == 40)
    // re-run selects the identical set (content-stable draw, no RNG)
    val again = Sampling.weightedTake(df, $"id", $"w", k = 40)
    assert(got.select("id").collect().toSeq == again.select("id").collect().toSeq)
    // heavy rows (50× weight) dominate the sample but light rows CAN appear
    val ids = got.select("id").as[Long].collect()
    assert(ids.count(_ >= 100) > 25,
      s"50x-weighted half should dominate, got ${ids.count(_ >= 100)}/40")
    // same-weight rows rank purely by their hash draw: setting every
    // weight equal reduces E-S to a uniform k-take
    val uni = Sampling.weightedTake(df.withColumn("w", lit(1.0)), $"id", $"w", 40)
    assert(uni.count() == 40)
    // zero/negative weights fail loudly, never silently drop
    val bad = intercept[Exception](
      Sampling.weightedTake(df.withColumn("w", lit(0.0)), $"id", $"w", 5)
        .collect())
    assert(bad.getMessage.contains("non-positive weight"))
  }

  test("kAnonymityCensus: class sizes and at-risk flags; k gate enforced") {
    val df = Seq(
      ("en", "web"), ("en", "web"), ("en", "web"),
      ("en", "book"),
      ("fr", "web"), ("fr", "web"))
      .toDF("lang", "source")
    val got = TextAnalysis.kAnonymityCensus(df,
        Seq("lang" -> $"lang", "source" -> $"source"), k = 3)
      .orderBy("lang", "source")
      .as[(String, String, Long, Int)].collect().toSeq
    assert(got == Seq(("en", "book", 1L, 1), ("en", "web", 3L, 0),
      ("fr", "web", 2L, 1)))
    intercept[IllegalArgumentException](
      TextAnalysis.kAnonymityCensus(df, Seq("lang" -> $"lang"), k = 1))
    intercept[IllegalArgumentException](
      TextAnalysis.kAnonymityCensus(df, Seq.empty, k = 3))
  }

  test("bm25 at-rest index: probe ≡ from-scratch batch; append, delete, and compact preserve it") {
    val docs = Seq(
      (0L, "spark spark spark join"),
      (1L, "spark join merge filter scan"),
      (2L, "join merge filter scan batch"),
      (3L, "spark spark join merge filter scan batch row column value"),
      (4L, "merge merge batch"),
      (5L, "spark merge batch scan"))
      .toDF("doc_id", "text")
    val batch = Seq((0L, "spark"), (1L, "spark"), (1L, "merge"), (2L, "batch"))
      .toDF("qid", "term")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rank").collect().toSeq

    // ingest + probe ≡ the corpus-tokenizing batch form, bit-for-bit
    val dir = java.nio.file.Files.createTempDirectory("bm25_at_rest_spec").toString
    Retrieval.bm25IngestAtRest(docs, "doc_id", "text", dir, nBuckets = 4)
    val atRest = rows(Retrieval.bm25ProbeAtRest(spark, dir, batch, k = 10))
    val scratch = rows(Retrieval.bm25TopKBatch(docs, "doc_id", "text", batch, k = 10))
    assert(atRest == scratch, "at-rest probe diverged from the from-scratch form")

    // append is drift-free: base+append probe ≡ one-shot ingest of the union
    val dir2 = java.nio.file.Files.createTempDirectory("bm25_append_spec").toString
    Retrieval.bm25IngestAtRest(docs.filter($"doc_id" < 4), "doc_id", "text",
      dir2, nBuckets = 4)
    Retrieval.bm25AppendAtRest(docs.filter($"doc_id" >= 4), "doc_id", "text", dir2)
    assert(rows(Retrieval.bm25ProbeAtRest(spark, dir2, batch, k = 10)) == atRest,
      "appended index diverged from the one-shot union ingest")

    // tombstone delete: probe ≡ from-scratch over the surviving corpus;
    // re-deleting the same id is a no-op (stats not double-subtracted)
    Retrieval.bm25DeleteAtRest(Seq(0L, 4L).toDF("doc_id"), "doc_id", dir2)
    Retrieval.bm25DeleteAtRest(Seq(0L).toDF("doc_id"), "doc_id", dir2)
    val afterDel = rows(Retrieval.bm25ProbeAtRest(spark, dir2, batch, k = 10))
    val survivors = docs.filter(!$"doc_id".isin(0L, 4L))
    assert(afterDel == rows(Retrieval.bm25TopKBatch(
        survivors, "doc_id", "text", batch, k = 10)),
      "tombstone-masked probe diverged from the surviving-corpus replay")
    assert(!afterDel.exists(_.getAs[Long]("id") == 0L))

    // compaction is purely physical: identical probe, empty tombstones,
    // no tombstoned id left in the postings
    Retrieval.bm25CompactAtRest(spark, dir2)
    assert(rows(Retrieval.bm25ProbeAtRest(spark, dir2, batch, k = 10)) == afterDel,
      "compaction changed the probe result")
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir2, "tombstones")).count() == 0)
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir2, "postings"))
      .filter($"id".isin(0L, 4L)).count() == 0)

    // the bucket-count gate is adopted, not trusted: append reuses the
    // stored nBuckets so probes keep finding the appended postings
    val params = spark.read.parquet(AtRestStore.tablePath(spark, dir2, "params")).collect()
    assert(params.map(_.getAs[Int]("n_buckets")).toSeq == Seq(4))
  }

  test("bm25ProbeAtRest: at most 11 Spark jobs after an append and a delete, " +
    "equal to bm25TopKBatch over the surviving docs") {
    val docs = (0L until 40L).map { i =>
      (i, s"spark join w${i % 7} w${i % 5} merge ${"scan " * (1 + i % 3).toInt}")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25_probe_jobs").toString
    Retrieval.bm25IngestAtRest(docs.filter($"doc_id" < 30), "doc_id", "text",
      dir, nBuckets = 4)
    Retrieval.bm25AppendAtRest(docs.filter($"doc_id" >= 30), "doc_id", "text", dir)
    val batch = Seq((0L, "spark"), (0L, "w3"), (1L, "scan"), (1L, "w4"))
      .toDF("qid", "term")
    val sc = spark.sparkContext
    def jobsOf[T](body: => T): (T, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      org.apache.spark.graft.ListenerBus.drain(sc)
      sc.addSparkListener(counter)
      try {
        val r = body
        org.apache.spark.graft.ListenerBus.drain(sc)
        (r, jobs.get)
      } finally sc.removeSparkListener(counter)
    }
    // delete and compact run in every index update; the bounds are
    // their counts before the takedown protocol moved into AtRestStore
    val (_, deleteJobs) = jobsOf(
      Retrieval.bm25DeleteAtRest(Seq(2L, 31L).toDF("doc_id"), "doc_id", dir))
    assert(deleteJobs <= 5, s"delete ran $deleteJobs Spark jobs")
    val (got, probeJobs) = jobsOf(
      Retrieval.bm25ProbeAtRest(spark, dir, batch, k = 10).collect())
    assert(probeJobs <= 11, s"probe ran $probeJobs Spark jobs")
    val want = Retrieval.bm25TopKBatch(docs.filter(!$"doc_id".isin(2L, 31L)),
      "doc_id", "text", batch, k = 10).collect()
    def byRank(rs: Array[org.apache.spark.sql.Row]) =
      rs.sortBy(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"))).toSeq
    assert(got.length == 20 && byRank(got) == byRank(want))
    val (_, compactJobs) = jobsOf(Retrieval.bm25CompactAtRest(spark, dir))
    assert(compactJobs <= 11, s"compact ran $compactJobs Spark jobs")
    assert(byRank(Retrieval.bm25ProbeAtRest(spark, dir, batch, k = 10).collect())
      == byRank(want), "compaction changed the probe result")
  }

  test("takedown faces leave no pinned RDD: ingest, delete and " +
    "compact/purge of the BM25, LSH, winnowing and IVF-PQ stores") {
    val docs = (0L until 24L).map { i =>
      (i, s"a shared passage about raster tiles and overview pyramids " +
        s"number ${i % 4} with tail words ${i % 3} and a closing remark")
    }.toDF("doc_id", "text")
    val del = Seq(3L, 7L, 11L).toDF("doc_id")
    val emb = (0L until 24L).map { i =>
      (i, Array.tabulate(64)(d =>
        ((i % 4) * 0.25 + (if (d % 4 == i % 4) 1.0 else 0.0) + d * 0.001).toFloat))
    }.toDF("vec_id", "embedding")
    val stores: Seq[(String, Seq[(String, String => Unit)])] = Seq(
      "bm25" -> Seq(
        "ingest" -> (d => Retrieval.bm25IngestAtRest(docs, "doc_id", "text", d)),
        "delete" -> (d => Retrieval.bm25DeleteAtRest(del, "doc_id", d)),
        "compact" -> (d => Retrieval.bm25CompactAtRest(spark, d))),
      "lsh" -> Seq(
        "ingest" -> (d => Dedup.lshIngestAtRest(docs, "doc_id", "text", d)),
        "delete" -> (d => Dedup.lshDeleteAtRest(del, "doc_id", d)),
        "compact" -> (d => Dedup.lshCompactAtRest(spark, d))),
      "winnow" -> Seq(
        "ingest" -> (d => Dedup.winnowIngestAtRest(docs, "doc_id", "text", d)),
        "delete" -> (d => Dedup.winnowDeleteAtRest(del, "doc_id", d)),
        "purge" -> (d => Dedup.winnowPurgeAtRest(spark, d))),
      "ivfPq" -> Seq(
        "ingest" -> (d => Similarity.ivfPqIngest(emb, d)),
        "delete" -> (d => Similarity.ivfPqDeleteAtRest(
          del.select($"doc_id".as("vec_id")), d)),
        "purge" -> (d => Similarity.ivfPqPurgeAtRest(spark, d))))
    for ((store, faces) <- stores) {
      val dir = java.nio.file.Files.createTempDirectory(s"leak_$store").toString
      for ((face, run) <- faces) {
        val before = graft.core.Materialize.liveIds(spark)
        run(dir)
        val left = graft.core.Materialize.liveIds(spark) -- before
        assert(left.isEmpty, s"$store $face left pinned RDDs $left")
      }
    }
  }

  test("bm25ProbeAtRest fails loud on an initialized store before its first batch") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_probe_init").toString
    Retrieval.bm25InitAtRest(spark, dir, nBuckets = 4)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Retrieval.bm25ProbeAtRest(spark, dir,
        Seq((0L, "spark")).toDF("qid", "term"), k = 10).collect()
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("rrfFuse: hand-computed fixed-point fusion, both-list docs outrank singles") {
    // qid 0: sparse ranks a=1, b=2; dense ranks b=1, c=2
    val sparse = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("qid", "id", "rank")
    val dense = Seq((0L, 11L, 1), (0L, 12L, 2)).toDF("qid", "id", "rank")
    val got = Retrieval.rrfFuse(sparse, dense, k = 10)
      .orderBy("rank").as[(Long, Long, Long, Long, Int)].collect().toSeq
    val r = (n: Int) => 1048576L / (60L + n) // floor division on longs
    assert(got == Seq(
      (0L, 11L, r(2) + r(1), 2L, 1),  // in both lists -> fused first
      (0L, 10L, r(1), 1L, 2),         // sparse-only rank 1
      (0L, 12L, r(2), 1L, 3)))        // dense-only rank 2
  }

  test("bpe_merge kernel: greedy leftmost non-overlap; merged symbols re-merge later") {
    graft.functions.GraftFunctions.register(spark)
    def merge(toks: Seq[String], l: String, r: String): Seq[String] =
      Seq(Tuple1(toks)).toDF("w")
        .select(call_function("bpe_merge", col("w"), lit(l), lit(r)).as("m"))
        .as[Seq[String]].head()
    // overlap: "a a a" merges the FIRST pair only
    assert(merge(Seq("a", "a", "a"), "a", "a") == Seq("a a", "a"))
    // four in a row: two non-overlapping merges
    assert(merge(Seq("a", "a", "a", "a"), "a", "a") == Seq("a a", "a a"))
    // no match passes through; partial matches don't fire
    assert(merge(Seq("x", "a", "b", "y"), "a", "b") == Seq("x", "a b", "y"))
    assert(merge(Seq("a", "x", "b"), "a", "b") == Seq("a", "x", "b"))
    // a symbol merged earlier is a first-class alphabet member
    assert(merge(Seq("a b", "c"), "a b", "c") == Seq("a b c"))
  }

  test("bpeTrain: deterministic merge table on a hand corpus, merged pair re-merges") {
    // corpus: 3× "lo lo w", 2× "lo w er"
    // round 1 pairs: (lo,lo)=3, (lo,w)=3+2=5, (w,er)=2 → adopt (lo, w)
    //   rewrite: [lo, "lo w"]×3, ["lo w", er]×2
    // round 2 pairs: (lo, "lo w")=3, ("lo w", er)=2 → adopt (lo, "lo w")
    //   rewrite: ["lo lo w"]×3 (pairless), ["lo w", er]×2
    // round 3 pairs: ("lo w", er)=2 → adopt it — a round-1 MERGED
    //   symbol participating as a left side, the BPE recursion
    val d = (Seq.fill(3)("lo lo w") ++ Seq.fill(2)("lo w er"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Dedup.bpeTrain(d, "doc_id", "text", rounds = 3)
      .orderBy("round").as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1, "lo", "w", 5L),
      (2, "lo", "lo w", 3L),
      (3, "lo w", "er", 2L)))
    // exhaustion: asking for more rounds than the corpus has pairs
    // stops at the fixpoint instead of failing
    val tiny = Seq((0L, "a b")).toDF("doc_id", "text")
    val t = Dedup.bpeTrain(tiny, "doc_id", "text", rounds = 5)
      .orderBy("round").as[(Int, String, String, Long)].collect().toSeq
    assert(t == Seq((1, "a", "b", 1L)))
  }

  test("boilerplateStrip: hot segments drop everywhere, order kept, crumbs immune") {
    val bp = "subscribe to our newsletter"
    val refrain = "the bells toll again and again tonight"
    val d = Seq(
      (0L, Option(s"unique body zero alpha. $bp. more zero content here")),
      (1L, Option(s"$bp. unique body one beta")),
      (2L, Option(s"unique body two gamma. $bp")),
      (3L, Option(bp)),                       // all-boilerplate -> empty rewrite
      (4L, Option(s"unique body four delta. ok")), // "ok" < minLen: kept, uncounted
      // a refrain repeated INSIDE one doc: occurrence count 4 but
      // document frequency 1 — own content, must NOT strip
      (5L, Option(s"$refrain. $refrain. $refrain. $refrain")),
      (6L, None))                             // NULL text: row preserved
      .toDF("doc_id", "text")
    val bpDf = 4L // docs 0-3 carry the shared sentence
    val got = Dedup.boilerplateStrip(d, "doc_id", "text", maxDf = 3)
      .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 1L, "unique body zero alpha. more zero content here"),
      (1L, 1L, 1L, "unique body one beta"),
      (2L, 1L, 1L, "unique body two gamma"),
      (3L, 0L, 1L, ""),
      (4L, 2L, 0L, "unique body four delta. ok"),
      (5L, 4L, 0L, s"$refrain. $refrain. $refrain. $refrain"),
      (6L, 1L, 0L, ""))) // the empty segment of the empty text
    // at maxDf >= the boilerplate's document frequency, nothing drops
    val loose = Dedup.boilerplateStrip(d, "doc_id", "text", maxDf = bpDf.toInt)
    assert(loose.agg(sum("n_dropped")).head().getLong(0) == 0L)
  }

  test("containmentPairs: excerpt scores ~1 on its side where Jaccard stays low") {
    val source = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val excerpt = "alpha beta gamma delta epsilon zeta"   // prefix: 4 grams ⊂ 18
    val other = "one two three four five six seven eight nine ten"
    val d = Seq((0L, source), (1L, excerpt), (2L, other)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text", n = 3, maxDf = 8,
        threshold = 0.5)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSeq
    // source has 18 distinct 3-grams, excerpt 4, all shared
    assert(got == Seq((0L, 1L, 4L, 18L, 4L, 4.0 / 18, 1.0)))
    // the same pair's Jaccard is 4/18 — under every near-dup threshold
    assert(4.0 / 18 < 0.5)
    // threshold above the contained side's score drops the pair
    assert(Dedup.containmentPairs(d, "doc_id", "text", n = 3, maxDf = 8,
      threshold = 1.5).isEmpty)
  }

  test("substring dup stats: shared windows counted cross-doc, distinct within doc") {
    // k=4, stride=2: windows of "abcdefgh" at 1,3,5 -> abcd, cdef, efgh
    val df = Seq(
      (0L, "abcdefgh"),
      (1L, "abcdXYZW"),   // shares only the abcd window with doc 0
      (2L, "qrstuvwx"),   // shares nothing
      (3L, "ab"))         // shorter than k: one partial window
      .toDF("doc_id", "text")
    val out = Dedup.substringDupStats(df, "doc_id", "text", k = 4, stride = 2)
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("n_windows") == 3 && out(0).getAs[Long]("n_shared") == 1)
    assert(out(1).getAs[Long]("n_windows") == 3 && out(1).getAs[Long]("n_shared") == 1)
    assert(out(2).getAs[Long]("n_shared") == 0)
    assert(out(3).getAs[Long]("n_windows") == 1 && out(3).getAs[Long]("n_shared") == 0)
    assert(out(0).getAs[Double]("shared_frac") == 1.0 / 3)
    // a window repeated INSIDE one doc only is not "shared"
    val rep = Seq((9L, "abcdabcd")).toDF("doc_id", "text")
    val r = Dedup.substringDupStats(rep, "doc_id", "text", k = 4, stride = 4).head()
    assert(r.getAs[Long]("n_windows") == 1 && r.getAs[Long]("n_shared") == 0)
  }

  test("decontaminate: overlap counted against the benchmark gram set only") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq(
      (0L, "alpha beta gamma delta"),            // full overlap (2 grams, both hit)
      (1L, "alpha beta gamma nothing shared"),   // 1 of 3 grams hits
      (2L, "totally disjoint words entirely"))   // 0 hits, still reported
      .toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, bench, "doc_id", "text", n = 3)
      .orderBy("id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_grams") == 2 && out(0).getAs[Long]("n_hit") == 2)
    assert(out(0).getAs[Double]("contamination") == 1.0)
    assert(out(1).getAs[Long]("n_hit") == 1)
    assert(out(2).getAs[Long]("n_hit") == 0
      && out(2).getAs[Double]("contamination") == 0.0)
    // duplicate grams within a doc count once (distinct-gram semantics)
    val rep = Seq((7L, "alpha beta gamma alpha beta gamma delta")).toDF("doc_id", "text")
    val r = Dedup.decontaminate(rep, bench, "doc_id", "text", n = 3).head()
    assert(r.getAs[Long]("n_grams") == 4 && r.getAs[Long]("n_hit") == 2)
  }

  test("PII: emails and IPv4s counted and scrubbed; clean text untouched") {
    val df = Seq(
      (0L, "reach me at jane.doe+spam@mail.example.org or bob@x.io thanks"),
      (1L, "server at 192.168.1.254 and 10.0.0.1 responded"),
      (2L, "no contact info in this row at all"),
      (3L, "mixed a@b.co from 8.8.8.8"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.withPii(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_emails") == 2 && out(0).getAs[Int]("n_ipv4") == 0)
    assert(out(0).getAs[String]("redacted")
      == "reach me at <EMAIL> or <EMAIL> thanks")
    assert(out(1).getAs[Int]("n_ipv4") == 2
      && out(1).getAs[String]("redacted") == "server at <IP> and <IP> responded")
    assert(out(2).getAs[Int]("has_pii") == 0
      && out(2).getAs[String]("redacted") == out(2).getAs[String]("text"))
    assert(out(3).getAs[String]("redacted") == "mixed <EMAIL> from <IP>")
    // redaction is idempotent: a scrubbed text has no remaining matches
    val re = TextAnalysis.withPii(
      TextAnalysis.withPii(df).select($"doc_id", $"redacted".as("text")))
    assert(re.agg(sum("n_emails") + sum("n_ipv4")).head().getLong(0) == 0L)
  }

  test("adjacentPairCounts: exact pair multiplicities; 1-token docs contribute nothing") {
    val df = Seq(
      (0L, "a b a b c"),   // pairs: "a b","b a","a b","b c"
      (1L, "a b"),         // pair:  "a b"
      (2L, "solo"),        // no pairs
      (3L, "  a   b  "))   // whitespace runs collapse: "a b"
      .toDF("doc_id", "text")
    val got = Dedup.adjacentPairCounts(df, "doc_id", "text")
      .as[(String, Long, Long)].collect()
      .map { case (p, o, d2) => p -> ((o, d2)) }.toMap
    assert(got == Map("a b" -> ((4L, 3L)), "b a" -> ((1L, 1L)), "b c" -> ((1L, 1L))))
  }

  test("matryoshka: energy fraction and renormalized component from in-order folds") {
    val df = Seq(
      (0L, Array(3.0f, 4.0f, 0.0f, 0.0f)), // full norm 5, m=2 norm 5 -> all energy kept
      (1L, Array(1.0f, 0.0f, 1.0f, 1.0f)), // m=2 keeps 1 of 3
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector: guarded, no NaN
      .toDF("vec_id", "embedding")
    val r = Similarity.matryoshka(df, m = 2)
      .orderBy("vec_id")
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(r(0) == ((0L, 5.0, 5.0, 1.0, 3.0 / 5.0)))
    assert(r(1)._2 == math.sqrt(3.0) && r(1)._3 == 1.0)
    assert(r(1)._4 == 1.0 / 3.0 && r(1)._5 == 1.0)
    assert(r(2) == ((2L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("oovStats: top-K vocab by (count desc, token asc); occurrences counted, not types") {
    val df = Seq(
      (0L, "a a a b b c"), // a:3 b:2 c:1
      (1L, "c c d"))       // c:2 d:1  => counts a3 b2 c3 d1; top2 = a,c (c ties b? c=3 > b=2)
      .toDF("doc_id", "text")
    val got = TextAnalysis.oovStats(df, "doc_id", "text", vocabSize = 2)
      .orderBy("id").as[(Long, Long, Long, Double)].collect()
    // vocab = {a(3), c(3)} (count desc, then token asc among ties)
    assert(got(0) == ((0L, 6L, 4L, 2.0 / 6.0))) // b b out
    assert(got(1) == ((1L, 3L, 2L, 1.0 / 3.0))) // d out
  }

  test("chunkWindows: stride overlap, short-doc single chunk, content md5") {
    val df = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens, window 4 stride 3
      (1L, "one two"))                                // short: single chunk
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkWindows(df, "doc_id", "text", window = 4, stride = 3)
      .orderBy("id", "chunk_id")
      .as[(Long, Int, Int, String)].collect()
    // doc 0: ceil((10-4)/3)=2 -> chunks 0,1,2 with starts 1,4,7
    val exp0 = Seq(Seq(1, 2, 3, 4), Seq(4, 5, 6, 7), Seq(7, 8, 9, 10))
    assert(got.count(_._1 == 0L) == 3)
    got.filter(_._1 == 0L).zip(exp0).foreach { case ((_, cid, n, h), toks) =>
      assert(n == 4)
      val txt = toks.map(i => s"t$i").mkString(" ")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(txt.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(h == md, s"chunk $cid")
    }
    assert(got.filter(_._1 == 1L).toSeq.map(c => (c._2, c._3)) == Seq((0, 2)))
  }

  test("temperatureMix: sqrt weights upweight small sources; rates clamp at 1; kept <= n") {
    // 400 docs in src_big, 16 in src_small: proportional sampling at
    // B=100 would keep ~96/4; sqrt weights shift toward the tail
    val df = ((0 until 400).map(i => (i.toLong, "src_big")) ++
      (400 until 416).map(i => (i.toLong, "src_small")))
      .toDF("doc_id", "source")
    val got = Sampling.temperatureMix(df, "source", "doc_id", budget = 100)
      .orderBy("stratum").as[(String, Long, Double, Long)].collect()
    val big = got(0); val small = got(1)
    assert(big._1 == "src_big" && big._2 == 400L)
    assert(small._1 == "src_small" && small._2 == 16L)
    // sqrt weighting: w_big/w_small = sqrt(400/16) = 5 -> rates
    // big = 100*20/(24*400) ~ 0.208, small = 100*4/(24*16) ~ 1.04 -> clamped 1.0
    assert(small._3 == 1.0 && small._4 == 16L) // tail kept whole
    assert(big._3 > 0.18 && big._3 < 0.24)
    assert(big._4 <= big._2 && big._4 > 0)
    // idempotent: the same call keeps the same rows
    val again = Sampling.temperatureMix(df, "source", "doc_id", budget = 100)
      .orderBy("stratum").as[(String, Long, Double, Long)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("normalizedDedup: case/punct/whitespace variants collapse; distinct texts don't") {
    val df = Seq(
      (0L, "Hello,  World!"),
      (1L, "hello world"),
      (2L, "HELLO ... world"),
      (3L, "another document"))
      .toDF("doc_id", "text")
    val got = Dedup.normalizedDedup(df, "doc_id", "text")
      .filter($"n_copies" > 1).as[(String, Long, Long)].collect()
    assert(got.length == 1 && got.head._2 == 0L && got.head._3 == 3L)
  }

  test("aHash: invariant under uniform brightness shift, distinct across patterns; buckets dedup") {
    def png(k: Int, shift: Int): Array[Byte] = {
      val pix = Array.tabulate(16 * 16) { i =>
        val x = i % 16; val y = i / 16
        val v = ((x * (k + 3) + y * (2 * k + 5)) % 7) * 32 + shift
        0xff000000 | (v << 16) | (v << 8) | v
      }
      graft.sources.Png.encode(16, 16, pix)
    }
    val base = Multimodal.aHashOf(png(1, 0)).get
    assert(Multimodal.aHashOf(png(1, 24)).get == base) // shift cancels in mean
    assert(Multimodal.aHashOf(png(2, 0)).get != base)  // different pattern
    assert(Multimodal.aHashOf("not an image".getBytes("UTF-8")).isEmpty)
    // bucket contract over the synthetic media: ids with equal id%7
    // collapse regardless of the odd-id brightness shift
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val docs = spark.range(14).select($"id".as("doc_id"))
    val buckets = Multimodal.imageHashBuckets(Multimodal.syntheticPngMedia(docs))
      .as[(Long, Long, Long)].collect()
    assert(buckets.length == 7 && buckets.forall(_._2 == 2L))
    assert(buckets.map(_._3).sorted.toSeq == (0L to 6L))
  }

  test("minhashCrossMatch: train-bench fuzzy hits with argmax pick; no within-corpus pairs") {
    val mk = (id: Long, t: String) => (id, t)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val train = Seq(
      mk(0L, base),                       // near-identical to bench doc 10
      mk(2L, "completely different words nothing shared here at all zone"),
      mk(4L, base.replace("today", "tonight"))) // also close to 10
      .toDF("doc_id", "text")
    val bench = Seq(
      mk(10L, base + " extra"),
      mk(12L, "unrelated benchmark prompt with its own vocabulary set"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashCrossMatch(train, bench, "doc_id", "text",
        threshold = 0.3)
      .orderBy("id_t").as[(Long, Long, Double, Long)].collect()
    // contaminated train docs only; doc 2 never appears
    assert(got.map(_._1).toSet.subsetOf(Set(0L, 4L)))
    val hit0 = got.find(_._1 == 0L).get
    assert(hit0._4 == 10L && hit0._3 > 0.5)
    // train docs 0 and 4 are near-dups of EACH OTHER but cross-match
    // never pairs within a corpus (their pair is absent by shape)
    assert(got.forall(r => r._4 >= 10L))
  }

  test("tfidfCosinePairs: identical docs hit cosine 1.0; disjoint docs never pair; maxDf drops hubs") {
    val df = Seq(
      (0L, "red fish blue fish swim deep"),
      (1L, "red fish blue fish swim deep"),  // exact copy of 0
      (2L, "green bird tall tree sing loud"), // disjoint from 0/1
      (3L, "red fish blue fish jump high"))   // shares a 3-gram prefix with 0/1
      .toDF("doc_id", "text")
    val got = Retrieval.tfidfCosinePairs(df, "doc_id", "text",
        n = 3, maxDf = 10, threshold = 0.0)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    // sqrt(n2)*sqrt(n2) rounds a couple of ulps off n2, so the self-pair
    // cosine is 1 ± 2^-51 (deterministic — the oracle rounds identically)
    assert(math.abs(got.find(r => r._1 == 0L && r._2 == 1L).get._3 - 1.0) < 1e-12)
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
    assert(pairs((0L, 3L)) && pairs((1L, 3L)))
    val partial = got.find(r => r._1 == 0L && r._2 == 3L).get._3
    assert(partial > 0.0 && partial < 1.0)
    // a maxDf of 1 drops every term shared by two docs -> no pairs at all
    val none = Retrieval.tfidfCosinePairs(df, "doc_id", "text",
      n = 3, maxDf = 1, threshold = 0.0).count()
    assert(none == 0L)
  }

  test("bloom filter: no false negatives; tiny filter forces audited false positives") {
    val seen = Seq("alpha", "beta", "gamma").toDF("key")
    val bits = Dedup.bloomBits(seen, "key", numBits = 64, numHashes = 3)
    val b = bits.as[Seq[Long]].collect().head
    assert(b.size <= 9 && b == b.sorted && b.forall(p => p >= 0 && p < 64))
    val probes = (Seq("alpha", "beta", "gamma") ++ (0 until 200).map(i => s"novel$i"))
      .toDF("key")
    val got = Dedup.bloomProbe(probes, "key", bits, numBits = 64, numHashes = 3)
      .as[(String, Boolean)].collect().toMap
    // every inserted key answers maybe (no false negatives)
    assert(Seq("alpha", "beta", "gamma").forall(got(_)))
    // with <=9 of 64 bits set, most of 200 novels are rejected, some
    // collide (fp rate ~ (9/64)^3 ~ 0.3%) — all deterministic
    val fps = (0 until 200).count(i => got(s"novel$i"))
    assert(fps < 20, s"fp count $fps")
  }

  test("topDuplicatedGrams: occurrence multiplicity, doc frequency, partial grams excluded") {
    val df = Seq(
      (0L, "a b c a b c x"),  // "a b c" twice in doc 0
      (1L, "a b c d"),        // once more in doc 1; "b c d" once
      (2L, "p q"))            // too short for a 3-gram
      .toDF("doc_id", "text")
    val got = Dedup.topDuplicatedGrams(df, "doc_id", "text", n = 3, k = 10)
      .as[(String, Long, Long)].collect()
    // only "a b c" is duplicated (3 occurrences across 2 docs);
    // "b c a"/"c a b"/"b c d"... are singletons, doc 2 contributes none
    assert(got.toSeq == Seq(("a b c", 3L, 2L)))
  }

  test("dupGramStats: within-doc duplicated 2-gram mass; short docs report zero") {
    val df = Seq(
      (0L, "a b a b a"), // 2-grams: "a b","b a","a b","b a" -> all 4 dup
      (1L, "x y z"),     // "x y","y z" -> none dup
      (2L, "solo"))      // no 2-gram
      .toDF("doc_id", "text")
    val got = TextAnalysis.dupGramStats(df, "doc_id", "text", n = 2)
      .orderBy("id").as[(Long, Long, Double, Double)].collect()
    assert(got(0) == ((0L, 4L, 1.0, 1.0)))
    assert(got(1) == ((1L, 2L, 0.0, 0.0)))
    assert(got(2) == ((2L, 0L, 0.0, 0.0)))
  }

  test("perplexityBuckets: per-group ntile on the LM score, desc order, id tie-break") {
    // corpus LM: common tokens score higher; doc of rare tokens lands
    // in the tail bucket of its group
    val df = Seq(
      (0L, "a a a a", "g1"), // all high-frequency -> best score in g1
      (1L, "a a b b", "g1"),
      (2L, "x y z w", "g1"), // singletons -> worst score in g1
      (3L, "a a a b", "g2"),
      (4L, "q r s t", "g2"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.perplexityBuckets(df, "doc_id", "text", "lang", nBuckets = 2)
      .select("id", "grp", "ppl_bucket")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._3)).toSeq ==
      Seq((0L, 1), (1L, 1), (2L, 2), (3L, 1), (4L, 2)))
    // ntile(2) over 3 rows puts 2 in the first bucket (remainder-first)
    assert(got.count(r => r._2 == "g1" && r._3 == 1) == 2)
  }

  test("source mix stats: integer aggregates per source, rate from counts") {
    val df = Seq(
      // src0: one keeper, one too-short doc (n_tokens < 5 fails)
      (0L, "the quick brown fox jumps over the lazy dog today", "src0"),
      (1L, "no", "src0"),
      // src1: all kept
      (2L, "a plain sentence with enough distinct normal words here", "src1"))
      .toDF("doc_id", "text", "source")
    val v = TextAnalysis.qualityVerdict(df)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("keep").as("n_keep"),
        sum(when($"keep" === 1, $"n_tokens").otherwise(0)).as("kept_tokens"))
      .withColumn("keep_rate", $"n_keep".cast("double") / $"n_docs")
      .orderBy("source").collect()
    assert(v(0).getAs[Long]("n_docs") == 2 && v(0).getAs[Long]("n_keep") == 1)
    assert(v(0).getAs[Long]("kept_tokens") == 10 && v(0).getAs[Double]("keep_rate") == 0.5)
    assert(v(1).getAs[Long]("n_keep") == 1 && v(1).getAs[Double]("keep_rate") == 1.0)
  }

  test("hashedNgramScore: gram counts, bounded mean, keep threshold, text-determinism") {
    val df = Seq(
      (0L, "the quick brown fox"), // 4 uni + 3 bi = 7 grams
      (1L, "the quick brown fox"), // identical text -> identical score
      (2L, "solo"),                // 1 uni + 1 fallback "bigram" = 2 grams
      (3L, "completely different words here now"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.hashedNgramScore(df, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Long, Long, Double, Int)].collect()
    assert(got.map(_._2).toSeq == Seq(7L, 7L, 2L, 9L))
    // identical text -> identical sum and verdict
    assert(got(0)._3 == got(1)._3 && got(0)._5 == got(1)._5)
    // weights live in [-1, 1] fixed-point, so the mean must too
    assert(got.forall(r => r._4 >= -1.0 && r._4 <= 1.0))
    assert(got.forall(r => (r._5 == 1) == (r._3 >= 0)))
  }

  test("knnGraph: scalar multiples rank first at cosine 1; no self edges; rank <= k") {
    val dir = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val emb = Seq(
      (0L, dir),
      (1L, dir.map(_ * 2)),  // same direction -> same bucket, cosine 1
      (2L, dir.map(_ * 3)),  // same direction
      (3L, dir.map(x => -x)) // opposite -> different bucket, unreachable
    ).toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(emb, k = 2, planes = 4)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // each of 0,1,2 sees exactly the other two at cosine ~1, id tie-break
    for (id <- Seq(0L, 1L, 2L)) {
      val nbrs = g(id)
      assert(nbrs.length == 2)
      assert(nbrs.map(_._3).toSeq == Seq(0L, 1L, 2L).filter(_ != id))
      assert(nbrs.forall(n => math.abs(n._4 - 1.0) < 1e-9))
      assert(nbrs.forall(n => n._3 != id))
    }
    // vector 3 is alone in its bucket -> no rows at all
    assert(!g.contains(3L))
  }

  test("curationFunnel: gates narrow cumulatively — quality, then PII, then encoding") {
    val good = "the quick brown fox jumps over lazy dogs today"
    val df = Seq(
      (0L, good, "srcA"),                                    // survives everything
      (1L, "reach me at someone@example.com for details today", "srcA"), // PII
      (2L, good + " \uFFFD", "srcA"),                  // mojibake
      (3L, "a a a a a a", "srcA"))                           // fails quality (diversity)
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.curationFunnel(df, "source", "text")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(("srcA", 4L, 3L, 2L, 1L, 0.25)))
  }

  test("familyOverlapMatrix: an exact duplicate pair fires all four families") {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val df = Seq((0L, t), (1L, t), (2L, "zzz wholly unrelated content words here"))
      .toDF("doc_id", "text")
    val got = Dedup.familyOverlapMatrix(df, "doc_id", "text")
      .as[(Long, Long, String)].collect()
    assert(got.toSeq == Seq((15L, 1L, "minhash+winnow+ngram+edit")))
  }

  test("editVerifiedPairs: a middle edit passes the verify; heavy edits fail it") {
    val base = "the quick brown fox jumps over the lazy dog again and again ok"
    val edited = base.replace("jumps", "jumped") // 2 edits, middle of the text
    val heavy = base.take(10) + " completely rewritten tail that shares almost nothing more"
    val df = Seq((0L, base), (1L, edited), (2L, heavy))
      .toDF("doc_id", "text")
    val got = Dedup.editVerifiedPairs(df, "doc_id", "text")
      .as[(Long, Long, Int, Int, Double)].collect()
    // sort order: heavy ("the c...") < edited ("the quick...jumped") < base;
    // candidates (2,1) heavy-edited: fails verify; (1,0) edited-base: passes
    assert(got.length == 1)
    val r = got(0)
    assert(Set(r._1, r._2) == Set(0L, 1L))
    assert(r._4 == 2 && r._5 > 0.95)
  }

  test("sortedNeighborPairs: successor pairs within block, ladder grades, below-threshold dropped") {
    val base = "a shared prefix that runs well past sixty four characters in total x"
    val df = Seq(
      (5L, base + " tail one"),   // three docs agreeing on 64+ chars:
      (1L, base + " tail two"),   // adjacent in sort order -> 2 pairs
      (9L, base + " tail three"),
      (3L, "a different text entirely"), // same 'a ' block, agrees only to level 2 -> dropped
      (7L, "zz far away block"))
      .toDF("doc_id", "text")
    val got = Dedup.sortedNeighborPairs(df, "doc_id", "text")
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Int)].collect()
    // sort order of tails: "one" < "three" < "two" -> 5,9,1 adjacency
    assert(got.toSeq == Seq((5L, 9L, 64), (9L, 1L, 64)))
  }

  test("tokenizerFertility: exact char/word/subword masses and ratio chain") {
    val df = Seq(
      (0L, "ab cd-ef", "srcA"),        // 2 words; subwords ab,cd,-,ef = 4
      (1L, "hello world 123", "srcA"), // 3 words; 3 subwords
      (2L, "x", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.tokenizerFertility(df, "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(got.toSeq == Seq(
      ("srcA", 2L, 23L, 5L, 7L, 23.0 / 5, 23.0 / 7, 7.0 / 5),
      ("srcB", 1L, 1L, 1L, 1L, 1.0, 1.0, 1.0)))
  }

  test("encodingHealth: mojibake, control chars and the ASCII floor each flag independently") {
    val df = Seq(
      (0L, "clean ascii text", "srcA"),
      (1L, "broken \uFFFD decode", "srcA"),   // replacement char
      (2L, "bell\u0007embedded", "srcB"),     // C0 control
      (3L, "ööööööööööööööööööö ok", "srcB"), // 19 non-ascii of 22 -> fails floor
      (4L, "fine text here", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.encodingHealth(df, "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Long, Double)].collect()
    val a = got(0); val b = got(1)
    assert(a._1 == "srcA" && a._2 == 2L && a._3 == 1L && a._4 == 0L && a._5 == 1L)
    assert(b._1 == "srcB" && b._2 == 3L && b._3 == 0L && b._4 == 1L && b._5 == 2L)
    assert(a._8 < 1.0 && b._8 < 1.0) // corrupt chars count against the mass
  }

  test("distributionDrift: identical snapshots score zero; shifted magnitudes match a scalar replay") {
    val same = ((0L until 8L).map(i => (i, 10L))).toDF("doc_id", "n")
    val zero = TextAnalysis.distributionDrift(same, col("n"), col("doc_id") % 2 === 1)
      .as[(Int, Long, Long, Double, Double, Long)].collect()
    assert(zero.length == 1 && zero(0)._6 == 0L) // p_old == p_new exactly
    // old: all 10s (bucket 4), new: all 100s (bucket 7)
    val shifted = ((0L until 8L).map(i =>
      (i, if (i % 2 == 1) 100L else 10L))).toDF("doc_id", "n")
    val got = TextAnalysis.distributionDrift(shifted, col("n"), col("doc_id") % 2 === 1)
      .orderBy("bucket")
      .as[(Int, Long, Long, Double, Double, Long)].collect()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((4, 4L, 0L), (7, 0L, 4L)))
    // scalar replay of the smoothing + fixed-point PSI rule
    for (r <- got) {
      val pOld = (r._2 + 1).toDouble / (4 + 2)
      val pNew = (r._3 + 1).toDouble / (4 + 2)
      assert(r._4 == pOld && r._5 == pNew)
      assert(r._6 == math.floor((pNew - pOld) * math.log(pNew / pOld) * 1048576.0).toLong)
      assert(r._6 > 0L) // genuine drift contributes positively
    }
  }

  test("hammingNearDup: parallel vectors pair at distance 0; opposed vectors never candidate") {
    val dir = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val emb = Seq(
      (0L, dir),
      (1L, dir.map(_ * 2)),   // same sign pattern -> identical signature
      (2L, dir.map(x => -x)), // every plane flips -> no shared band
      (3L, Array.tabulate(64)(i => (if (i % 2 == 0) 1f else -1f))))
      .toDF("vec_id", "embedding")
    val got = Similarity.hammingNearDup(emb)
      .as[(Long, Long, Int)].collect()
    assert(got.toSeq == Seq((0L, 1L, 0)))
    // the signature really is the 32-plane bucket: distance matches a
    // direct recompute from bucketCol signatures
    graft.functions.GraftFunctions.register(spark)
    val sigs = emb.select(col("vec_id"),
      Similarity.bucketCol(col("embedding"), 32).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) == 0)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) == 32)
  }

  test("canonicalByQuality: argmax quality wins the cluster with id tie-break; singletons keep themselves") {
    val docs = Seq((0L, 5L), (1L, 9L), (2L, 9L), (7L, 1L))
      .toDF("doc_id", "quality")
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.canonicalByQuality(docs, "doc_id", pairs, col("quality"))
      .orderBy("id")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got.toSeq == Seq(
      (0L, 0L, 5L, false),
      (1L, 0L, 9L, true),  // q=9 beats q=5; ties with id 2 -> lower id
      (2L, 0L, 9L, false),
      (7L, 7L, 1L, true))) // singleton keeps itself
  }

  test("chunkStitch: directional boundary match found; hub boundaries capped; short rows excluded") {
    val k = 8
    val overlap = "BOUNDARY"                       // exactly k chars
    val a = "first part text " + overlap          // tail-8 == overlap
    val b = overlap + " second part text"         // head-8 == overlap
    val hub = (0 until 10).map(i => (100L + i, "HUBHUBHU" + s" hub copy $i"))
    val feeder = (50L, "feeder row text " + "HUBHUBHU")
    val df = ((0L, a) +: (1L, b) +: (2L, "unrelated content entirely") +:
      (3L, "tiny") +: feeder +: hub).toDF("doc_id", "text")
    val got = Dedup.chunkStitch(df, "doc_id", "text", k = k, maxDf = 8)
      .as[(Long, Long, String)].collect()
    // 0 -> 1 found; the reverse direction does not exist; the feeder's
    // 10 candidate hub heads exceed maxDf and are dropped wholesale;
    // the 4-char row never participates
    assert(got.map(r => (r._1, r._2)).toSeq == Seq((0L, 1L)))
  }

  test("calibrationBuckets: matches a per-doc replay of the score/bucket rule; counts conserve") {
    val df = Seq(
      (0L, "the quick brown fox jumps", "en"),
      (1L, "the quick brown fox jumps", "en"), // identical text, same bucket
      (2L, "uno dos tres cuatro cinco seis", "es"),
      (3L, "completely different words here now", "en"),
      (4L, "short", "fr"))
      .toDF("doc_id", "text", "lang")
    val perDoc = TextAnalysis.hashedNgramScore(df, "doc_id", "text")
      .join(df.select(col("doc_id").as("id"), (col("lang") === "en").as("y")), "id")
      .as[(Long, Long, Long, Double, Int, Boolean)].collect()
    // replay the fixed-width bucket rule + fixed-point means in Scala
    val expected = perDoc.groupBy { r =>
      math.min(math.max(math.floor((r._4 + 1.0) * 5.0).toInt, 0), 9)
    }.map { case (b, rs) =>
      val mwSum = rs.map(r => math.floor(r._4 * 1048576.0).toLong).sum
      (b, rs.length.toLong, rs.count(_._6).toLong,
        rs.count(_._6).toDouble / rs.length,
        mwSum.toDouble / 1048576.0 / rs.length)
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.calibrationBuckets(df, "doc_id", "text",
        col("lang") === "en")
      .orderBy("bucket")
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == 5L)
  }

  test("lloydRefine: identical vectors collapse to their own centroid at zero inertia; rounds=0 histograms the init") {
    val v = Array.tabulate(64)(i => (0.3f * (i % 5 - 2)))
    val emb = (0L until 5L).map(id => (id, v)).toDF("vec_id", "embedding")
    // one Lloyd round: the surviving cluster's centroid is the fixed-point
    // mean of five identical vectors -> re-assignment distance quantizes
    // to zero at 2^20, and the dead clusters re-index the survivor to 0
    val r1 = Similarity.lloydRefine(emb, k = 8, rounds = 1)
      .as[(Int, Long, Long, Double)].collect()
    assert(r1.toSeq == Seq((0, 5L, 0L, 0.0)))
    // rounds=0 reports the init-formula assignment: one bucket, all rows
    val r0 = Similarity.lloydRefine(emb, k = 8, rounds = 0)
      .as[(Int, Long, Long, Double)].collect()
    assert(r0.length == 1 && r0(0)._2 == 5L && r0(0)._3 > 0L)
    // deterministic: a second run is bit-identical
    val r1b = Similarity.lloydRefine(emb, k = 8, rounds = 1)
      .as[(Int, Long, Long, Double)].collect()
    assert(r1.toSeq == r1b.toSeq)
  }

  test("lloydRefine: separated clusters, dead init centroids re-index, two rounds") {
    // clusters of 6, 10 and 14 points jittered around init centroids
    // 1, 4 and 6 with growing spread; the other five init centroids win
    // no point and drop out in round one, so the survivors re-index to
    // 0..2 before round two
    def init(c: Int, i: Int) = ((c * 37 + i * 13) % 41 - 20) / 10.0
    val emb = (for ((c, n) <- Seq(1 -> 6, 4 -> 10, 6 -> 14); j <- 0 until n) yield {
      (c * 100L + j, Array.tabulate(64)(i =>
        (init(c, i) + 0.01 * n * ((j * 7 + i * 3) % 5 - 2)).toFloat))
    }).toDF("vec_id", "embedding")
    val got = Similarity.lloydRefine(emb, k = 8, rounds = 2)
      .select("cluster", "n", "inertia_fp").as[(Int, Long, Long)]
      .collect().sorted.toSeq
    // captured from the standalone Lloyd loop this operator used to run
    assert(got == Seq((0, 6L, 2824862L), (1, 10L, 13421766L), (2, 14L, 36685472L)))
  }

  // one leak test per iterative loop, named "<loop> leaves no pinned RDD behind"
  private def leakDocs = (0 until 3).map(i =>
    (i.toLong, (0 until 24).map(t => s"t$t").mkString(" "))).toDF("doc_id", "text")
  private def leakEmb = {
    val v = Array.tabulate(64)(i => (0.1f * (i % 7 - 3)))
    (0L until 6L).map(id => (id, v)).toDF("vec_id", "embedding")
  }
  Seq[(String, () => Unit)](
    // 10 rounds cross the 8-round re-pin boundary
    "bpeTrain" -> (() =>
      assert(Dedup.bpeTrain(leakDocs, "doc_id", "text", rounds = 10).collect().length == 10)),
    "lloydRefine" -> (() =>
      assert(Similarity.lloydRefine(leakEmb, k = 4, rounds = 2).collect().length == 1)),
    "fitIvf" -> (() =>
      assert(Similarity.fitIvf(leakEmb, k = 2, iters = 2).centroids.length == 2)),
    "farthestFirst" -> (() =>
      assert(Similarity.farthestFirst(leakEmb, k = 3).collect().length == 3))
  ).foreach { case (name, run) =>
    test(s"$name leaves no pinned RDD behind") {
      val before = graft.core.Materialize.liveIds(spark)
      run()
      assert((graft.core.Materialize.liveIds(spark) -- before).isEmpty,
        s"$name left a pinned RDD")
    }
  }

  test("dedupSavings: cross-source duplicate loses to the earlier source; uniques keep everything") {
    val df = Seq(
      (0L, "one two three", "srcA"),   // canonical (min id for this text)
      (1L, "one two three", "srcA"),   // within-source dup
      (2L, "one two three", "srcB"),   // cross-source dup -> lost to srcA
      (3L, "four five", "srcB"))       // unique
      .toDF("doc_id", "text", "source")
    val got = Dedup.dedupSavings(df, "doc_id", "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq(
      ("srcA", 2L, 1L, 6L, 3L, 0.5),
      ("srcB", 2L, 1L, 5L, 2L, 0.4)))
  }

  test("sourceMinhashOverlap: identical sources agree on every hash, disjoint sources on none") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon", "srcA"),
      (1L, "alpha beta gamma delta epsilon", "srcB"), // same content, other source
      (2L, "zeta eta theta iota kappa", "srcC"))      // disjoint grams
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceMinhashOverlap(df, "doc_id", "source", "text")
      .orderBy("src_a", "src_b")
      .as[(String, String, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSeq ==
      Seq(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")))
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    // identical shingle sets -> every one of the 64 minima agrees
    assert(byPair(("srcA", "srcB"))._3 == 64L)
    assert(byPair(("srcA", "srcB"))._4 == 1.0)
    // disjoint shingle sets -> agreement only via affine collisions (none here)
    assert(byPair(("srcA", "srcC"))._3 == 0L)
    assert(byPair(("srcB", "srcC"))._3 == 0L)
  }

  test("tripletMine: hardest positive is the far same-label member, hardest negative the impostor") {
    val dir = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val near = dir.clone(); near(5) = near(5) + 0.5f // same signs, cosine < 1
    val emb = Seq(
      (0L, dir, 0),           // anchor class 0
      (1L, dir.map(_ * 2), 0), // parallel twin, cosine 1
      (2L, near, 0),           // perturbed member, cosine < 1
      (3L, dir.map(_ * 4), 1), // impostor: other label, cosine 1
      (4L, dir.map(x => -x), 1)) // opposite bucket, unreachable
      .toDF("vec_id", "embedding", "label")
    // fixture precondition: 0..3 co-bucket, 4 does not
    graft.functions.GraftFunctions.register(spark)
    val buckets = emb.select(col("vec_id"),
      Similarity.bucketCol(col("embedding"), 4).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(i => buckets(i) == buckets(0L)))
    assert(buckets(4L) != buckets(0L))
    val got = Similarity.tripletMine(emb, planes = 4)
      .orderBy("vec_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L)) // 4 is alone
    val byId = got.map(r => r.getLong(0) -> r).toMap
    // anchors 0 and 1: hardest positive is the PERTURBED member (min
    // cosine), not the parallel twin; hardest negative the impostor
    for (id <- Seq(0L, 1L)) {
      assert(byId(id).getLong(2) == 2L && byId(id).getDouble(3) < 1.0 - 1e-9)
      assert(byId(id).getLong(4) == 3L && math.abs(byId(id).getDouble(5) - 1.0) < 1e-9)
    }
    // anchor 2: both positives are parallel (equal cosine) -> id tie-break to 0
    assert(byId(2L).getLong(2) == 0L)
    // anchor 3: no same-label neighbor in bucket -> NULL positive side;
    // hardest negative is a parallel vector at cosine ~1
    assert(byId(3L).isNullAt(2) && byId(3L).isNullAt(3))
    assert(Seq(0L, 1L).contains(byId(3L).getLong(4)))
    assert(math.abs(byId(3L).getDouble(5) - 1.0) < 1e-9)
  }

  test("semanticPrune: scalar multiples cluster under min label; singletons keep themselves") {
    val dir = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val other = Array.tabulate(64)(i => (if (i % 2 == 0) 1f else -1f))
    val emb = Seq(
      (0L, dir), (1L, dir.map(_ * 2)), (2L, dir.map(_ * 3)), // one cluster
      (7L, other))                                           // singleton
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticPrune(emb, k = 2, planes = 4, tau = 0.9)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L), (7L, 7L, 1L)))
    // keep exactly the label holder of each cluster
    assert(got.filter(_._4).map(_._1).toSeq == Seq(0L, 7L))
  }

  test("cms: estimate >= exact always; exact recovered when the sketch is wide") {
    val d = docs
    val audit = Sketches.cmsAudit(d, "text", depth = 4, width = 4096, probes = 50)
      .as[(String, Long, Long, Long)].collect()
    assert(audit.nonEmpty)
    assert(audit.forall(r => r._3 >= r._2 && r._4 == r._3 - r._2)) // one-sided
    // 4096 buckets over ~40 distinct tokens: collisions are unlikely in
    // EVERY one of the 4 rows, so the min recovers the exact count
    assert(audit.forall(r => r._3 == r._2))
    // narrow sketch: still one-sided, and "the" (6 occurrences) keeps
    // its exact count as a lower bound
    val narrow = Sketches.cmsAudit(d, "text", depth = 2, width = 4, probes = 50)
      .as[(String, Long, Long, Long)].collect()
    assert(narrow.forall(r => r._3 >= r._2))
    val the = narrow.find(_._1 == "the").get
    assert(the._2 == 6L && the._3 >= 6L)
  }

  test("hllDistinct: registers bounded by 256 and by n_exact; estimate in a sane band") {
    val many = (0 until 400).map(i => (i.toLong, s"tok$i word$i")).toDF("doc_id", "text")
      .withColumn("source", lit("s0"))
    val got = Sketches.hllDistinct(many, "source", "text")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.length == 1)
    val (_, nExact, nRegs, totalFp, est) = got.head
    assert(nExact == 800L)
    assert(nRegs <= 256L && nRegs <= nExact)
    // every register hit lowers the denominator below the all-empty sum
    assert(totalFp < 256L * 1048576L)
    // raw HLL at m=256 on n=800: ~1.065/sqrt(256) ≈ 6.6% rel error;
    // accept a generous 3-sigma band
    assert(est > 600L && est < 1000L, s"est=$est")
  }

  test("rankAuc: perfect separation -> 1.0; all-ties -> 0.5; fixed point exact") {
    val sep = Seq((1L, false), (2L, false), (10L, true), (11L, true))
      .toDF("s", "y")
    val a1 = Sketches.rankAuc(sep, col("s"), col("y"))
      .as[(Long, Long, Long, Long)].head()
    assert(a1 == ((2L, 2L, 8L, 1048576L))) // u2 = 2*n_pos*n_neg
    val ties = Seq((5L, false), (5L, true), (5L, false), (5L, true))
      .toDF("s", "y")
    val a2 = Sketches.rankAuc(ties, col("s"), col("y"))
      .as[(Long, Long, Long, Long)].head()
    assert(a2._3 == 4L && a2._4 == 524288L) // 2U = n_pos*n_neg -> auc 0.5
  }

  test("tokenBudgetSample: per-group cumulative cut, deterministic order, budget respected") {
    val d = Seq(
      (0L, "a b c d", "s0"), (1L, "e f g h", "s0"), (2L, "i j k l", "s0"),
      (3L, "one two", "s1"))
      .toDF("doc_id", "text", "source")
    val got = Sampling.tokenBudgetSample(d, col("doc_id"), col("text"),
        col("source"), budget = 8L)
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
    // s0: exactly two of the three 4-token docs fit the 8-token budget
    val s0 = got.filter(_._1 == "s0")
    assert(s0.length == 2 && s0.map(_._4).toSeq == Seq(4L, 8L))
    // the kept prefix is the md5(id)-order prefix — stable under reruns
    val again = Sampling.tokenBudgetSample(d, col("doc_id"), col("text"),
        col("source"), budget = 8L)
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._4))
    assert(got.toSeq == again.toSeq)
    assert(got.filter(_._1 == "s1").map(_._2).toSeq == Seq(3L))
  }

  test("tokenBudgetSample: bucketed decomposition ≡ single window, pruning exercised") {
    // 300 docs / 3 groups, budget tight enough that most md5-prefix
    // buckets are pruned before the window — the decomposed offsets +
    // within-bucket cumsum must reproduce the single-window cumsum
    // bit-for-bit (the md5 hex prefix respects the full-key order).
    val rnd = new scala.util.Random(42)
    val rows = (0L until 300L).map { i =>
      val words = Seq.fill(1 + rnd.nextInt(9))("w" + rnd.nextInt(50)).mkString(" ")
      (i, words, "g" + (i % 3))
    }
    val d = rows.toDF("doc_id", "text", "source")
    val got = Sampling.tokenBudgetSample(d, col("doc_id"), col("text"),
        col("source"), budget = 40L)
      .as[(String, Long, Long, Long)].collect().toSet
    // literal single-window reference (the oracle's shape)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(md5(col("id").cast("string")), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ref = d.select(col("source").as("grp"), col("doc_id").cast("long").as("id"),
        graft.llm.TextAnalysis.tokenCountCol(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= 40L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == ref && got.nonEmpty)
  }

  test("dsirWeight: target-like docs score above raw-like, identical text identical score") {
    // target vocabulary (tgt=true docs) vs disjoint raw vocabulary
    val d = Seq(
      (0L, "alpha beta gamma alpha beta", true),
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "delta epsilon zeta eta theta", false),
      (3L, "alpha beta gamma alpha beta", false)) // target-vocab text, raw-flagged
      .toDF("doc_id", "text", "is_tgt")
    val got = TextAnalysis.dsirWeight(d, "doc_id", "text", col("is_tgt"))
      .orderBy("id")
      .as[(Long, Long, Long, Double, Int)].collect()
    // 5 uni + 4 bi = 9 grams for the 5-token docs
    assert(got.map(_._2).toSeq == Seq(9L, 9L, 9L, 9L))
    // identical text -> identical weight REGARDLESS of its own flag
    // (the model scores content, not labels)
    assert(got(0)._3 == got(1)._3 && got(0)._3 == got(3)._3)
    // relative ordering is the contract (absolute sign is smoothing-
    // dependent at toy scale: the +buckets denominators swamp tiny
    // counts): target-vocab text must outscore raw-only-vocab text,
    // and keep must mirror the fixed-point sum's sign
    assert(got(0)._4 > got(2)._4)
    assert(got.forall(r => (r._5 == 1) == (r._3 >= 0)))
  }

  test("curriculumInterleave: rounds cycle sources, order deterministic, sizes respected") {
    val d = Seq(
      (0L, "s0"), (1L, "s0"), (2L, "s0"),
      (3L, "s1"), (4L, "s1"),
      (5L, "s2"))
      .toDF("doc_id", "source")
    val got = Sampling.curriculumInterleave(d, col("doc_id"), col("source"))
      .as[(String, Long, Long)].collect()
    assert(got.length == 6)
    // round 1 contains every source exactly once, in source order
    assert(got.take(3).map(_._1).toSeq == Seq("s0", "s1", "s2"))
    // s2 exhausted after round 1, s1 after round 2
    assert(got.slice(3, 5).map(_._1).toSeq == Seq("s0", "s1"))
    assert(got(5)._1 == "s0" && got(5)._3 == 3L)
    // per-source round numbers are 1..n_source
    assert(got.filter(_._1 == "s0").map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
    // deterministic under re-run
    val again = Sampling.curriculumInterleave(d, col("doc_id"), col("source"))
      .as[(String, Long, Long)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("stratifiedTake/curriculumInterleave: bucketed rank ≡ single-window row_number") {
    // randomized parity for the bucketed-order-scan RANK path (the
    // token-budget test covers the running-sum + prune path)
    val rnd = new scala.util.Random(11)
    val d = (0L until 400L).map(i => (i, "s" + rnd.nextInt(5)))
      .toDF("doc_id", "source")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val refRank = d.withColumn("round", row_number().over(w).cast("long"))
    // curriculum ≡ naive rank, row for row
    val got = Sampling.curriculumInterleave(d, col("doc_id"), col("source"))
    val ref = refRank.select(col("source"), col("doc_id").as("id"), col("round"))
    assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0)
    // stratifiedTake ≡ naive rank filter, original columns preserved
    val take = Sampling.stratifiedTake(d, col("source"), col("doc_id"),
      Seq("s0" -> 7L, "s3" -> 1L), defaultCount = 3L)
    val cnt = when(col("source") === "s0", 7L)
      .when(col("source") === "s3", 1L).otherwise(3L)
    val takeRef = refRank.filter(col("round") <= cnt).drop("round")
    assert(take.columns.toSeq == d.columns.toSeq)
    assert(take.exceptAll(takeRef).count() == 0 &&
      takeRef.exceptAll(take).count() == 0)
  }

  test("chunkSpans: overlap stride, clipped tail, short and empty docs") {
    // seqLen 5, overlap 2 -> stride 3; 9 tokens -> spans [0,5) [3,8) [6,9)
    val d = Seq(
      (0L, "a b c d e f g h i"), // 9 tokens, 3 chunks
      (1L, "a b c"),             // shorter than seqLen: one clipped span
      (2L, "a b c d e"),         // exactly seqLen: one full span
      (3L, ""))                  // token-less: no spans
      .toDF("doc_id", "text")
    val got = Sampling.chunkSpans(d, col("doc_id"), col("text"), 5, 2)
      .orderBy("id", "chunk_idx")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 9L, 0L, 0L, 5L, 5L),
      (0L, 9L, 1L, 3L, 8L, 5L),
      (0L, 9L, 2L, 6L, 9L, 3L),
      (1L, 3L, 0L, 0L, 3L, 3L),
      (2L, 5L, 0L, 0L, 5L, 5L)))
    // every token position is covered by some span
    assert(got.filter(_._1 == 0L).flatMap(r => r._4 until r._5).toSet == (0 until 9).toSet)
  }

  test("bucketedOrderScan consumers keep NULL groups and NULL keys (single-window parity)") {
    // a NULL stratum/source is a legitimate window partition in the
    // single-window forms; the decomposed bucket join must be
    // null-safe or those rows silently vanish
    val d = Seq(
      (java.lang.Long.valueOf(0L), "a b c", "s0"),
      (java.lang.Long.valueOf(1L), "d e", null),
      (java.lang.Long.valueOf(2L), "f g h i", null),
      (null.asInstanceOf[java.lang.Long], "j k", "s0")) // NULL key too
      .toDF("doc_id", "text", "source")
    val take = Sampling.stratifiedTake(d, col("source"), col("doc_id"),
      Seq("s0" -> 10L), defaultCount = 10L)
    assert(take.count() == 4, "NULL group/key rows must survive the take")
    val budget = Sampling.tokenBudgetSample(d, col("doc_id"), col("text"),
      col("source"), budget = 100L)
    assert(budget.count() == 4)
    assert(budget.filter(col("grp").isNull).count() == 2)
    // reserved-column collision fails fast with a clear message
    // (stratifiedTake passes the WHOLE frame through the scan; the
    // other consumers project to fixed names first)
    val e = intercept[IllegalArgumentException](
      Sampling.stratifiedTake(d.withColumn("_b", lit("x")),
        col("source"), col("doc_id"), Seq("s0" -> 1L)))
    assert(e.getMessage.contains("_b"))
  }

  test("bottomKQuantiles: exact when the group fits in k; decomposition ≡ single window") {
    // groups smaller than k: the sample IS the group -> quantiles
    // equal the exact nearest-rank form
    val small = (0L until 30L).map(i => (i, "g" + (i % 2), (i * 7) % 100))
      .toDF("id", "g", "v")
    val sk = Sketches.bottomKQuantiles(small, "g", "id", "v", k = 50,
        Seq("p50" -> 50, "p90" -> 90))
      .select(col("g"), col("p50"), col("p90"))
    val exact = graft.llm.TextAnalysis.groupedQuantiles(
        small.select(col("g"), col("v").cast("long").as("v")), "g", "v",
        Seq("p50" -> 50, "p90" -> 90))
      .select(col("g"), col("p50"), col("p90"))
    assert(sk.exceptAll(exact).count() == 0 && exact.exceptAll(sk).count() == 0)
    // larger than k: the bucketed two-stage selection must equal the
    // single-window bottom-k (same md5 draws, same nearest ranks)
    val big = (0L until 500L).map(i => (i, "h" + (i % 3), (i * 13) % 997))
      .toDF("id", "g", "v")
    val got = Sketches.bottomKQuantiles(big, "g", "id", "v", k = 32,
      Seq("p50" -> 50))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("dr"), col("v"))
    val refSample = big
      .select(col("g"), col("v").cast("long").as("v"),
        md5(col("id").cast("string")).as("dr"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 32)
    val wv = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("v"), col("dr"))
    val ref = refSample
      .withColumn("vr", row_number().over(wv))
      .filter(col("vr") === expr("(32 * 50 + 99) div 100"))
      .select(col("g"), col("v").as("p50"))
    assert(got.select("g", "p50").exceptAll(ref).count() == 0 &&
      ref.exceptAll(got.select("g", "p50")).count() == 0)
    // n_rows is exact, not sampled
    assert(got.agg(sum("n_rows")).head().getLong(0) == 500L)
    // NULL group = first-class stratum; NULL values excluded up front
    val withNull = Seq(
      (0L, Option("gx"), Option(10L)), (1L, None, Option(5L)),
      (2L, None, Option(7L)), (3L, Option("gx"), None))
      .toDF("id", "g", "v")
    val gn = Sketches.bottomKQuantiles(withNull, "g", "id", "v", k = 10,
      Seq("p50" -> 50))
    assert(gn.count() == 2, "NULL group must survive as its own stratum")
    assert(gn.filter(col("g").isNull).head().getLong(1) == 2L) // n_rows
    assert(gn.filter(col("g") === "gx").head().getLong(1) == 1L) // NULL v excluded
    // out-of-range quantile numerator fails fast, not silently-empty
    assertThrows[IllegalArgumentException](
      Sketches.bottomKQuantiles(withNull, "g", "id", "v", 10, Seq("p0" -> 0)))
    // fractional value column rejected, never silently long-truncated
    // (the exact twin groupedQuantiles ranks the raw type, so a
    // truncating cast would make the two disagree without any error)
    assertThrows[IllegalArgumentException](
      Sketches.bottomKQuantiles(
        withNull.withColumn("v", col("v").cast("double")),
        "g", "id", "v", 10, Seq("p50" -> 50)))
    assertThrows[IllegalArgumentException](
      graft.llm.TextAnalysis.groupedQuantiles(
        withNull.filter(col("v").isNotNull), "g", "v", Seq("bad" -> 101)))
  }

  test("tokenEntropy: uniform maxes at ln n, constant doc is 0, counts exact") {
    val d = Seq(
      (0L, "a b c d"),     // 4 distinct -> H = ln 4
      (1L, "a a a a"),     // constant -> H = 0
      (2L, "a a b b c c")) // uniform over 3 -> H = ln 3
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(d, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(r => (r._2, r._3)).toSeq == Seq((4L, 4L), (4L, 1L), (6L, 3L)))
    assert(math.abs(got(0)._4 - math.log(4)) < 1e-5)
    assert(math.abs(got(1)._4) < 1e-5)
    assert(math.abs(got(2)._4 - math.log(3)) < 1e-5)
    // entropy of a frequency vector is bounded by ln(n_distinct)
    assert(got.forall(r => r._4 <= math.log(r._3.toDouble) + 1e-9))
  }

  test("bigramLogProb: seen bigrams beat backoff; OOV backs off; self-scoring never backs off") {
    val train = Seq(
      (0L, "the cat sat"),
      (2L, "the cat ran"))
      .toDF("doc_id", "text")
    val score = Seq(
      (1L, "the cat sat"),     // all bigrams seen in train
      (3L, "the dog sat"),     // "the dog" and "dog sat" unseen; dog is OOV
      (5L, "solo"))            // single token -> no bigrams, absent from output
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(train, score, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 3L)) // doc 5 has no bigrams
    val (seen, unseen) = (got(0), got(1))
    assert(seen._2 == 2L && seen._3 == 0L)   // 2 bigrams, zero backoff
    assert(unseen._2 == 2L && unseen._3 == 2L) // both bigrams backed off
    // backoff mass-leaks by design (Stupid Backoff): unseen text scores lower
    assert(unseen._4 < seen._4)
    // "the cat" has c(bigram)=2, c(the)=2 -> lp = ln(1) = 0;
    // "cat sat" has c=1, c(cat)=2 -> ln(0.5); mean = ln(0.5)/2 exactly
    // (fixed-point floor at 2^20 keeps this within one quantum)
    assert(math.abs(seen._4 - math.log(0.5) / 2) < 2e-6)
    // a model scored on its own training corpus never backs off
    val self = TextAnalysis.bigramLogProb(train, train, "doc_id", "text")
      .agg(sum("n_backoff")).as[Long].head()
    assert(self == 0L)
  }

  test("aHash of the q119 fixture patterns equals the committed oracle constants") {
    // locks the Scala pipeline (pattern render -> PNG encode -> decode
    // -> aHash) to the 7 constants the q119 oracle embeds (derived
    // independently by tools/q119_ahash_oracle.py) — a drift in either
    // the fixture formula or the hash fails HERE, not at driver time
    val expected = Map(
      0L -> 4379601722262086460L, 1L -> -8680820740569200761L,
      2L -> 6245319962565193046L, 3L -> 5504566643220138316L,
      4L -> -72056498821201921L, 5L -> 3921748740079983414L,
      6L -> -6509625287690119771L)
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val media = Multimodal.syntheticPngMedia(
        (0L to 6L).toDF("doc_id"))
      .as[Multimodal.MediaRow].collect()
    for (r <- media) {
      val h = Multimodal.aHashOf(r.payload)
      assert(h.contains(expected(r.media_id % 7)), s"doc ${r.media_id}")
    }
    // and the odd-id brightness-shifted twins collapse onto the same constants
    val shifted = Multimodal.syntheticPngMedia((7L to 13L).toDF("doc_id"))
      .as[Multimodal.MediaRow].collect()
    for (r <- shifted)
      assert(Multimodal.aHashOf(r.payload).contains(expected(r.media_id % 7)))
  }

  test("paragraphDupStats: shared paragraphs counted, short units excluded, clean docs zero") {
    val boiler = "all rights reserved by the publisher"
    val d = Seq(
      (0L, s"unique opening sentence of the first doc. $boiler. and a closing thought here"),
      (1L, s"a different opening for the second doc. $boiler. another unique ending sentence"),
      (2L, "totally original text with no shared paragraphs at all"),
      (3L, "ok. hi. no")) // every unit under minLen -> absent from output
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDupStats(d, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(got(0) == ((0L, 3L, 1L, 1.0 / 3)))  // the boilerplate unit is shared
    assert(got(1) == ((1L, 3L, 1L, 1.0 / 3)))
    assert(got(2) == ((2L, 1L, 0L, 0.0)))
  }

  test("lshCalibration: exact dups estimate 1.0; deciles bounded; integer means") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely different words about spark shuffles and joins here"))
      .toDF("doc_id", "text")
    val full = Dedup.lshCalibration(d, "doc_id", "text").orderBy("decile").cache()
    // bucket census rides on every row: 4 docs × 4 bands, no bucket
    // bigger than the (0,1) exact-dup pair, none over the cap
    val census = full.select("n_buckets", "max_bucket", "n_over_cap")
      .distinct().as[(Long, Long, Long)].collect()
    assert(census.length == 1 && census.head._2 == 2L && census.head._3 == 0L)
    val got = full
      .select("decile", "n_pairs", "mean_est", "mean_exact", "mean_abs_err")
      .as[(Int, Long, Double, Double, Double)].collect()
    full.unpersist()
    assert(got.nonEmpty)
    assert(got.forall(r => r._1 >= 0 && r._1 <= 9))
    assert(got.forall(r => r._3 >= 0 && r._3 <= 1 && r._4 >= 0 && r._4 <= 1))
    // the exact-dup pair (0,1) lands in decile 9 with est = exact = 1, err 0
    val top = got.last
    assert(top._1 == 9 && top._3 == 1.0 && top._4 == 1.0 && top._5 == 0.0)
  }

  test("groupedQuantiles: random groups agree with local nearest-rank selection") {
    val rnd = new scala.util.Random(42)
    val groups = (0 until 30).map { g =>
      g.toString -> Seq.fill(1 + rnd.nextInt(50))(rnd.nextInt(1000).toLong)
    }
    val df = groups.flatMap { case (g, vs) => vs.map(v => (g, v)) }
      .toDF("source", "n_chars")
    val got = TextAnalysis.groupedQuantiles(df, "source", "n_chars",
        Seq(("p50", 50), ("p90", 90), ("p99", 99)))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    for ((g, vs) <- groups) {
      val sorted = vs.sorted
      def nr(p: Int) = sorted(((vs.size.toLong * p + 99) / 100).toInt - 1)
      val r = got(g)
      assert(r._2 == vs.size.toLong, s"group $g count")
      assert((r._3, r._4, r._5) == ((nr(50), nr(90), nr(99))), s"group $g quantiles")
    }
  }

  test("groupedQuantiles: nearest-rank picks actual values; ties and tiny groups exact") {
    val d = (1 to 10).map(i => ("a", i.toLong)) ++ Seq(("b", 5L), ("b", 5L), ("b", 7L))
    val got = TextAnalysis.groupedQuantiles(d.toDF("source", "n_chars"),
        "source", "n_chars", Seq(("p50", 50), ("p90", 90), ("p99", 99)))
      .orderBy("source")
      .as[(String, Long, Long, Long, Long)].collect()
    // group a: 1..10 -> k50 = ceil(5.0) = 5, k90 = 9, k99 = ceil(9.9) = 10
    assert(got(0) == (("a", 10L, 5L, 9L, 10L)))
    // group b: [5,5,7] -> k50 = ceil(1.5) = 2 -> 5; k90 = ceil(2.7) = 3 -> 7
    assert(got(1) == (("b", 3L, 5L, 7L, 7L)))
  }

  test("hashSplit: content-keyed, so duplicates land in one split; bounds respected") {
    val d = Seq(
      (0L, "The quick brown fox!"),
      (1L, "the quick  brown fox"), // normalization-equal to 0 -> same split
      (2L, "an entirely different document"),
      (3L, "yet another one here"))
      .toDF("doc_id", "text")
    val got = Dedup.hashSplit(d, "doc_id", "text", trainPct = 80, valPct = 10)
      .as[(Long, String, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(0L)._2 == got(1L)._2 && got(0L)._4 == got(1L)._4) // same hash, same split
    assert(got.values.forall(r => r._3 >= 0 && r._3 < 100))
    assert(got.values.map(_._4).toSet.subsetOf(Set("train", "val", "test")))
    intercept[IllegalArgumentException](
      Dedup.hashSplit(d, "doc_id", "text", trainPct = 90, valPct = 10))
  }

  test("htmlExtract: script/style/comment bodies die, tags strip, entities decode, yield sane") {
    val d = Seq(
      (0L, "<html><head><script>var a = 1 < 2 && x > 0;</script></head>" +
        "<body><p>hello   world</p><!-- hidden words --></body></html>"),
      (1L, "<div>x &amp;lt; y</div>"), // decode order: &amp; LAST -> "x &lt; y"
      (2L, "plain text, no markup"))
      .toDF("doc_id", "html")
    val got = TextAnalysis.htmlExtract(d, "doc_id", "html")
      .orderBy("id")
      .as[(Long, String, Int, Double)].collect()
    assert(got(0)._2 == "hello world") // script body + comment + tags gone, ws collapsed
    assert(got(1)._2 == "x &lt; y")    // single-pass decode, no double-decode
    assert(got(2)._2 == "plain text, no markup")
    assert(got.forall(r => r._4 > 0.0 && r._4 <= 1.0))
    assert(got(2)._4 == 1.0) // markup-free input is all yield
  }

  test("concatChunkStats: totals conserve tokens+EOD, straddles match a local replay") {
    val n = 64
    val rows = (0L until n).map(i => (i, (i % 7 + 1).toInt)).toDF("id", "nt")
    val seqLen = 16L
    val got = Sampling.concatChunkStats(rows, $"id", $"nt", seqLen, shards = 4)
      .orderBy("shard")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._2).sum == n)                   // every doc lands in one shard
    // token conservation: Σ(tokens+1 EOD) over all docs == Σ shard totals
    assert(got.map(_._3).sum == (0L until n).map(_ % 7 + 1 + 1).sum)
    // local replay of one shard: same md5 order, same boundary test
    val md5hex = (v: Long) => java.security.MessageDigest.getInstance("MD5")
      .digest(v.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shardOf = (v: Long) =>
      java.lang.Long.parseLong(md5hex(v).take(15), 16) % 4
    got.foreach { case (shard, nDocs, total, nSeqs, nStrad, tailPad) =>
      val members = (0L until n).filter(shardOf(_) == shard)
        .sortBy(i => (md5hex(i), i))
      assert(nDocs == members.size)
      var cum = 0L; var strad = 0L
      members.foreach { i =>
        val nt = i % 7 + 1
        val start = cum; cum += nt + 1
        if (nt > 0 && start / seqLen != (cum - 2) / seqLen) strad += 1
      }
      assert(total == cum && nStrad == strad)
      assert(nSeqs == (total + seqLen - 1) / seqLen)
      assert(tailPad == nSeqs * seqLen - total && tailPad >= 0 && tailPad < seqLen)
    }
  }

  test("heavyHitters: equals the exact full-vocab answer on a skewed large vocabulary") {
    // zipf-ish: token t_i appears (1000 / (i+1)) times over a 400-token
    // vocab -> capacity 20 MG must prune hard yet miss no hitter
    val rows = (0 until 400).flatMap(i => Seq.fill(1000 / (i + 1))(s"t$i"))
    val toks = rows.toDF("tok").repartition(7) // partitioning must not matter
    val got = Sketches.heavyHitters(toks, k = 20)
      .as[(String, Long, Long)].collect().sortBy(_._1)
    val n = rows.size.toLong
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 20 > n }.toMap
    assert(got.map(_._1).toSet == exact.keySet)
    got.foreach { case (t, c, nt) => assert(c == exact(t) && nt == n) }
    assert(exact.nonEmpty && exact.size < 20) // the threshold actually cuts
  }

  test("heavyHitters property: partitioning never changes the answer (random zipf corpora)") {
    val gen = for {
      vocab <- org.scalacheck.Gen.choose(5, 60)
      skew  <- org.scalacheck.Gen.choose(1, 4)
      parts <- org.scalacheck.Gen.choose(1, 11)
      k     <- org.scalacheck.Gen.choose(3, 12)
    } yield (vocab, skew, parts, k)
    new graft.PropCheck {}.forAllN(gen, n = 12) { case (vocab, skew, parts, k) =>
      val rows = (0 until vocab).flatMap(i =>
        Seq.fill(math.max(1, 200 / math.pow(i + 1, skew).toInt))(s"t$i"))
      val n = rows.size.toLong
      val exact = rows.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }.toMap
      val got = Sketches.heavyHitters(
          rows.toDF("tok").repartition(parts), k)
        .as[(String, Long, Long)].collect()
      assert(got.map(_._1).toSet == exact.keySet,
        s"vocab=$vocab skew=$skew parts=$parts k=$k")
      got.foreach { case (t, c, nt) => assert(c == exact(t) && nt == n) }
    }
  }

  test("snapshotDiff: all four statuses, counts and char mass from a local replay") {
    val oldDf = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val newDf = Seq((0L, "alpha"), (1L, "beta v2"), (2L, "gamma"), (9L, "epsilon"))
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(oldDf, newDf, "doc_id", "text")
      .orderBy("status")
      .as[(String, Long, Long, Long)].collect()
    assert(got.map(r => r._1 -> r._2).toMap ==
      Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L, "unchanged" -> 2L))
    val byStatus = got.map(r => r._1 -> r).toMap
    assert(byStatus("added") == ("added", 1L, 0L, 7L))      // epsilon
    assert(byStatus("removed") == ("removed", 1L, 5L, 0L))  // delta
    assert(byStatus("changed") == ("changed", 1L, 4L, 7L))  // beta -> beta v2
  }

  test("madOutliers: a monster doc is fenced out without dragging the fence") {
    // group g: 7 values near 100 plus one at 10000 — a mean/stddev
    // fence would be dragged to ~3500 and miss it; median/MAD flags
    // exactly that one. med = rank-4 of 8 = 100; devs sorted
    // 0,2,2,5,5,10,10,9900 -> MAD = rank-4 = 5; fence 15.
    val vals = Seq(90L, 95L, 98L, 100L, 102L, 105L, 110L, 10000L)
    val d = vals.map(("g", _)) ++ Seq.fill(3)(("h", 50L))
    val got = TextAnalysis.madOutliers(d.toDF("source", "n_chars"),
        "source", "n_chars", c = 3)
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got(0) == ("g", 8L, 100L, 5L, 1L, 10000L))
    assert(got(1) == ("h", 3L, 50L, 0L, 0L, 0L)) // constant group: zero MAD, zero outliers
  }

  test("gramNovelty: earliest doc owns shared grams; exact counts on a hand corpus") {
    val d = Seq(
      (0L, "a b c d"),         // grams "a b c","b c d" — both novel
      (1L, "a b c d"),         // identical: novelty 0
      (2L, "x y z a b c"))     // 4 grams, "a b c" first seen in doc 0
      .toDF("doc_id", "text")
    val got = Dedup.gramNovelty(d, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 2L, 2L, 1.0), (1L, 2L, 0L, 0.0), (2L, 4L, 3L, 0.75)))
  }

  test("clusterClosedSplit: near-dup cluster members co-split; singletons get own label") {
    val d = Seq(
      (0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"),
      (5L, "f"), (6L, "g"), (7L, "h"), (8L, "i"), (9L, "j"))
      .toDF("doc_id", "text")
    // pair graph: {0,1,2} chained, {5,6} — the rest are singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.clusterClosedSplit(d, "doc_id", pairs, 80, 10)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got.length == 10)
    val byId = got.map(r => r._1 -> r).toMap
    // cluster labels: component minimum
    assert(Seq(0L, 1L, 2L).map(byId(_)._2).distinct == Seq(0L))
    assert(Seq(5L, 6L).map(byId(_)._2).distinct == Seq(5L))
    assert(Seq(3L, 4L, 7L, 8L, 9L).forall(i => byId(i)._2 == i))
    // the leakage guarantee: same cluster -> same split, always
    assert(got.groupBy(_._2).values.forall(_.map(_._3).distinct.length == 1))
  }

  test("targetMixture: fixed-point weights hit the recipe; unlisted domains keep weight 1") {
    val d = (0 until 60).map(i => (s"dom${i % 3}", 10L)).toDF("domain", "nt")
    // dom0 pinned to 5000 bp (half the corpus) while holding 1/3 of it:
    // w = 0.5/(1/3) = 1.5 -> 1572864 in 2^20 fixed point
    val got = Sampling.targetMixture(d, $"domain", $"nt", Seq("dom0" -> 5000L))
      .orderBy("domain")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got(0) == ("dom0", 20L, 200L, 5000L, 1572864L, 300L))
    assert(got(1) == ("dom1", 20L, 200L, -1L, 1048576L, 200L))
    assert(got(2) == ("dom2", 20L, 200L, -1L, 1048576L, 200L))
  }

  test("annRecall: exact-duplicate neighbors are found by the bucketed index at recall 1") {
    val mk = (seed: Long) => Array.tabulate(8)(i =>
      (((seed * 31 + i * 17) % 23) - 11).toFloat)
    // corpus of 10 base vectors + their exact ×2 copies: each copy is
    // its source's true AND bucketed nearest neighbor
    val base = (0L until 10L).map(i => (i, mk(i)))
    val emb = (base ++ base.map { case (i, v) => (i + 100, v.map(_ * 2f)) })
      .toDF("vec_id", "embedding")
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = Similarity.annRecall(emb, qs, k = 1, planes = 3)
      .orderBy("qid").as[(Long, Long, Long, Double)].collect()
    assert(got.forall(r => r._2 == 1L && r._3 == 1L && r._4 == 1.0))
  }

  test("annNdcg: perfect bucketed ranking scores 1; weights discount by position") {
    // scaled copies share their source's direction: cosine 1 to the
    // copy, bucket identical -> LSH ranking == brute ranking -> nDCG 1
    val mk = (seed: Long) => Array.tabulate(8)(i =>
      (((seed * 31 + i * 17) % 23) - 11).toFloat)
    val base = (0L until 10L).map(i => (i, mk(i)))
    val emb = (base ++ base.map { case (i, v) => (i + 100, v.map(_ * 2f)) })
      .toDF("vec_id", "embedding")
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // k = 1: only the top neighbor (the co-bucketed copy) must be
    // found — beyond that the LSH bucket legitimately misses truth
    // neighbors and nDCG < 1 is the correct verdict, not a bug
    val got = Similarity.annNdcg(emb, qs, k = 1, planes = 3)
      .orderBy("qid").as[(Long, Long, Long, Double)].collect()
    assert(got.length == 2 && got.forall(r => r._2 == r._3 && r._4 == 1.0))
    // at k = 3 the same index pays for the truth neighbors outside
    // the bucket: nDCG must drop strictly below 1 for some query
    val k3 = Similarity.annNdcg(emb, qs, k = 3, planes = 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(k3.exists(_._4 < 1.0) && k3.forall(r => r._4 > 0.0 && r._4 <= 1.0))
    // the discount table is the exact fixed-point form, strictly
    // decreasing — missing an early neighbor costs more than a late one
    val w = Similarity.ndcgWeights(5)
    assert(w == w.sorted.reverse && w.distinct == w && w.head == 1048576L)
  }

  test("vocabCoverage: head ranks by frequency then token, exact fixed-point shares") {
    val d = Seq((0L, "a a a b b c")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(d) // vocab 3 < default cap: all head
      .orderBy("rank_lo")
      .as[(Long, Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, "a", 3L, 1L, 3L, 524288L),    // floor(3·2^20/6)
      (2L, 2L, "b", 2L, 1L, 5L, 873813L),    // floor(5·2^20/6)
      (3L, 3L, "c", 1L, 1L, 6L, 1048576L)))
  }

  test("vocabCoverage: sub-cap tail buckets by distinct frequency with exact rank spans") {
    // cap 2 → head {a(4), b(3)}; tail: c,d at cnt 2 (one bucket,
    // ranks 3-4), e,f,g at cnt 1 (one bucket, ranks 5-7); total 14
    val d = Seq((0L, "a a a a b b b c c d d e f g")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(d, topK = 2)
      .orderBy("rank_lo")
      .as[(Long, Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, "a", 4L, 1L, 4L, 299593L),     // floor(4·2^20/14)
      (2L, 2L, "b", 3L, 1L, 7L, 524288L),     // floor(7·2^20/14)
      (3L, 4L, null, 2L, 2L, 11L, 823881L),   // floor(11·2^20/14)
      (5L, 7L, null, 1L, 3L, 14L, 1048576L)))
    // boundary-straddling frequency: cap 1 splits the cnt=2 pair
    // {x, y} — x is head by tok tiebreak, y lands in a tail bucket
    val d2 = Seq((0L, "x x y y z")).toDF("doc_id", "text")
    val got2 = TextAnalysis.vocabCoverage(d2, topK = 1)
      .orderBy("rank_lo")
      .as[(Long, Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(got2 == Seq(
      (1L, 1L, "x", 2L, 1L, 2L, 419430L),     // floor(2·2^20/5)
      (2L, 2L, null, 2L, 1L, 4L, 838860L),    // y's bucket
      (3L, 3L, null, 1L, 1L, 5L, 1048576L)))
  }

  test("dimensionAudit: dead dims counted, quantized moments exact") {
    val emb = Seq((0L, Array(0.0f, 1.5f)), (1L, Array(0.0f, -0.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dimensionAudit(emb)
      .orderBy("dim").as[(Int, Long, Long, Long, Long, Long, Long)].collect()
    assert(got(0) == (0, 2L, 2L, 0L, 0L, 0L, 0L)) // dead dimension
    // q20 = 1572864 / -524288; q10 = 1536 / -512 -> sumsq 2621440
    assert(got(1) == (1, 2L, 0L, -524288L, 1572864L, 1048576L, 2621440L))
  }

  test("crossSourceDupMatrix: shared fingerprints pair sources once, within-source dups don't") {
    val prefix = "x" * 64
    val d = Seq(
      (0L, prefix + " tail one", "sA"),
      (1L, prefix + " tail two", "sB"),   // shares the 64-prefix with 0
      (2L, prefix + " tail three", "sB"), // same source again: distinct() collapses it
      (3L, "completely other text", "sC"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupMatrix(d, "text", "source")
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("sA", "sB", 1L)))
  }

  test("powerOfTwoBatchShapes: exact bit-length buckets and padding") {
    val d = Seq(1L, 2L, 3L, 4L, 5L, 8L, 9L).toDF("n")
    val got = Sampling.powerOfTwoBatchShapes(d, $"n")
      .orderBy("bucket").as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0, 1L, 1L, 0L),    // n=1 -> shape 1
      (1, 1L, 2L, 0L),    // n=2 -> shape 2
      (2, 2L, 7L, 1L),    // n=3,4 -> shape 4, padding 1
      (3, 2L, 13L, 3L),   // n=5,8 -> shape 8, padding 3
      (4, 1L, 9L, 7L)))   // n=9 -> shape 16, padding 7
  }

  test("materializeWeights: whole copies exact, fractional copies hash-deterministic, w<=0 drops") {
    val d = (0L until 200L).toDF("id")
      .withColumn("w_fp",
        when($"id" < 50, lit(3145728L))       // w = 3.0 -> exactly 3 copies
          .when($"id" < 100, lit(1048576L))   // w = 1.0 -> exactly 1 copy
          .when($"id" < 150, lit(524288L))    // w = 0.5 -> keep-or-drop
          .otherwise(lit(0L)))                // w = 0 -> always dropped
    val got = Sampling.materializeWeights(d, $"id", $"w_fp")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert((0L until 50L).forall(got(_) == 3L))
    assert((50L until 100L).forall(got(_) == 1L))
    assert((150L until 200L).forall(!got.contains(_)))
    val half = (100L until 150L).flatMap(got.get)
    assert(half.forall(_ == 1L))
    assert(half.size > 10 && half.size < 40) // the 2^-20 draw keeps ~half
    // determinism: a second run emits the identical multiset
    val again = Sampling.materializeWeights(d, $"id", $"w_fp")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(again == got)
    // copy indices are dense 0..n-1 (the salt downstream shuffles need)
    val copies = Sampling.materializeWeights(d.filter($"id" < 50), $"id", $"w_fp")
      .groupBy("id").agg(sort_array(collect_list("copy")).as("c"))
      .as[(Long, Seq[Long])].collect()
    assert(copies.forall(_._2 == Seq(0L, 1L, 2L)))
  }

  test("winnowing: shared substrings >= w+k-1 guarantee a shared fingerprint; disjoint docs don't pair") {
    val copied = "the exact copied paragraph that appears in both documents here"
    val d = Seq(
      (0L, s"first document unique opening text. $copied trailing original matter one"),
      (1L, s"second doc other beginning words entirely. $copied and a different ending"),
      (2L, "totally disjoint content with zero overlap of any eight gram sequence XYZW"))
      .toDF("doc_id", "text")
    // the Schleimer guarantee: the 60+ char shared substring (>= w+k-1 = 11)
    // must yield at least one common selected fingerprint
    val fps = Dedup.winnowFingerprints(d, "doc_id", "text")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert((fps(0L) & fps(1L)).nonEmpty)
    // selection density: ~2/(w+1) of positions, never more than all
    assert(fps(0L).size < 80)
    val pairs = Dedup.winnowedPairs(d, "doc_id", "text", minShared = 2, maxDf = 8)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
  }

  test("reliable-checkpoint CC reproduces q70's labels on the sf0.01 corpus; checkpoint files clean up") {
    // the 100 TB path (dynamic allocation / spot instances): RELIABLE
    // checkpoint() into a directory instead of executor-pinned
    // localCheckpoint, exercised at fixture scale on the REAL q70
    // pipeline (LSH pairs over the sf0.01 corpus), not a toy graph —
    // keeps the path from rotting as the CC loop evolves.
    def listFiles(d: java.io.File): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getAbsolutePath)
      if (d.exists()) walk(d).toSet else Set.empty
    }
    val sc = spark.sparkContext
    // the checkpoint dir is a GLOBAL context setting another suite may
    // have already bound — reuse it if so (connectedComponents refuses
    // to rebind mid-flight by design)
    val dir = sc.getCheckpointDir.getOrElse(
      java.nio.file.Files.createTempDirectory("cc_ckpt_llm").toString)
    val root = new java.io.File(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
    val before = listFiles(root)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 16, bands = 4, threshold = 0.5).select("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val reliable = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(local.nonEmpty, "sf0.01 LSH pairs should form at least one cluster")
    assert(reliable == local,
      "reliable checkpoint() must produce the identical labeling")
    // the reliable path wrote real checkpoint files...
    val created = listFiles(root) -- before
    assert(created.nonEmpty, s"expected checkpoint files under $dir")
    // ...and they clean up: delete this run's files, verify no residue
    created.foreach(p => { java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(p)); () })
    assert((listFiles(root) -- before).isEmpty, "checkpoint residue left behind")
  }

  test("exactSubstringPairs: shared substring >= minLen+w-1 is structurally caught; boilerplate hub-caps away") {
    def rand(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val shared = rand(7, 20 + 15) // minLen + w - 1 at (20, 16)
    // appears in EVERY doc -> df cap drops it. Kept INTERIOR with >= 30
    // distinct chars after it everywhere: a doc-END occurrence gets
    // extra truncated-window anchors the interior occurrences don't,
    // and two docs sharing the boilerplate as a SUFFIX then genuinely
    // pair on it (correct behavior, but not what this test probes)
    val boiler = rand(8, 60)
    val docs = Seq(
      (0L, rand(1, 80) + shared + rand(2, 40) + boiler + rand(11, 30)),
      (1L, rand(3, 33) + shared + boiler + rand(4, 70)),
      (2L, rand(5, 100) + boiler + rand(6, 50)),
      (3L, rand(9, 90) + boiler + rand(12, 34)),
      (4L, boiler + rand(10, 95))).toDF("doc_id", "text")
    val pairs = Dedup.exactSubstringPairs(docs, "doc_id", "text",
        minLen = 20, w = 16, maxDf = 2)
      .as[(Long, Long, Long, Int, Int)].collect()
    // winnowing guarantee: docs 0 and 1 share `shared` (length exactly
    // minLen+w-1) and MUST pair; the boilerplate in all 5 docs must NOT
    // create any other pair (df = 5 > maxDf = 2)
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L)))
    // the reported first span points at the real verbatim match
    val (_, _, _, pa, pb) = pairs.head
    val (ta, tb) = (docs.orderBy("doc_id").as[(Long, String)].collect()(0)._2,
      docs.orderBy("doc_id").as[(Long, String)].collect()(1)._2)
    assert(ta.substring(pa - 1, pa - 1 + 20) == tb.substring(pb - 1, pb - 1 + 20))
  }

  test("crossCorpusContamination: scaled bench copies hit at cosine 1, train never pairs with itself") {
    val mk = (seed: Long) => Array.tabulate(64)(i =>
      (((seed * 37 + i * 13) % 19) - 9).toFloat)
    val train = (0L until 12L).map(i => (i, mk(i))).toDF("vec_id", "embedding")
    val bench = Seq((100L, mk(3).map(_ * 2f)), (101L, mk(7).map(_ * 2f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.crossCorpusContamination(train, bench,
        threshold = 0.99, planes = 4)
      .orderBy("train_id")
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(3L, 7L))
    assert(got.forall(r => r._2 == 1L && r._3 == 1.0))
  }

  test("pqEncode/pqAudit: codes bounded, census consistent, refinement not worse") {
    val emb = (0L until 60L).map(i =>
      (i, Array.tabulate(64)(j => (((i * 31 + j * 7) % 23) - 11).toFloat / 4f)))
      .toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(emb, m = 4, k = 8, rounds = 1)
      .orderBy("vec_id").collect()
    assert(enc.length == 60)
    for (r <- enc) {
      val codes = r.getSeq[Int](1)
      assert(codes.length == 4 && codes.forall(c => c >= 0 && c < 8))
      assert(r.getAs[Long]("err_fp") >= 0L)
    }
    // determinism: a second run reproduces codes and errors exactly
    val enc2 = Similarity.pqEncode(emb, m = 4, k = 8, rounds = 1)
      .orderBy("vec_id").collect()
    assert(enc.map(_.toString).toSeq == enc2.map(_.toString).toSeq)
    // census: per-subspace member counts cover the corpus, and the
    // audit's inertia total equals the encode error total (same rows)
    val audit = Similarity.pqAudit(emb, m = 4, k = 8, rounds = 1).collect()
    val bySub = audit.groupBy(_.getAs[Int]("sub"))
    assert(bySub.keySet == Set(0, 1, 2, 3))
    assert(bySub.values.forall(_.map(_.getAs[Long]("n")).sum == 60L))
    assert(audit.map(_.getAs[Long]("inertia_fp")).sum
      == enc.map(_.getAs[Long]("err_fp")).sum)
    // Lloyd property: one update round does not worsen total error
    // (fixed-point snapping can nudge the last bits — allow epsilon)
    val err0 = Similarity.pqEncode(emb, m = 4, k = 8, rounds = 0)
      .agg(sum("err_fp")).head().getLong(0)
    val err1 = enc.map(_.getAs[Long]("err_fp")).sum
    assert(err1 <= err0 + (err0 / 1000).max(16L),
      s"refined error $err1 should not exceed initial $err0")
    assertThrows[IllegalArgumentException](Similarity.pqAssign(emb, m = 5))
  }

  test("pqAdcTopK: an exact duplicate attains the global-minimum ADC = its own quantization error") {
    // period-101 family: no accidental exact repeats inside 40 ids
    // (the first fixture tried period 23 and vectors 0/23 collided —
    // a correct 4-way ADC tie that the test misread as a bug)
    val mkVec = (i: Long) =>
      Array.tabulate(64)(j => (((i * 97 + j * 31) % 101) - 50).toFloat / 20f)
    val base = (0L until 40L).map(i => (i, mkVec(i)))
    // vector 100 is a byte-exact copy of vector 0
    val emb = (base :+ (100L, mkVec(0))).toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.pqAdcTopK(emb, qs, topK = 3).orderBy("rank").collect()
    assert(top.length == 3 && top.forall(_.getAs[Long]("qid") == 0L))
    // the copy's codes are q's own argmin codes, so its ADC is
    // sum(min over centroids) — the global minimum any vector can
    // attain — and equals the copy's own quantization error exactly.
    // (Vectors sharing all 4 codes tie at that ADC; ranks break by id.)
    val copyErr = Similarity.pqEncode(emb)
      .filter(col("vec_id") === 100).head().getAs[Long]("err_fp")
    val copyRow = top.find(_.getAs[Long]("vec_id") == 100L)
    assert(copyRow.isDefined, s"copy missing from top-3: ${top.mkString(", ")}")
    assert(copyRow.get.getAs[Long]("adc_fp") == copyErr)
    assert(top.head.getAs[Long]("adc_fp") == copyErr,
      "nothing can rank above the duplicate's global-minimum ADC")
    // the query never matches itself
    assert(top.forall(_.getAs[Long]("vec_id") != 0L))
  }

  test("ivfPqTopK: probing every cell reproduces full ADC exactly; pruned probes cut candidates") {
    val mkVec = (i: Long) =>
      Array.tabulate(64)(j => (((i * 97 + j * 31) % 101) - 50).toFloat / 20f)
    val emb = (0L until 60L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // nprobe = coarseK: the inverted lists cover the whole corpus, so
    // IVF-PQ must return EXACTLY the full ADC scan's rows
    val full = Similarity.pqAdcTopK(emb, qs, topK = 5)
      .select("qid", "vec_id", "adc_fp", "rank")
    val ivfAll = Similarity.ivfPqTopK(emb, qs, topK = 5, nprobe = 8, coarseK = 8)
      .select("qid", "vec_id", "adc_fp", "rank")
    assert(ivfAll.exceptAll(full).count() == 0 && full.exceptAll(ivfAll).count() == 0,
      "nprobe = coarseK must degrade to the exact full ADC scan")
    // pruned probes: candidate counts drop below the corpus size and
    // the output stays well-formed (<= topK rows per query, ranked)
    val pruned = Similarity.ivfPqTopK(emb, qs, topK = 5, nprobe = 2, coarseK = 8)
      .collect()
    assert(pruned.nonEmpty)
    assert(pruned.forall(_.getAs[Long]("n_cand") < 60L),
      "nprobe 2/8 must score a strict subset of the corpus")
    val byQ = pruned.groupBy(_.getAs[Long]("qid"))
    assert(byQ.values.forall(rs =>
      rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length)))
    assertThrows[IllegalArgumentException](
      Similarity.ivfPqTopK(emb, qs, topK = 5, nprobe = 9, coarseK = 8))
  }

  test("ivfPqResidualTopK: duplicate found via its own cell; residual ADC exact and well-formed") {
    val mkVec = (i: Long) =>
      Array.tabulate(64)(j => (((i * 97 + j * 31) % 101) - 50).toFloat / 20f)
    val emb = ((0L until 60L).map(i => (i, mkVec(i)))
      ++ Seq((100L, mkVec(0)))).toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val top = Similarity.ivfPqResidualTopK(emb, qs, topK = 5,
      nprobe = 2, coarseK = 8).orderBy("rank").collect()
    assert(top.nonEmpty && top.forall(_.getAs[Long]("qid") == 0L))
    // the copy shares the query's cell (identical vector, identical
    // coarse argmin), its residual equals the query's residual, and
    // its codes are that residual's argmin codes — so its ADC is the
    // minimum attainable within the probed cell and it must be found
    val copy = top.find(_.getAs[Long]("vec_id") == 100L)
    assert(copy.isDefined, s"copy missing: ${top.mkString(", ")}")
    assert(copy.get.getAs[Int]("rank") == 1,
      s"copy should rank first, got ${copy.get}")
    assert(top.forall(_.getAs[Long]("vec_id") != 0L), "self excluded")
    assert(top.forall(_.getAs[Long]("n_cand") < 61L), "candidates pruned")
    val ranks = top.map(_.getAs[Int]("rank")).toSeq
    assert(ranks == (1 to ranks.length), "dense ranks")
    assertThrows[IllegalArgumentException](
      Similarity.ivfPqResidualTopK(emb, qs, topK = 5, nprobe = 9, coarseK = 8))
  }

  test("pageRank: integer recurrence exact on hand graphs; hub dominates a star") {
    // star: 1..4 all point at 0; 0 points at 1. Replicate the exact
    // integer recurrence in Scala and compare r_fp bit-for-bit.
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val got = Similarity.pageRank(edges, rounds = 5)
      .orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("r_fp")).toMap
    val deg = Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
    val in = Map(0L -> Seq(1L, 2L, 3L, 4L), 1L -> Seq(0L),
      2L -> Seq.empty[Long], 3L -> Seq.empty[Long], 4L -> Seq.empty[Long])
    var r = Seq(0L, 1L, 2L, 3L, 4L).map(_ -> 1048576L).toMap
    for (_ <- 1 to 5)
      r = r.keys.map { n =>
        val inFp = in(n).map(s => r(s) / deg(s)).sum
        n -> (157286L + (85L * inFp) / 100L)
      }.toMap
    assert(got == r, s"engine $got vs recurrence $r")
    // the hub outranks every spoke
    assert(got(0L) > got(2L) && got(0L) > got(1L))
    // spokes with no inbound sit at the damped base
    assert(got(2L) == 157286L && got(3L) == 157286L)
  }

  test("pageRank: releasing the returned frame frees every RDD the call pinned") {
    val edges = Seq((1L, 0L), (2L, 0L), (0L, 1L), (2L, 1L)).toDF("src", "dst")
    val before = graft.core.Materialize.liveIds(spark)
    val pr = Similarity.pageRank(edges, rounds = 3)
    assert(pr.collect().length == 3)
    graft.core.Materialize.release(pr)
    assert((graft.core.Materialize.liveIds(spark) -- before).isEmpty)
  }

  test("pqRecall: duplicates are always recalled; counts bounded and consistent") {
    val mkVec = (i: Long) =>
      Array.tabulate(64)(j => (((i * 97 + j * 31) % 101) - 50).toFloat / 20f)
    // both query vectors have an exact copy in the corpus: the copy
    // is L2-truth rank 1 AND global-min ADC, so every searcher must
    // recall it — recall@5 is bounded below by 1/5 by construction
    val emb = ((0L until 40L).map(i => (i, mkVec(i)))
      ++ Seq((100L, mkVec(0)), (101L, mkVec(1)))).toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val rep = Similarity.pqRecall(emb, qs, k = 5, nprobe = 8, coarseK = 8)
      .orderBy("qid").collect()
    assert(rep.length == 2)
    for (r <- rep) {
      assert(r.getAs[Long]("k_eval") == 5L)
      assert(r.getAs[Long]("n_hit_pq") >= 1L,
        "the exact duplicate must be recalled by flat ADC")
      // nprobe = coarseK: IVF degenerates to flat ADC, recalls agree
      assert(r.getAs[Long]("n_hit_ivf") == r.getAs[Long]("n_hit_pq"))
      val rc = r.getAs[Double]("recall_pq")
      assert(rc >= 0.2 && rc <= 1.0)
    }
  }

  test("pmiCollocations: fixed-point PMI matches the hand formula; glued pairs outrank chance pairs") {
    // doc 0: "x y" glued 5 times (x only ever precedes y);
    // doc 1: same for "p q"; doc 2: loose filler where "f g" occurs
    // once among many unrelated tokens (chance-level association)
    val docs = Seq(
      (0L, "x y x y x y x y x y"),
      (1L, "p q p q p q p q p q"),
      (2L, "f g f h g f h f g h f g h h f h g g h f")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, "doc_id", "text",
      minCount = 3, k = 10).collect()
    def fl(x: Long): Long = math.floor(math.log(x.toDouble) * 1048576.0).toLong
    val nTokens = 10L + 10L + 20L
    val nBigrams = 9L + 9L + 19L
    val xy = got.find(_.getAs[String]("pair") == "x y").get
    assert(xy.getAs[Long]("n_occ") == 5L && xy.getAs[Long]("c1") == 5L)
    assert(xy.getAs[Long]("pmi_fp")
      == fl(5) + 2 * fl(nTokens) - fl(nBigrams) - fl(5) - fl(5))
    // glued pairs outrank the loose filler pair
    val rankOf = got.map(_.getAs[String]("pair")).zipWithIndex.toMap
    assert(rankOf("x y") < rankOf.getOrElse("f g", Int.MaxValue))
    assert(rankOf("p q") < rankOf.getOrElse("f g", Int.MaxValue))
    // sub-minCount pairs never appear
    assert(got.forall(_.getAs[Long]("n_occ") >= 3L))
  }

  test("zipfFit: exact power law fits slope -1 with r2 ~ 1; head cap respected") {
    // counts 120/r for ranks 1..6: y = ln 120 - ln r, a perfect
    // log-log line of slope -1 (up to the 2^-10 fixed-point floor)
    val counts = (1 to 6).map(r => s"t$r" -> 120 / r)
    val docs = counts.zipWithIndex.map { case ((tok, c), i) =>
      (i.toLong, Seq.fill(c)(tok).mkString(" "))
    }.toDF("doc_id", "text")
    val fit = TextAnalysis.zipfFit(docs, "text", topK = 100).head()
    assert(fit.getAs[Long]("n_terms") == 6L)
    val slope = fit.getAs[Double]("slope")
    val r2 = fit.getAs[Double]("r2")
    assert(math.abs(slope + 1.0) < 0.01, s"slope $slope should be ~ -1")
    assert(r2 > 0.999, s"r2 $r2 should be ~ 1 on an exact power law")
    // topK cap: only the head enters the fit
    val capped = TextAnalysis.zipfFit(docs, "text", topK = 3).head()
    assert(capped.getAs[Long]("n_terms") == 3L)
    assertThrows[IllegalArgumentException](TextAnalysis.zipfFit(docs, "text", 1))
  }

  test("classifierAgreement: kappa exact on a known confusion matrix; NULL labels excluded") {
    // n11=20 n10=5 n01=10 n00=15: po=0.7, pe=0.5, kappa=0.4 exactly
    val rows = Seq.fill(20)((1, 1)) ++ Seq.fill(5)((1, 0)) ++
      Seq.fill(10)((0, 1)) ++ Seq.fill(15)((0, 0))
    val df = rows.toDF("a", "b")
    val got = TextAnalysis.classifierAgreement(df, col("a"), col("b")).head()
    assert((got.getAs[Long]("n"), got.getAs[Long]("n11"), got.getAs[Long]("n10"),
      got.getAs[Long]("n01"), got.getAs[Long]("n00")) == ((50L, 20L, 5L, 10L, 15L)))
    assert(got.getAs[Double]("kappa") == 0.4)
    // a NULL label drops the row from both the counts and the chance
    // model; the surviving single-cell matrix has chance agreement 1,
    // so kappa is NULL (undefined), not a division error
    val withNull = Seq((Some(1), Some(1)), (None, Some(1)), (Some(0), None))
      .toDF("a", "b")
    val gn = TextAnalysis.classifierAgreement(withNull, col("a"), col("b")).head()
    assert(gn.getAs[Long]("n") == 1L && gn.getAs[Long]("n11") == 1L)
    assert(gn.isNullAt(gn.fieldIndex("kappa")))
  }

  test("marginPairs: mutual near-dups score margin ~1, a weaker attachment scores below") {
    val dir = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    // 0/1/2 collinear (pairwise cosine ~1); 3 = dir with one
    // coordinate nudged — same hyperplane bucket (guarded below),
    // strictly smaller cosine to the others
    val bent = dir.clone(); bent(0) = dir(0) + 1.5f
    val emb = Seq((0L, dir), (1L, dir.map(_ * 2)), (2L, dir.map(_ * 3)),
      (3L, bent)).toDF("vec_id", "embedding")
    // fixture guard: all four must share a bucket or the scenario
    // (3 attached to the clique) doesn't exist
    graft.functions.GraftFunctions.register(spark)
    val buckets = emb.select(
      Similarity.bucketCol(col("embedding"), 4)).distinct().count()
    assert(buckets == 1L, "fixture drifted: vectors no longer co-bucketed")
    val got = Similarity.marginPairs(emb, k = 2, planes = 4, topN = 10)
      .orderBy("rank").collect()
    // undirected, deduped, ranked contiguously
    assert(got.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(got.map(_.getAs[Int]("rank")).toSeq == (1 to got.length).toSeq)
    // the collinear pairs rank on top with margin ~1 (cos ~1 over a
    // neighborhood mean of ~1); any pair touching 3 scores lower
    // (margin 2c/(1+c) < 1 for c < 1)
    val top3 = got.take(3).map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(top3 == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(got.take(3).forall(r => math.abs(r.getAs[Double]("margin") - 1.0) < 1e-6))
    assert(got.drop(3).forall(r => r.getAs[Double]("margin") < 0.9999))
    val margins = got.map(_.getAs[Double]("margin")).toSeq
    assert(margins == margins.sortBy(-_), "ranked by margin desc")
  }

  test("bpeEncode: frozen merge table reproduces the trainer's segmentation; fertility exact") {
    val docs = Seq((0L, "a b a b c"), (1L, "a b"), (2L, "x"), (3L, ""))
      .toDF("doc_id", "text")
    // round 1: (a,b)x3 wins; round 2: over rewritten corpus the
    // ("a b","a b") and ("a b","c") pairs tie at 1 — (l, r) order
    // picks ("a b","a b")
    val mt = Dedup.bpeTrain(docs, "doc_id", "text", rounds = 2)
      .orderBy("round").collect()
    assert(mt.map(r => (r.getString(1), r.getString(2))).toSeq
      == Seq(("a", "b"), ("a b", "a b")))
    val merges = mt.map(r => (r.getString(1), r.getString(2))).toSeq
    val got = Dedup.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
      .as[(Long, Int, Long, Int, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 5, 5L, 2, 2500000L), // [a b a b][c]
      (1L, 2, 2L, 1, 2000000L), // [a b]
      (2L, 1, 1L, 1, 1000000L), // untouched single token
      (3L, 0, 0L, 0, 0L)))      // empty doc: no division error
    // an empty merge table is the identity encoding
    val id0 = Dedup.bpeEncode(docs, "doc_id", "text", Nil)
      .orderBy("doc_id").as[(Long, Int, Long, Int, Long)].collect()
    assert(id0.forall(r => r._2 == r._4))
  }

  test("householderRotate: exact reflector — distances/norms preserved, involutive") {
    val emb = (0L until 8L).map(i =>
      (i, Array.tabulate(64)(j => (((i * 31 + j * 7) % 23) - 11).toFloat / 4f)))
      .toDF("vec_id", "embedding")
    val rot = Similarity.householderRotate(emb)
    val orig = emb.orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val rotd = rot.orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // pairwise distances preserved (orthonormal transform)
    for (i <- orig.indices; j <- i + 1 until orig.length) {
      val before = d2(orig(i), orig(j))
      val after = d2(rotd(i), rotd(j))
      assert(math.abs(before - after) <= 1e-9 * before.max(1.0),
        s"distance ($i,$j) drifted: $before -> $after")
    }
    // Householder is an involution: R(Rx) = x
    val twice = Similarity.householderRotate(
        rot.select(col("vec_id"), col("embedding")))
      .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
    for (i <- orig.indices)
      assert(d2(orig(i), twice(i)) < 1e-18 * (1.0 + d2(orig(i), orig(i))),
        s"R(Rx) != x at row $i")
    // the audit reports both variants with full per-sub coverage
    val audit = Similarity.rotatedPqAudit(emb).collect()
    val byVar = audit.groupBy(_.getAs[String]("variant"))
    assert(byVar.keySet == Set("plain", "rotated"))
    for ((_, rows) <- byVar; (_, subRows) <- rows.groupBy(_.getAs[Int]("sub")))
      assert(subRows.map(_.getAs[Long]("n")).sum == 8L)
  }

  test("jlProject/jlDistortion: linear projection; collinear family has constant ratio") {
    val dir = Array.tabulate(64)(i => (i % 9 - 4).toFloat)
    val emb = Seq((0L, dir), (1L, dir.map(_ * 2)), (2L, dir.map(_ * 4)))
      .toDF("vec_id", "embedding")
    val p = Similarity.jlProject(emb, r = 16).orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).toArray)
    assert(p(0).length == 16)
    // multiplication by 2 is exact in binary floating point, so the
    // projection of 2x is EXACTLY 2*proj(x)
    assert(p(1).toSeq == p(0).map(_ * 2).toSeq)
    assert(p(2).toSeq == p(0).map(_ * 4).toSeq)
    // collinear pairs: d2p/d2o identical for every pair -> the
    // per-bucket min/max fixed-point ratios coincide
    val d = Similarity.jlDistortion(emb, r = 16, planes = 4).collect()
    assert(d.map(_.getAs[Long]("n_pairs")).sum == 3L)
    for (row <- d) {
      assert(row.getAs[Long]("min_fp") == row.getAs[Long]("max_fp"))
      val mean = row.getAs[Double]("mean_ratio")
      assert(mean > 0.0, s"ratio must be positive, got $mean")
    }
    // an exact duplicate pair (zero distance) is excluded, not a NaN
    val withDup = Seq((0L, dir), (1L, dir)).toDF("vec_id", "embedding")
    assert(Similarity.jlDistortion(withDup, r = 16, planes = 4)
      .agg(sum("n_pairs")).head().isNullAt(0)) // no qualifying pairs at all
  }

  test("lshIngestAtRest/lshProbeAtRest: batch probes the stored index; hot buckets reduce to the star hub") {
    val boiler = "subscribe to our newsletter for updates terms of " +
      "service privacy policy all rights reserved contact support now"
    val normal = "the quick brown fox jumps over the lazy dog again and again"
    // base corpus: 130 boilerplate copies (ids 0-129, over maxBucket
    // 64 -> stored as hub id 0 only) + one normal doc (id 500)
    val base = spark.range(130L).select(col("id").as("doc_id"),
        lit(boiler).as("text"))
      .unionByName(Seq((500L, normal)).toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("lsh_at_rest_spec").toString
    Dedup.lshIngestAtRest(base, "doc_id", "text", dir)
    // hot-bucket reduction is visible in the artifact itself: the
    // boilerplate bucket stores ONE row (the hub) per band
    val buckets = spark.read.parquet(AtRestStore.tablePath(spark, dir, "buckets"))
    val boilerRows = buckets.filter(col("id") < 130L)
    assert(boilerRows.count() == 4L, "one hub row per band expected")
    assert(boilerRows.select("id").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(buckets.filter(col("id") === 500L).count() == 4L)
    // probe: a fresh boilerplate copy, an exact copy of the normal
    // doc, and an unrelated doc
    val probe = Seq(
      (1000L, boiler), (1001L, normal),
      (1002L, "completely unrelated words about spark shuffles and joins here"))
      .toDF("doc_id", "text")
    val got = Dedup.lshProbeAtRest(spark, dir, probe, "doc_id", "text")
      .orderBy("new_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1000L, 0L, 1.0), (1001L, 500L, 1.0)),
      s"unexpected probe pairs: $got")
    // the shingle store covers every ingested doc (verify side)
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "shingles")).count() == 131L)
  }

  test("lshAppendAtRest: appended docs probe-visible; per-batch cap accumulates across batches") {
    val boiler = "subscribe to our newsletter for updates terms of " +
      "service privacy policy all rights reserved contact support now"
    val normalA = "the quick brown fox jumps over the lazy dog again and again"
    val normalB = "completely different words about raster pyramids and tile overviews"
    val dir = java.nio.file.Files.createTempDirectory("lsh_append_spec").toString
    // 40 boilerplate copies per batch: UNDER the 64 cap individually,
    // over it combined — the documented per-ingest-batch contract
    val base = spark.range(40L).select(col("id").as("doc_id"),
        lit(boiler).as("text"))
      .unionByName(Seq((500L, normalA)).toDF("doc_id", "text"))
    val appended = spark.range(1000L, 1040L).select(col("id").as("doc_id"),
        lit(boiler).as("text"))
      .unionByName(Seq((600L, normalB)).toDF("doc_id", "text"))
    Dedup.lshIngestAtRest(base, "doc_id", "text", dir)
    Dedup.lshAppendAtRest(appended, "doc_id", "text", dir)
    // no cross-batch hub reduction: all 80 copies rest in the index
    val buckets = spark.read.parquet(AtRestStore.tablePath(spark, dir, "buckets"))
    assert(buckets.filter(col("id") < 2000L and col("id") =!= 500L
      and col("id") =!= 600L).count() == 80L * 4L)
    // a probe sees base AND appended through the unchanged read path
    val probe = Seq((2000L, normalB), (2001L, normalA))
      .toDF("doc_id", "text")
    val got = Dedup.lshProbeAtRest(spark, dir, probe, "doc_id", "text")
      .orderBy("new_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((2000L, 600L, 1.0), (2001L, 500L, 1.0)),
      s"unexpected probe pairs: $got")
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "shingles")).count() == 82L)
  }

  test("lshCompactAtRest: cross-batch hot bucket re-caps to one hub; probe == one-shot ingest; max_bucket gate is loud") {
    val boiler = "subscribe to our newsletter for updates terms of " +
      "service privacy policy all rights reserved contact support now"
    val normalA = "the quick brown fox jumps over the lazy dog again and again"
    val dirM = java.nio.file.Files.createTempDirectory("lsh_compact_spec_m").toString
    val dirO = java.nio.file.Files.createTempDirectory("lsh_compact_spec_o").toString
    // the q209 drift fixture: 40 boiler copies per batch, under the
    // 64 cap individually, over it combined
    val base = spark.range(40L).select(col("id").as("doc_id"),
        lit(boiler).as("text"))
      .unionByName(Seq((500L, normalA)).toDF("doc_id", "text"))
    val appended = spark.range(1000L, 1040L).select(col("id").as("doc_id"),
        lit(boiler).as("text"))
    Dedup.lshIngestAtRest(base, "doc_id", "text", dirM)
    Dedup.lshAppendAtRest(appended, "doc_id", "text", dirM)
    // a WRITE face with a divergent hub cap must fail loud, not
    // silently apply a different reduction to one batch
    val ex = intercept[IllegalArgumentException] {
      Dedup.lshAppendAtRest(appended, "doc_id", "text", dirM,
        maxBucket = Some(32))
    }
    assert(ex.getMessage.contains("maxBucket=64"))
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dirM, "buckets"))
      .filter(col("id") =!= 500L).count() == 80L * 4L) // drift at rest
    Dedup.lshCompactAtRest(spark, dirM)
    // post-compaction: the boiler bucket holds exactly the min-id hub
    // per band, the normal doc is untouched, nothing exceeds the cap
    val buckets = spark.read.parquet(AtRestStore.tablePath(spark, dirM, "buckets"))
    val boilerRows = buckets.filter(col("id") =!= 500L)
    assert(boilerRows.count() == 4L, "one hub row per band expected")
    assert(boilerRows.select("id").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(buckets.filter(col("id") === 500L).count() == 4L)
    // shingle store untouched: every ingested doc still verifiable
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dirM, "shingles")).count() == 81L)
    // probe equivalence: compacted multi-batch index == one-shot
    // ingest of the union
    Dedup.lshIngestAtRest(base.unionByName(appended), "doc_id", "text", dirO)
    val probe = Seq((2000L, boiler), (2001L, normalA)).toDF("doc_id", "text")
    val gotM = Dedup.lshProbeAtRest(spark, dirM, probe, "doc_id", "text")
      .orderBy("new_id", "base_id").as[(Long, Long, Double)].collect().toSeq
    val gotO = Dedup.lshProbeAtRest(spark, dirO, probe, "doc_id", "text")
      .orderBy("new_id", "base_id").as[(Long, Long, Double)].collect().toSeq
    assert(gotM == gotO, s"compacted probe $gotM != one-shot probe $gotO")
    assert(gotM == Seq((2000L, 0L, 1.0), (2001L, 500L, 1.0)))
  }

  test("ivfPqRebalance: drifted pile splits under the cap; codes conserved; probe serves the finer cells; m gate is loud") {
    // 40 base vectors spread by id + 60 appended drifted copies far
    // outside the base range -> one coarse cell piles to 60+
    def mk(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 31 + i * 7) % 41).toFloat - 20f) / 10f)
    val base = (0L until 40L).map(i => (i, mk(i)))
      .toDF("vec_id", "embedding")
    val drifted = (100L until 160L)
      .map(i => (i, Array.tabulate(64)(d => if (d < 8) 2.5f + (i % 7) * 0.5f else 2.5f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebal_spec").toString
    Similarity.ivfPqIngest(base, dir)
    Similarity.ivfPqAppend(drifted, dir)
    // loud structural gate: wrong m must fail before writing codes
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqAppend(drifted, dir, m = 2)
    }
    assert(ex.getMessage.contains("m=4"))
    val pre = Similarity.ivfPqCellCensus(spark, dir)
      .as[(Int, Long)].collect().toMap
    assert(pre.values.sum == 100L)
    assert(pre.values.max >= 60L, s"drift pile expected, got $pre")
    val cap = 30L
    Similarity.ivfPqRebalance(spark, dir, cap)
    Similarity.ivfPqRebalance(spark, dir, cap)
    val post = Similarity.ivfPqCellCensus(spark, dir)
      .as[(Int, Long)].collect().toMap
    assert(post.values.sum == 100L, "codes must be conserved")
    assert(post.values.max <= cap, s"post census over cap: $post")
    assert(post.size > pre.size)
    // the unchanged read path serves the finer cell list: a drifted
    // query must find drifted neighbors through the rebalanced index
    val qs = Seq((100L, Array.tabulate(64)(d => if (d < 8) 2.5f + 0.5f else 2.5f)))
      .toDF("qid", "qvec")
    val got = Similarity.ivfPqTopKAtRest(spark, dir, qs, topK = 5, nprobe = 4)
    assert(got.count() == 5)
    val ids = got.select("vec_id").as[Long].collect().toSet
    assert(ids.forall(_ >= 100L), s"drifted query should retrieve drifted ids, got $ids")
  }

  test("farthestFirst: greedy picks true extremes; batched costs non-increasing") {
    // points on one axis at 0, 1, 10, 11, 100: from any seed the
    // greedy traversal must jump to the far extreme first
    def mk(x: Float) = Array.tabulate(64)(i => if (i == 0) x else 0f)
    val pos = Map(0L -> 0f, 1L -> 1f, 2L -> 10f, 3L -> 11f, 4L -> 100f)
    val emb = pos.toSeq.map { case (i, x) => (i, mk(x)) }
      .toDF("vec_id", "embedding")
    val greedy = Similarity.farthestFirst(emb, k = 5, batch = 1)
      .orderBy("sel_order").as[(Int, Long, Long)].collect().toSeq
    assert(greedy.map(_._1) == Seq(0, 1, 2, 3, 4))
    assert(greedy.map(_._2).distinct.length == 5)
    assert(greedy.head._3 == 0L)
    // replay the traversal in plain Scala and demand the same order
    def d2(a: Long, b: Long): Double = {
      val d = pos(a).toDouble - pos(b).toDouble; d * d
    }
    var chosen = Vector(greedy.head._2)
    for (step <- 1 until 5) {
      val cand = pos.keys.filterNot(chosen.contains)
        .map(id => (id, chosen.map(c => d2(id, c)).min))
      val best = cand.toSeq.sortBy { case (id, c) => (-c, id) }.head
      assert(greedy(step)._2 == best._1, s"step $step picked ${greedy(step)._2}, expected ${best._1}")
      assert(greedy(step)._3 == math.floor(best._2 * 1048576.0).toLong)
      chosen :+= best._1
    }
    // batched: selected costs are non-increasing in selection order,
    // and with k=3 (a REAL subset) the spread property must hold —
    // both extremes of the layout are selected whatever the batching
    val batched = Similarity.farthestFirst(emb, k = 5, batch = 2)
      .orderBy("sel_order").as[(Int, Long, Long)].collect().toSeq
    val costs = batched.drop(1).map(_._3)
    assert(costs == costs.sortBy(-_), s"costs not non-increasing: $costs")
    assert(batched.map(_._2).distinct.length == 5)
    val sub = Similarity.farthestFirst(emb, k = 3, batch = 2)
      .orderBy("sel_order").as[(Int, Long, Long)].collect().toSeq
    val subIds = sub.map(_._2).toSet
    assert(subIds.size == 3)
    // position 100 (id 4) is the far extreme from every possible
    // seed, and a k=3 spread over {0,1,10,11,100} must keep the two
    // opposite ends of the axis
    assert(subIds.contains(4L), s"far extreme missing from $subIds")
    assert(subIds.contains(0L) || subIds.contains(1L),
      s"near extreme missing from $subIds")
    // k larger than the corpus fails loudly, not silently short
    assertThrows[IllegalArgumentException](
      Similarity.farthestFirst(emb, k = 6, batch = 2).collect())
  }

  test("softDedupWeights: cross-source clusters split weight; integer masses exact") {
    val t1 = "alpha beta gamma"      // 3 tokens, duplicated 3x across sources
    val t2 = "delta epsilon"         // 2 tokens, unique
    val t3 = "zeta eta theta iota"   // 4 tokens, unique
    val docs = Seq(
      (0L, t1, "srcA"), (1L, t1, "srcA"), (2L, t2, "srcA"),
      (3L, t1, "srcB"), (4L, t3, "srcB"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.softDedupWeights(docs, "doc_id", "text", "source")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // t1 cluster size 3 -> each copy weighs 333333 (floor of 1e6/3)
    assert(got == Seq(
      ("srcA", 3L, 2L, 8L, 3L * 333333L * 2 + 2L * 1000000L),
      ("srcB", 2L, 2L, 7L, 3L * 333333L + 4L * 1000000L)))
  }
}
