package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Dedup, Multimodal, Retrieval, Sampling, Similarity, Sketches, TextAnalysis}

/** Declared correctness queries for the LLM-data-pipeline operators
  * (dedup, similarity search, text analysis, multimodal plumbing) over
  * the `documents`/`embeddings` fixture tables.
  *
  * Every candidate-generating query is banded/bucketed (LSH bands,
  * simhash buckets, prefix blocks, hyperplane buckets) — the DuckDB
  * oracle recomputes the identical bucketing, so correctness is
  * checked on the very plan shape that scales.
  */
object LlmQueries {

  /** Scratch dir for q103's at-rest corpus: keyed by the FULL
    * sanitized dataset path (no hashCode collisions between data
    * dirs) plus a per-JVM token (concurrent processes on the same
    * dataset don't race on overwrite; re-runs within one JVM reuse
    * the path, so `mode(overwrite)` stays idempotent). Recursively
    * removed on JVM exit.
    */
  private val jvmToken: String = java.util.UUID.randomUUID.toString.take(8)
  private val atRestDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def atRestDir(d: String,
                        prefix: String = "graft_ivf_at_rest"): String = {
    val key = prefix + "_" + d.replaceAll("[^A-Za-z0-9._-]", "_")
    atRestDirs.computeIfAbsent(key, { k =>
      val f = new java.io.File(sys.props("java.io.tmpdir"),
        s"${k}_$jvmToken")
      val root = f.toPath
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          if (java.nio.file.Files.exists(root))
            java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case _: Throwable => () }))
      f.toString
    })
  }

  /** One-shot at-rest ingest: runs `write` the FIRST time `key` is
    * seen in this JVM, then every later call is read-only. The
    * at-rest queries (q103 IVF partitioning, q145 bucketed dedup
    * layout) exist to show the production shape — pay the layout
    * once at ingest, run every query after against it — so repeated
    * invocations (bench warmup+iterations, a long-lived session)
    * must time the READ side, not re-pay fixture prep per run
    * (BASELINE.md: "the read side alone is the production shape").
    * `computeIfAbsent` blocks concurrent callers until the write
    * lands; per-JVM scratch dirs (see [[atRestDir]]) keep processes
    * from sharing half-written state.
    */
  private val ingestedAtRest =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ingestOnce(key: String)(write: => Unit): Unit = {
    ingestedAtRest.computeIfAbsent(key, { k => write; k })
    ()
  }

  /** Cheap content fingerprint of the ingest INPUTS: per file, path +
    * size + mtime + file count, PLUS a bounded content probe — the
    * first 256 and last 4096 bytes (for parquet the tail IS the
    * footer: row-group offsets, column stats, created-by — it changes
    * whenever the data changes, even at identical byte size). Folded
    * into the [[ingestOnce]] key so a fixture regenerated within one
    * JVM triggers a re-ingest instead of serving stale at-rest data;
    * the probe closes the former same-second/same-size blind spot
    * (mtime granularity + deterministic generators can reproduce both
    * while the CONTENT differs). I/O cost is ≤4.3 KB per input file,
    * paid once per distinct ingest key, never per query. The
    * overwrite write mode keeps the re-ingest into the same scratch
    * dir idempotent.
    */
  private def inputFingerprint(paths: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var nFiles = 0L
    def probe(x: java.io.File): Unit = try {
      val raf = new java.io.RandomAccessFile(x, "r")
      try {
        val head = new Array[Byte](math.min(256L, raf.length()).toInt)
        raf.readFully(head); md.update(head)
        val tailLen = math.min(4096L, raf.length())
        raf.seek(raf.length() - tailLen)
        val tail = new Array[Byte](tailLen.toInt)
        raf.readFully(tail); md.update(tail)
      } finally raf.close()
    } catch { case _: java.io.IOException => () } // metadata still hashed
    def walk(x: java.io.File): Unit =
      if (x.isDirectory)
        // listFiles() returns NULL (not empty) on an I/O error or an
        // unreadable dir — degrade to "no entries" (worst case: one
        // redundant re-ingest) instead of NPE-ing the whole query.
        Option(x.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).foreach(walk)
      else {
        nFiles += 1
        md.update(s"${x.getPath}|${x.length}|${x.lastModified}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        probe(x)
      }
    paths.foreach { p => val f = new java.io.File(p); if (f.exists) walk(f) }
    md.update(s"|n=$nFiles".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.math.BigInteger(1, md.digest).toString(16).take(12)
  }

  /** Per-session ingest token: a UUID held in a WeakHashMap rather
    * than `System.identityHashCode` — identity hashes can be reused
    * by a NEW session after the old one is collected, which would
    * skip a re-ingest the new session's catalog actually needs
    * (bucketed tables register per-session).
    */
  private val sessionTokens = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def sessionToken(s: SparkSession): String =
    sessionTokens.computeIfAbsent(s, _ => java.util.UUID.randomUUID.toString.take(8))

  /** q42 text metrics: token counts (whitespace + BPE-ish subword
    * regex) + quality signals per doc.
    */
  def q42(s: SparkSession, d: String): DataFrame =
    TextAnalysis.withQuality(Tables.documents(s, d))
      .withColumn("n_subwords", TextAnalysis.subwordCountCol(col("text")))
      .select("doc_id", "n_tokens", "n_subwords", "n_distinct_tokens", "n_punct",
        "lex_diversity", "mean_token_len")
      .orderBy("doc_id")

  /** q43 language-ID heuristic histogram. */
  def q43(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(TextAnalysis.langIdCol(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang_pred")

  /** q44 rolling-hash document fingerprint. */
  def q44(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.fingerprintCol(col("text"), 64).as("fp"))
      .orderBy("doc_id")

  /** q69 repetition quality signals (Gopher-style pretraining
    * filters at token level): distinct-token ratio + top unigram /
    * bigram fractions. The oracle recomputes the identical counts
    * with DuckDB list functions (integer counts, IEEE divisions —
    * bit-exact cross-engine).
    */
  def q69(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionSignals(
        Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tok"),
        col("distinct_token_ratio"), col("top_unigram_frac"), col("top_bigram_frac"))
      .orderBy("doc_id")

  /** q76 quality-filter verdict: Gopher-style keep/drop per doc with
    * an explanatory failure count — pure per-row expressions.
    */
  def q76(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityVerdict(Tables.documents(s, d))
      .select("doc_id", "n_fail", "keep")
      .orderBy("doc_id")

  /** q77 deterministic stratified sampling (data mixing): md5-hash
    * draws against per-language rates; per-stratum totals vs kept.
    * The oracle reproduces the identical draw from the same md5
    * construction used by q47.
    */
  def q77(s: SparkSession, d: String): DataFrame = {
    val rates = Seq("en" -> 0.35, "other" -> 0.10) // charset langs keep all
    val tagged = Tables.documents(s, d)
      .withColumn("lang_pred", TextAnalysis.langIdCol(col("text")))
    val kept = Sampling.stratifiedSample(tagged, col("lang_pred"), col("doc_id"),
        rates, defaultRate = 1.0)
      .groupBy("lang_pred").agg(count(lit(1)).as("n_kept"))
    tagged.groupBy("lang_pred").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("lang_pred"), "left")
      .select(col("lang_pred"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("lang_pred")
  }

  /** q88 exact-count stratified take (mix to a target budget): keep
    * the first N docs per language in md5-hash order — the rank form
    * of q77's draw, exact counts instead of expected counts. The
    * oracle replays the identical ROW_NUMBER over (md5, id). Output
    * is the per-stratum kept count + an order-independent id checksum.
    */
  def q88(s: SparkSession, d: String): DataFrame = {
    val tagged = Tables.documents(s, d)
      .withColumn("lang_pred", TextAnalysis.langIdCol(col("text")))
    val kept = Sampling.stratifiedTake(tagged, col("lang_pred"), col("doc_id"),
      Seq("en" -> 50L, "other" -> 20L), defaultCount = 5L)
    kept.groupBy("lang_pred")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("lang_pred")
  }

  /** q89 benchmark decontamination: docs with doc_id ≡ 0 (mod 17) act
    * as the held-out benchmark; every other doc reports its distinct
    * word-3-gram overlap with the benchmark's gram set — the
    * GPT-3-style n-gram contamination check a pipeline runs before
    * mixing. The oracle recomputes the identical shingle sets and the
    * same gram join.
    */
  def q89(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val train = docs.filter(col("doc_id") % 17 =!= 0)
    Dedup.decontaminate(train, bench, "doc_id", "text", n = 3)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_hit"),
        col("contamination"),
        (col("contamination") >= 0.05).cast("int").as("flagged"))
      .orderBy("doc_id")
  }

  /** q90 PII detection + redaction: the fixture corpus carries no PII,
    * so deterministic synthetic contacts are appended (doc_id-derived
    * emails on ≡0 mod 7, IPv4 literals on ≡0 mod 11 — multiples of 77
    * get both) and the detector must count exactly those and scrub
    * them; md5 of the redacted text proves the rewrite byte-for-byte.
    */
  def q90(s: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(s, d).select("doc_id", "text")
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string"))).otherwise(lit(""))))
    TextAnalysis.withPii(seeded)
      .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("has_pii"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** q91 per-source mixing table: the quality verdict aggregated to
    * the source/domain level — doc counts, kept counts, kept-token
    * budget, keep rate — the statistics a pipeline uses to set
    * per-domain sampling weights (C4/RefinedWeb-style domain
    * filtering). Integer aggregates only; the rate is one terminal
    * division, so the doubles are engine-exact.
    */
  def q91(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityVerdict(Tables.documents(s, d))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("keep").as("n_keep"),
        sum(when(col("keep") === 1, col("n_tokens")).otherwise(0)).as("kept_tokens"))
      .withColumn("keep_rate", col("n_keep").cast("double") / col("n_docs"))
      .orderBy("source")

  /** q45 exact dedup over a corpus doubled with shifted ids — the
    * removal decision is non-vacuous by construction (every doc has
    * exactly one duplicate).
    */
  def q45(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100000))
    Dedup.exactDedup(doubled, "doc_id", "text")
      .orderBy("keep_id")
  }

  /** q46 prefix-fingerprint dedup: natural duplicate groups in the
    * fixture (shared 64-char prefixes).
    */
  def q46(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(substring(col("text"), 1, 64)).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy("keep_id")

  /** q47 MinHash-LSH near-dup pairs (banded; exact-Jaccard verified). */
  def q47(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
        numHashes = 16, bands = 4, threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** q70 near-dup clusters: the q47 pair graph closed into connected
    * components (min-id cluster labels + component sizes) — the
    * actual removal unit of fuzzy dedup. The oracle recomputes the
    * identical pairs, then closes them with a recursive CTE.
    */
  def q70(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
      numHashes = 16, bands = 4, threshold = 0.5)
    // cc is a cheap select over connectedComponents' internally
    // checkpointed label frame — two consumers below re-run only that
    // select, never the iteration
    val cc = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
    // sizes via groupBy + join-back, not count().over(partitionBy):
    // one viral near-dup cluster would otherwise buffer whole in a
    // single WindowExec task (same de-skew as Similarity.semanticPrune)
    val sizes = cc.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster_id"))
      .select("doc_id", "cluster_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** q75 n-gram Jaccard near-dup with prefix blocking — the fourth
    * dedup family's oracle query (candidates share a 32-char prefix
    * block; exact char-5-gram Jaccard verifies at 0.7).
    */
  def q75(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardBlocked(Tables.documents(s, d), "doc_id", "text",
        prefixLen = 32, n = 5, threshold = 0.7)
      .orderBy("id_a", "id_b")

  /** q94 substring-duplication stats (Lee et al.-style): 32-char
    * windows at stride 8, per-doc distinct-window counts and how many
    * occur in any other doc — the span-level boilerplate signal
    * document-level dedup can't see. The oracle rebuilds the same
    * windows, hashes, and cross-doc counts.
    */
  def q94(s: SparkSession, d: String): DataFrame =
    Dedup.substringDupStats(Tables.documents(s, d), "doc_id", "text",
        k = 32, stride = 8)
      .select(col("id").as("doc_id"), col("n_windows"), col("n_shared"),
        col("shared_frac"))
      .orderBy("doc_id")

  /** q95 sequence packing: docs → fixed token-budget bins in
    * deterministic hash order, packed per shard (the batch-assembly
    * step before pretraining; parallelism scales with the shard
    * count). Output is per-(shard, bin) fill statistics; the oracle
    * replays the identical running-sum window.
    */
  def q95(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("n_tokens", TextAnalysis.tokenCountCol(col("text")))
    Sampling.packBins(docs, col("doc_id"), col("n_tokens"),
        budget = 2048L, shards = 8)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"))
      .orderBy("shard", "bin")
  }

  /** q96 BM25-style lexical retrieval: top-10 docs for a 3-term query
    * (qid 0 of the shared retrieval batch, run alone) — the keyword
    * complement of the embedding-ANN queries. Rational idf +
    * fixed-point contribution sums keep every score bit-equal across
    * engines (see Retrieval scaladoc); the oracle rebuilds the
    * inverted index and the identical score arithmetic.
    */
  def q96(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopKBatch(Tables.documents(s, d), "doc_id", "text",
        retrievalQueryBatch(s).filter(col("qid") === 0L), k = 10).coalesce(1)
      .select(col("id").as("doc_id"), col("score"), col("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))

  /** q98 unigram LM quality score (the CCNet-style perplexity filter's
    * relational core): add-one-smoothed token model fit on the corpus,
    * mean token log-prob per doc via fixed-point sums (see
    * TextAnalysis.unigramLogProb). The oracle refits the identical
    * model and replays the same quantized arithmetic.
    */
  def q98(s: SparkSession, d: String): DataFrame =
    TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("mean_logp"))
      .orderBy("doc_id")

  /** q99 per-group embedding centroids: dim-keyed aggregation with
    * fixed-point component sums (see Similarity.groupCentroids) —
    * the SemDeDup-style cluster-curation primitive, here stratified
    * by vec_id mod 4.
    */
  def q99(s: SparkSession, d: String): DataFrame =
    Similarity.groupCentroids(
        Tables.embeddings(s, d).select("vec_id", "embedding"),
        col("vec_id") % 4)
      .orderBy("grp", "dim")

  /** q100 the full curation pipeline in ONE declarative plan — the
    * end-to-end flow a pretraining corpus actually runs, composed
    * from the operators this engine ships: Gopher-style quality
    * filter → prefix-fingerprint dedup (keep lowest id per group) →
    * language tagging → deterministic stratified downsampling →
    * per-language corpus accounting. The oracle composes the same
    * stages as CTEs; one hash mismatch anywhere in the chain fails
    * the gate, so this query certifies the operators COMPOSE, not
    * just that each works alone.
    */
  def q100(s: SparkSession, d: String): DataFrame = {
    val kept = TextAnalysis.qualityVerdict(Tables.documents(s, d))
      .filter(col("keep") === 1)
    val deduped = kept
      .withColumn("h", md5(substring(col("text"), 1, 64)))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("h").orderBy("doc_id")))
      .filter(col("rk") === 1)
      .withColumn("lang_pred", TextAnalysis.langIdCol(col("text")))
    Sampling.stratifiedSample(deduped, col("lang_pred"), col("doc_id"),
        Seq("en" -> 0.5), defaultRate = 1.0)
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang_pred")
  }

  /** q48 SimHash bucket groups. */
  def q48(s: SparkSession, d: String): DataFrame =
    Dedup.simhashBuckets(Tables.documents(s, d), "doc_id", "text")
      .orderBy("simhash")

  /** q49 brute-force cosine top-10 of vec 0 (exact ANN baseline), a
    * one-row batch. One query yields ≤ k rows, so `coalesce(1)` lets
    * the final sort read them in one partition instead of paying a
    * range exchange and its sampling job (q50, q79 and q96 likewise).
    */
  def q49(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.bruteTopKBatch(emb, qs, k = 10).coalesce(1)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** q50 LSH-bucketed ANN top-10 of vec 0 (4 hyperplanes). */
  def q50(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.lshTopKBatch(emb, qs, k = 10, planes = 4).coalesce(1)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** q51 hyperplane bucket histogram (LSH partition balance). */
  def q51(s: SparkSession, d: String): DataFrame =
    Similarity.bucketHistogram(Tables.embeddings(s, d), planes = 4)
      .orderBy("bucket")

  /** Shared q85/q103 oracle: the batched-IVF search re-derived in SQL
    * (fixed q79 quantizer inlined per (c, dim)). q103 runs the SAME
    * search against the at-rest partitioned corpus — one oracle text
    * gates both plans.
    */
  private lazy val ivfBatchOracle: String = {
      // fixed centroid formula shared with q79, inlined per (c, dim)
      val cv = "(CAST(((c * 37 + (CAST(i AS INTEGER) - 1) * 13) % 41 - 20) AS DOUBLE) / 10.0)"
      def sqDist(vec: String) = foldSum(
        s"list_transform(range(1, 65), i -> (CAST($vec[CAST(i AS INTEGER)] AS DOUBLE) - $cv)" +
          s" * (CAST($vec[CAST(i AS INTEGER)] AS DOUBLE) - $cv))")
      s"""WITH cent AS (SELECT CAST(c AS INTEGER) AS c FROM range(4) t(c)),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 6),
         |qd AS (SELECT q.qid, q.qv, cent.c, ${sqDist("q.qv")} AS d
         |       FROM q CROSS JOIN cent),
         |probe AS (
         |  SELECT qid, c FROM (
         |    SELECT qid, c, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, c) AS rn
         |    FROM qd)
         |  WHERE rn <= 2),
         |ad AS (
         |  SELECT e.vec_id, e.embedding, cent.c, ${sqDist("e.embedding")} AS d
         |  FROM embeddings e CROSS JOIN cent),
         |an AS (
         |  SELECT vec_id, embedding, c,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
         |  FROM ad),
         |cand AS (
         |  SELECT p.qid, a.vec_id,
         |         ${dotExpr("a.embedding", "q.qv")}
         |           / (SQRT(${dotExpr("a.embedding", "a.embedding")})
         |              * SQRT(${dotExpr("q.qv", "q.qv")})) AS cc
         |  FROM an a JOIN probe p ON a.c = p.c
         |  JOIN q ON q.qid = p.qid
         |  WHERE a.rn = 1 AND a.vec_id <> p.qid),
         |rk AS (
         |  SELECT qid, vec_id, cc,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cc DESC, vec_id) AS INTEGER) AS rank
         |  FROM cand)
         |SELECT qid, vec_id, ROUND(cc, 6) AS cosine, rank FROM rk
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** Fixed literal IVF centroids shared by q79 and its oracle: small
    * exact rationals (n/10 with |n| ≤ 20), identical doubles in any
    * engine. The Lloyd fit stays test-covered in LlmSpec (iterative
    * float means are not oracle-stable); this freezes the
    * cluster-routing + exact-search path behind a green oracle.
    */
  private def ivfFixedCentroids: Seq[Array[Double]] =
    (0 until 4).map(c => Array.tabulate(64)(i => ((c * 37 + i * 13) % 41 - 20) / 10.0))

  /** q79 IVF ANN with the fixed quantizer: vec 0 expands to its
    * nprobe nearest clusters (per-row expression over the centroid
    * literals) and is searched exactly within them, cosine top-10.
    */
  def q79(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopKBatch(emb, Similarity.IvfModel(ivfFixedCentroids), qs,
        topK = 10, nprobe = 2).coalesce(1)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
  }

  /** q84 batched exact ANN (the many-probe form of q49 — a pipeline
    * issues probes by the batch, reference analogue the vector-params
    * fan-out of `viewshed_params.py:84-96`): 8 query vectors ranked
    * against the corpus in ONE plan — broadcast batch to the scan,
    * per-query window top-5. The oracle replays the identical fold
    * dot products and ROW_NUMBER ranking.
    */
  def q84(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.bruteTopKBatch(emb, qs, k = 5)
      .select(col("qid"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q85 batched IVF ANN with the q79 fixed quantizer: 6 queries each
    * expand to their 2 nearest clusters (per-row expression over the
    * centroid literals), meet the assignment-keyed corpus through an
    * equi-join on the cluster id — queries as data, nothing collected
    * or broadcast — then window top-5 per query.
    */
  def q85(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopKBatch(emb, Similarity.IvfModel(ivfFixedCentroids), qs,
        topK = 5, nprobe = 2)
      .select(col("qid"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q103 IVF at-rest pruning: the q85 search against a corpus
    * PRE-ASSIGNED by [[graft.llm.Similarity.assignIvf]] and written
    * PARTITIONED BY the cluster key — the production ingest shape the
    * assignIvf scaladoc promises. The probe equi-join then prunes the
    * partitioned scan dynamically (DPP: the scan's PartitionFilters
    * carry a dynamicpruning subquery on `ivf_c`, LlmSpec pins it), so
    * a query touches nprobe/k of the data at rest instead of paying
    * k×dim distance folds per row. Bit-equal to q85; one shared
    * oracle gates both. The partitioned write is INGEST, paid once
    * per JVM ([[ingestOnce]]); every later invocation — bench
    * iterations included — times the DPP-pruned read+search only,
    * which is what a production query against the layout costs.
    */
  def q103(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val model = Similarity.IvfModel(ivfFixedCentroids)
    val atRest = atRestDir(d)
    ingestOnce(atRest + "#" + inputFingerprint(d + "/embeddings.parquet")) {
      Similarity.assignIvf(emb, model).write.mode("overwrite")
        .partitionBy("ivf_c").parquet(atRest)
    }
    val corpus = s.read.parquet(atRest)
    val qs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopKBatch(corpus, model, qs, topK = 5, nprobe = 2,
        assignedCol = Some("ivf_c"))
      .select(col("qid"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q86 batched LSH ANN: the hyperplane twin of q85 — both sides
    * bucket with the same deterministic projection and candidates form
    * through the bucket equi-join (queries as data); exact cosine
    * top-5 per query. 4 planes keep buckets populated at sf0.01.
    */
  def q86(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.lshTopKBatch(emb, qs, k = 5, planes = 4)
      .select(col("qid"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q93 symmetric int8 quantization of the embedding corpus (the 4×
    * compression step before building an ANN index at scale): exact
    * max-abs scale + floor-rounded integer codes, digested per vector
    * into order-independent integer aggregates (sum/min/max/nonzero)
    * so the oracle compares every code without shipping arrays.
    */
  def q93(s: SparkSession, d: String): DataFrame = {
    val q = Similarity.quantizeInt8(
      Tables.embeddings(s, d).select("vec_id", "embedding"))
    q.select(col("vec_id"), col("q_scale"),
        aggregate(col("q_codes"), lit(0L), (a, c) => a + c).as("sum_q"),
        array_min(col("q_codes")).as("min_q"),
        array_max(col("q_codes")).as("max_q"),
        size(filter(col("q_codes"), c => c =!= 0)).as("n_nonzero"))
      .orderBy("vec_id")
  }

  /** q107 BPE merge statistic: the 50 most frequent adjacent
    * whitespace-token pairs across the corpus with occurrence and
    * document counts — one merge round of tokenizer training as a
    * relational plan ([[graft.llm.Dedup.adjacentPairCounts]]).
    * Deterministic order: count desc, then pair. The oracle rebuilds
    * the same pairs from DuckDB list functions.
    */
  def q107(s: SparkSession, d: String): DataFrame =
    Dedup.adjacentPairCounts(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text")
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(50)

  /** q108 matryoshka truncation audit: full/16-dim norms, kept-energy
    * fraction, and the renormalized first component per embedding —
    * the precompute for storing MRL-style short vectors
    * ([[graft.llm.Similarity.matryoshka]]). In-order square folds +
    * IEEE sqrt/div are bit-portable, so the compared doubles carry no
    * rounding.
    */
  def q108(s: SparkSession, d: String): DataFrame =
    Similarity.matryoshka(
        Tables.embeddings(s, d).select("vec_id", "embedding"), m = 16)
      .orderBy("vec_id")

  /** q109 vocabulary coverage: OOV occurrence counts per document
    * against the 20 most frequent corpus tokens
    * ([[graft.llm.TextAnalysis.oovStats]]) — the audit that sizes a
    * tokenizer vocab. The fixture vocabulary is 31 tokens, so the
    * 20-token cut yields genuinely varying per-doc OOV rates. The
    * oracle refits the same top-K (count desc, token asc) and
    * replays the join.
    */
  def q109(s: SparkSession, d: String): DataFrame =
    TextAnalysis.oovStats(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        vocabSize = 20)
      .select(col("id").as("doc_id"), col("n_tok"), col("n_in_vocab"),
        col("oov_rate"))
      .orderBy("doc_id")

  /** q110 training-sequence windowing: 32-token chunks at stride 24
    * over every document ([[graft.llm.TextAnalysis.chunkWindows]]) —
    * the document → training-example step, content-certified per
    * chunk by md5. The oracle rebuilds identical windows with DuckDB
    * list slicing.
    */
  def q110(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkWindows(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        window = 32, stride = 24)
      .select(col("id").as("doc_id"), col("chunk_id"), col("n_tokens"),
        col("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  /** q111 CCNet-style perplexity buckets: every document scored by
    * the corpus unigram LM, then head/middle/tail terciles assigned
    * per LANGUAGE ([[graft.llm.TextAnalysis.perplexityBuckets]] —
    * CCNet buckets within each language shard). The oracle refits the
    * q98 model and replays the same partitioned ntile; the score's
    * fixed-point integer core makes the cross-engine ordering exact.
    */
  def q111(s: SparkSession, d: String): DataFrame =
    TextAnalysis.perplexityBuckets(
        Tables.documents(s, d).select("doc_id", "text", "lang"),
        "doc_id", "text", groupCol = "lang", nBuckets = 3)
      .select(col("id").as("doc_id"), col("grp").as("lang"),
        col("n_tokens"), col("mean_logp"), col("ppl_bucket"))
      .orderBy("doc_id")

  /** q120 temperature-mixed sampling
    * ([[graft.llm.Sampling.temperatureMix]]): α = 0.5 source mixing
    * to a 250-doc budget over the documents table — √-weighted rates
    * upweight small sources, every keep decision a deterministic hash
    * draw. The oracle replays weights (fixed-point √), rates, and the
    * per-row draws.
    */
  /** q121 hashed-n-gram classifier score
    * ([[graft.llm.TextAnalysis.hashedNgramScore]]): the fastText-style
    * quality-classifier application — unigram+bigram occurrences
    * hashed into 1024 weight slots, model-as-broadcast-table, one
    * doc-keyed aggregation. The oracle regenerates the identical
    * weight table from the slot-id hash and replays the join.
    */
  def q121(s: SparkSession, d: String): DataFrame =
    TextAnalysis.hashedNgramScore(Tables.documents(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_grams"), col("sum_fp"),
        col("mean_w"), col("keep"))
      .orderBy("doc_id")

  /** q122 corpus k-NN graph ([[graft.llm.Similarity.knnGraph]]):
    * top-3 cosine neighbors per vector, candidates restricted to
    * hyperplane buckets (16 buckets at 4 planes over the 500-vector
    * fixture), rank truncated inside the window — the SemDeDup /
    * semantic-clustering prerequisite structure.
    */
  def q122(s: SparkSession, d: String): DataFrame =
    Similarity.knnGraph(Tables.embeddings(s, d).select("vec_id", "embedding"),
        k = 3, planes = 4)
      .select(col("vec_id"), col("rank").as("rnk"), col("nbr_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_id", "rnk")

  /** q123 SemDeDup semantic prune
    * ([[graft.llm.Similarity.semanticPrune]]): q122's kNN edges
    * thresholded at cosine ≥ 0.3, closed transitively (the same
    * min-label CC as q70), one representative kept per semantic
    * cluster. Edge volume is O(n·k) by the rank truncation; the
    * oracle replays the identical graph through a recursive CTE.
    */
  def q123(s: SparkSession, d: String): DataFrame =
    Similarity.semanticPrune(
        Tables.embeddings(s, d).select("vec_id", "embedding"),
        k = 3, planes = 4, tau = 0.3)
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        col("keep").cast("int").as("keep"))
      .orderBy("vec_id")

  /** q124 count-min-sketch frequency audit
    * ([[graft.llm.Sketches.cmsAudit]]): 4×256 salted-hash counter
    * grid built as one aggregation; estimates (min over the 4 rows)
    * vs exact counts for the 20 most frequent tokens. err ≥ 0 by
    * construction (CMS is one-sided) — the oracle checks the exact
    * overestimate, not just the shape.
    */
  def q124(s: SparkSession, d: String): DataFrame =
    Sketches.cmsAudit(Tables.documents(s, d), "text",
        depth = 4, width = 256, probes = 20)
      .orderBy("tok")

  /** q125 HyperLogLog per-source distinct tokens
    * ([[graft.llm.Sketches.hllDistinct]]): 256 max-ρ registers per
    * source (ρ from md5 via bin()-length, no log2), fixed-point
    * harmonic denominator, floored raw estimate — alongside the
    * exact distinct count so the estimate's honesty is part of the
    * gate.
    */
  def q125(s: SparkSession, d: String): DataFrame =
    Sketches.hllDistinct(Tables.documents(s, d), "source", "text")
      .select(col("grp").as("source"), col("n_exact"), col("n_regs"),
        col("total_fp"), col("est"))
      .orderBy("source")

  /** q126 tie-corrected rank AUC ([[graft.llm.Sketches.rankAuc]]):
    * Mann-Whitney AUC of the token-count "classifier" against the
    * lang='en' label, computed from the per-score histogram — no
    * pairwise join, all-integer (2U and a 2^20 fixed-point quotient).
    */
  def q126(s: SparkSession, d: String): DataFrame =
    Sketches.rankAuc(Tables.documents(s, d),
      TextAnalysis.tokenCountCol(col("text")), col("lang") === "en")

  /** q127 token-budget subsample
    * ([[graft.llm.Sampling.tokenBudgetSample]]): per source, keep
    * the md5-ordered document prefix totalling ≤ 800 whitespace
    * tokens — the tokens-not-documents mixture cut, one window
    * shuffle keyed on the source.
    */
  def q127(s: SparkSession, d: String): DataFrame =
    Sampling.tokenBudgetSample(Tables.documents(s, d), col("doc_id"),
        col("text"), col("source"), budget = 800L)
      .select(col("grp").as("source"), col("id").as("doc_id"),
        col("n_tokens"), col("cum_tokens"))
      .orderBy("source", "cum_tokens", "doc_id")

  /** q128 DSIR importance weights
    * ([[graft.llm.TextAnalysis.dsirWeight]]): log-likelihood ratio of
    * a target hashed-n-gram model (sources src0-src2, the "curated"
    * slice) against the raw-corpus model, fixed-point per-slot logs,
    * keep ⇔ more target-like. The oracle refits both multinomials
    * from scratch.
    */
  def q128(s: SparkSession, d: String): DataFrame =
    TextAnalysis.dsirWeight(Tables.documents(s, d), "doc_id", "text",
        target = col("source").isin("src0", "src1", "src2"), buckets = 512)
      .select(col("id").as("doc_id"), col("n_grams"), col("sum_lr_fp"),
        col("mean_lr"), col("keep"))
      .orderBy("doc_id")

  /** q129 curriculum interleave
    * ([[graft.llm.Sampling.curriculumInterleave]]): md5-ranked
    * round-robin across the 20 sources; the emitted ROW ORDER is the
    * training order and is exactly what the gate checks.
    */
  def q129(s: SparkSession, d: String): DataFrame =
    Sampling.curriculumInterleave(Tables.documents(s, d),
      col("doc_id"), col("source"))

  /** q130 token-entropy quality signal
    * ([[graft.llm.TextAnalysis.tokenEntropy]]): per-doc Shannon
    * entropy of the token frequency vector, term-wise fixed-point
    * Σ c·ln c so the cross-row sum is integer-exact.
    */
  def q130(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenEntropy(Tables.documents(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_distinct"),
        col("entropy"))
      .orderBy("doc_id")

  /** q132 bigram Stupid-Backoff LM
    * ([[graft.llm.TextAnalysis.bigramLogProb]]): model fit on the
    * even-id half of the corpus, the odd-id half scored — the
    * held-out split is what makes the backoff path live (a model
    * scoring its own training corpus never backs off). One rung up
    * from q98's unigram filter; the corpus-sized bigram model meets
    * the scoring rows in a shuffle equi-join, never a broadcast. The
    * oracle refits the identical model and replays the same
    * fixed-point arithmetic.
    */
  def q132(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    TextAnalysis.bigramLogProb(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"), col("n_backoff"),
        col("mean_logs"))
      .orderBy("doc_id")
  }

  /** q133 HTML extraction
    * ([[graft.llm.TextAnalysis.htmlExtract]]): each document wrapped
    * in a deterministic HTML shell — head/title, a `<script>` whose
    * body contains a bare `<` (the case a naive tag-strip corrupts),
    * a `<style>` block, a comment, and an `&amp;` entity — then the
    * extraction chain (block drop → comment drop → tag strip →
    * entity decode → whitespace collapse) recovers the text. Output
    * compares the full cleaned string by md5 plus the yield ratio;
    * the oracle replays the identical Java∩RE2 regex chain.
    */
  def q133(s: SparkSession, d: String): DataFrame = {
    val shellHead = "<html><head><title>doc</title><script>var x = 1 < 2;" +
      "</script><style>p { color: red; }</style></head><body><div class=\"main\"><p>"
    val shellTail = "</p></div><!-- footer --> &amp; fin</body></html>"
    val docs = Tables.documents(s, d).select(col("doc_id"),
      concat(lit(shellHead), col("text"), lit(shellTail)).as("html"))
    TextAnalysis.htmlExtract(docs, "doc_id", "html")
      .select(col("id").as("doc_id"), md5(col("clean")).as("clean_md5"),
        col("n_chars_clean"), col("kept_frac"))
      .orderBy("doc_id")
  }

  def q120(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureMix(
        Tables.documents(s, d).select("doc_id", "source"),
        "source", "doc_id", budget = 250)
      .orderBy("stratum")

  /** q134 grouped exact length quantiles
    * ([[graft.llm.TextAnalysis.groupedQuantiles]]): nearest-rank
    * p50/p90/p99 of `n_chars` per source — the dataset-card corpus
    * report, selected in integer arithmetic so both engines pick the
    * identical corpus value (no interpolation, no float p·n).
    */
  def q134(s: SparkSession, d: String): DataFrame =
    TextAnalysis.groupedQuantiles(
        Tables.documents(s, d).select("source", "n_chars"),
        "source", "n_chars", Seq(("p50", 50), ("p90", 90), ("p99", 99)))
      .orderBy("source")

  /** q135 dedup-aware hash split
    * ([[graft.llm.Dedup.hashSplit]]): 80/10/10 train/val/test
    * assignment keyed on the hash of the NORMALIZED content (not the
    * doc id), so duplicate content provably lands in one split; the
    * query audits exactly that — `n_leaky_groups` counts content
    * groups straddling splits and must be 0 by construction. The
    * oracle replays assignment and audit.
    */
  def q135(s: SparkSession, d: String): DataFrame = {
    val a = Dedup.hashSplit(Tables.documents(s, d), "doc_id", "text",
      trainPct = 80, valPct = 10)
    val leaks = a.groupBy("h")
      .agg(countDistinct("split").as("ns"))
      .agg(coalesce(sum(when(col("ns") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_leaky_groups"))
    a.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("h").as("n_groups"))
      .crossJoin(broadcast(leaks))
      .orderBy("split")
  }

  /** q136 LSH calibration report
    * ([[graft.llm.Dedup.lshCalibration]]): over the q47 pipeline's
    * own banded candidates, signature-estimated vs exact Jaccard
    * bucketed by exact decile — the tuning instrument for every
    * MinHash parameter in the dedup family. Averages ride as integer
    * sums (matches; floor-2²⁰ fixed point) so group means are
    * order-free in both engines; the oracle replays signatures,
    * candidates and the same quantized arithmetic.
    */
  def q136(s: SparkSession, d: String): DataFrame = {
    // corpus ∪ half-prefix variants: the fixture's own duplicates are
    // all near-exact (decile 9 only — a one-row report); the
    // constructed prefixes share roughly half their shingles with the
    // original, so the calibration table spans the mid deciles where
    // an estimator actually earns its keep
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val u = docs.unionByName(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, length(text) DIV 2)").as("text")))
    Dedup.lshCalibration(u, "doc_id", "text")
      .orderBy("decile")
  }

  /** q137 paragraph-dedup mass
    * ([[graft.llm.Dedup.paragraphDupStats]]): sentence-seam units
    * (the fixture has no newline structure), md5-keyed corpus
    * occurrence counts, per-doc duplicated-paragraph fraction — the
    * structure-aware complement of q94's byte windows. Oracle replays
    * split, length floor, hash, and the occurrence join.
    */
  def q137(s: SparkSession, d: String): DataFrame =
    Dedup.paragraphDupStats(Tables.documents(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_paras"), col("n_dup_paras"),
        col("dup_frac"))
      .orderBy("doc_id")

  /** q138 LSH candidate generation, ingest shape
    * ([[graft.streaming.EventStream.streamingLshCandidates]] batch
    * twin — the stream≡batch equality itself is asserted in
    * EventStreamSpec): earliest bucket occupant retained, every later
    * arrival emitted as a candidate against it. The batch runner uses
    * the relational signature pipeline (per-row array-expression
    * signatures are the streaming strategy for small micro-batches;
    * on a full corpus they measured 20+ min vs ~2 s — the array-form
    * re-inlining trap, see the EventStream scaladoc). `ts` is derived
    * from `doc_id` so the arrival order is deterministic and the
    * oracle's bucket-first is a plain MIN.
    */
  def q138(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      timestamp_seconds(col("doc_id")).as("ts"), col("text"))
    graft.streaming.EventStream.streamingLshCandidates(
        docs, "doc_id", "text", "ts")
      .orderBy("doc_id", "band")
  }

  /** q139 concat-chunk sequence accounting
    * ([[graft.llm.Sampling.concatChunkStats]]): the GPT-style
    * concatenate-then-split pretraining construction — docs hash-
    * routed to 8 shards, concatenated in md5 order with an EOD token
    * each, cut into 128-token sequences; per shard: sequences
    * produced, docs straddling a sequence boundary, tail padding.
    * The packing-discipline complement of q95 (document-atomic bins).
    * Oracle replays the cumulative-sum window and the integer
    * boundary test.
    */
  def q139(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Sampling.concatChunkStats(docs, col("doc_id"),
        TextAnalysis.tokenCountCol(col("text")), seqLen = 128L, shards = 8)
      .orderBy("shard")
  }

  /** q140 sketch-pruned heavy hitters
    * ([[graft.llm.Sketches.heavyHitters]]): tokens with corpus
    * frequency > N/30 via per-partition Misra-Gries candidates + an
    * exact candidate-only second pass — the shuffle never sees the
    * full vocabulary, yet the MG superset guarantee makes the result
    * exact and partitioning-independent, so a plain SQL frequency
    * oracle gates the sketch-pruned plan.
    */
  def q140(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokensCol(col("text"))).as("tok"))
    Sketches.heavyHitters(toks, k = 30).orderBy("tok")
  }

  /** q141 corpus snapshot diff
    * ([[graft.llm.Dedup.snapshotDiff]]): old snapshot = ids with
    * `doc_id % 5 != 4`, new snapshot = ids with `doc_id % 5 != 0`
    * where every `doc_id % 7 == 3` doc gained a ` [rev2]` suffix —
    * so all four statuses (added/removed/changed/unchanged) appear.
    * One full-outer join on the id, hashes instead of text on the
    * wire, 4-row report. Oracle replays the join and the md5
    * classification.
    */
  def q141(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val oldSnap = docs.filter(col("doc_id") % 5 =!= 4)
    val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
    Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .orderBy("status")
  }

  /** q142 robust length-outlier report
    * ([[graft.llm.TextAnalysis.madOutliers]]): per-source median/MAD
    * fence over `n_chars`, outlier iff |x − med| > 3·MAD — the
    * heavy-tail-safe version of the z-score length filter, all in
    * integer arithmetic (nearest-rank medians pick actual corpus
    * values). The sf fixtures discriminate naturally (a few sources
    * carry genuine tail docs). Oracle replays both nearest-rank
    * windows and the integer fence.
    */
  def q142(s: SparkSession, d: String): DataFrame =
    TextAnalysis.madOutliers(
        Tables.documents(s, d).select("source", "n_chars"),
        "source", "n_chars", c = 3)
      .orderBy("source")

  /** q143 semantic cross-corpus decontamination
    * ([[graft.llm.Similarity.crossCorpusContamination]]): the
    * embedding twin of q117's n-gram fuzzy decontamination —
    * benchmark = every 10th vector exactly ×2-scaled (same hyperplane
    * bucket, cosine 1 with its source; the fixture's max natural
    * cross-cosine is 0.51), train corpus never shuffles (bucket join
    * against the broadcast benchmark side). Flags each contaminated
    * train row with hit count and max cosine.
    */
  def q143(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val bench = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    Similarity.crossCorpusContamination(emb, bench, threshold = 0.9, planes = 8)
      .orderBy("train_id")
  }

  /** q144 first-occurrence gram novelty
    * ([[graft.llm.Dedup.gramNovelty]]): per-doc count of distinct
    * word-3-grams whose corpus-wide first occurrence (min doc id) is
    * this document, plus the novelty ratio — the "adds anything new?"
    * curation signal. Oracle replays shingling, the gram-min
    * aggregation and the attribution join.
    */
  def q144(s: SparkSession, d: String): DataFrame =
    Dedup.gramNovelty(Tables.documents(s, d), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_grams"), col("n_novel"),
        col("novelty"))
      .orderBy("doc_id")

  /** q145 bucketed at-rest dedup layout: the documents table is
    * written `bucketBy(16, h)` on the content hash (an external table
    * in scratch space, keyed to the dataset dir like q103's IVF
    * layout), re-read through the catalog, and the duplicate-group
    * histogram computed ON TOP of the bucketed scan — whose reported
    * output partitioning already satisfies the aggregation's required
    * distribution, so the corpus-cardinality `groupBy(h)` runs with
    * NO Exchange (asserted on the physical plan in PlanShapeSpec; the
    * only exchange left keys the ≤#distinct-group-sizes histogram).
    * This is the at-rest answer to dedup's shuffle: pay the
    * partitioning once at ingest, and every content-keyed dedup,
    * join, or count afterwards is exchange-free — the difference
    * between re-shuffling 100 TB per run and never shuffling it
    * again.
    */
  def q145(s: SparkSession, d: String): DataFrame = {
    val tbl = ("graft_docs_bucketed_" + d).replaceAll("[^A-Za-z0-9_]", "_")
    val dir = atRestDir(d, "graft_docs_bucketed")
    // keyed on the session too: the bucketed table registers in the
    // SESSION catalog, so a second session in one JVM must re-ingest
    ingestOnce(dir + "#" + sessionToken(s) + "#"
        + inputFingerprint(d + "/documents.parquet")) {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      // corpus ∪ every-3rd-doc copies: the fixture alone has no exact
      // dups, so the histogram would be one row — the constructed copies
      // make the n_copies=2 bucket real and the gate discriminating
      val docs = Tables.documents(s, d).select("doc_id", "text")
      docs.unionByName(docs.filter(col("doc_id") % 3 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
        .select(col("doc_id"), md5(col("text")).as("h"))
        .write.mode("overwrite").option("path", dir)
        .bucketBy(16, "h").saveAsTable(tbl)
    }
    s.table(tbl)
      .groupBy("h").agg(count(lit(1)).as("n_copies"))
      .groupBy("n_copies").agg(count(lit(1)).as("n_groups"))
      .orderBy("n_copies")
  }

  /** q146 cluster-closed split
    * ([[graft.llm.Dedup.clusterClosedSplit]]): q135's leakage-free
    * split upgraded from exact-content keys to NEAR-DUP cluster keys
    * (q47's verified pair graph closed by q70's components) — split
    * assignment hashes the cluster label, so paraphrase-level
    * duplicates provably co-split; `n_leaky_clusters` audits exactly
    * that and must be 0 by construction. The oracle replays pairs,
    * recursive closure, and the split hash.
    */
  def q146(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 16, bands = 4, threshold = 0.5)
    val a = Dedup.clusterClosedSplit(docs, "doc_id",
      pairs.select("id_a", "id_b"), trainPct = 80, valPct = 10)
    val leaks = a.groupBy("cid")
      .agg(countDistinct("split").as("ns"))
      .agg(coalesce(sum(when(col("ns") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_leaky_clusters"))
    a.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("cid").as("n_clusters"))
      .crossJoin(broadcast(leaks))
      .orderBy("split")
  }

  /** q147 target-mixture reweighting
    * ([[graft.llm.Sampling.targetMixture]]): an explicit data recipe
    * — four named sources pinned to 8%/6%/4%/2% (basis points), the
    * rest keeping natural share — emitted as fixed-point sampling
    * weights and implied token budgets. One domain aggregation, no
    * corpus shuffle. Oracle replays the integer weight formula.
    */
  def q147(s: SparkSession, d: String): DataFrame =
    Sampling.targetMixture(
        Tables.documents(s, d), col("source"),
        TextAnalysis.tokenCountCol(col("text")),
        Seq("src1" -> 800L, "src4" -> 600L, "src7" -> 400L, "src12" -> 200L))
      .orderBy("domain")

  /** q148 ANN recall audit ([[graft.llm.Similarity.annRecall]]):
    * recall@5 of the 4-plane LSH index vs exact brute force for the
    * q84/q86 query set, one plan. The oracle replays both rankings
    * and the hit join.
    */
  def q148(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.annRecall(emb, qs, k = 5, planes = 4)
      .orderBy("qid")
  }

  /** q149 vocabulary coverage curve
    * ([[graft.llm.TextAnalysis.vocabCoverage]]): cap-or-bucket form —
    * top-K token types as individual frequency-ranked rows, the tail
    * as one row per distinct frequency with rank span and exact
    * cumulative fixed-point corpus share. topK = 10 on the fixture so
    * the oracle exercises BOTH the head and the bucketed-tail path.
    */
  def q149(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabCoverage(Tables.documents(s, d), topK = 10)
      .orderBy("rank_lo")

  /** q150 embedding dimension audit
    * ([[graft.llm.Similarity.dimensionAudit]]): per-coordinate
    * dead-component counts, quantized range and moment sums — the
    * pre-index health check, every compare column an exact integer.
    * Oracle replays the quantization and sums.
    */
  def q150(s: SparkSession, d: String): DataFrame =
    Similarity.dimensionAudit(Tables.embeddings(s, d))
      .orderBy("dim")

  /** q151 cross-source duplication matrix
    * ([[graft.llm.Dedup.crossSourceDupMatrix]]): source pairs sharing
    * 64-char-prefix fingerprints (the fixture's natural duplicate
    * family) — the provenance/mirror-detection diagnostic. Oracle
    * replays fingerprint, distinct, and the ordered pair join.
    */
  def q151(s: SparkSession, d: String): DataFrame =
    Dedup.crossSourceDupMatrix(Tables.documents(s, d), "text", "source")
      .orderBy("src_a", "src_b")

  /** q152 power-of-two batch shapes
    * ([[graft.llm.Sampling.powerOfTwoBatchShapes]]): docs bucketed by
    * the padded shape a batch trainer would allocate, with the
    * padding each shape costs — integer bucket index via binary
    * string length, no float log2. Oracle replays the bit-length
    * arithmetic.
    */
  def q152(s: SparkSession, d: String): DataFrame =
    Sampling.powerOfTwoBatchShapes(Tables.documents(s, d),
        TextAnalysis.tokenCountCol(col("text")))
      .orderBy("bucket")

  /** q153 materialized recipe
    * ([[graft.llm.Sampling.materializeWeights]] over the q147
    * weights): the target mixture actually EMITTED — every doc
    * replicated floor(w) times plus a deterministic fractional copy,
    * then per-source emitted docs/tokens. Closes the recipe loop:
    * q147 states the weights, q153 proves the corpus they produce.
    * Oracle replays weights, copy counts, and the aggregation.
    */
  def q153(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      TextAnalysis.tokenCountCol(col("text")).cast("long").as("n_tokens"))
    val w = Sampling.targetMixture(docs, col("source"), col("n_tokens"),
        Seq("src1" -> 800L, "src4" -> 600L, "src7" -> 400L, "src12" -> 200L))
      .select(col("domain").as("source"), col("w_fp"))
    Sampling.materializeWeights(docs.join(broadcast(w), "source"),
        col("doc_id"), col("w_fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_emitted"), sum("n_tokens").as("emitted_tokens"))
      .orderBy("source")
  }

  /** q154 winnowed fingerprint matches
    * ([[graft.llm.Dedup.winnowedPairs]]): the MOSS local-overlap
    * report — shared window-min char-8-gram fingerprints per doc
    * pair, hub-capped. Catches partial copies (a shared paragraph in
    * otherwise-different docs) that doc-level similarity misses.
    * Oracle replays positions, hashes, the window minimum and the
    * capped pair join.
    */
  def q154(s: SparkSession, d: String): DataFrame =
    Dedup.winnowedPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")

  /** q155 contrastive triplet mining
    * ([[graft.llm.Similarity.tripletMine]]): per anchor, the hardest
    * same-label positive (min cosine) and hardest other-label
    * negative (max cosine), candidates restricted to hyperplane
    * buckets, extrema folded in one anchor-keyed aggregation.
    * Oracle replays buckets, the cosine fold, and both extrema with
    * the same (cosine, id) tie-break.
    */
  def q155(s: SparkSession, d: String): DataFrame =
    Similarity.tripletMine(Tables.embeddings(s, d), planes = 4)
      .orderBy("vec_id")

  /** q172 curation survival funnel
    * ([[graft.llm.TextAnalysis.curationFunnel]]): per-source docs
    * surviving quality verdict → PII-free → encoding-healthy as
    * cumulative gates, over a corpus seeded with the q90 PII
    * formulas and the q166 corruption formulas (fixture is clean on
    * both axes). Oracle replays the seeds and all three gates.
    */
  /** q174 exact duplicated-substring pairs
    * ([[graft.llm.Dedup.exactSubstringPairs]] — the suffix-array
    * family of Lee et al. 2022 as content-anchored winnowing seeds +
    * verbatim verify): deterministic injection plants a 90-char
    * paragraph on every doc_id % 9 == 0 doc, keyed by
    * doc_id − doc_id % 18 so exactly the (18k, 18k+9) doc pairs
    * share one — each planted 50-gram contains a full key copy, so
    * no planted seed becomes corpus boilerplate. The oracle replays
    * the injection, the 8-char-anchor winnowing argmin selection,
    * the 50-gram seed hashing at selected anchors, the hub cap and
    * the exact-gram verify.
    */
  /** The shared 3-query probe batch for the retrieval family
    * (q175/q176): query terms as DATA rows, the request shape a
    * production retrieval service issues by the thousand.
    */
  private def retrievalQueryBatch(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (0L, "spark"), (0L, "merge"), (0L, "vector"),
      (1L, "data"), (1L, "pipeline"),
      (2L, "window"), (2L, "shuffle"), (2L, "partition"), (2L, "join"))
      .toDF("qid", "term")
  }

  /** q175 batched BM25 ([[graft.llm.Retrieval.bm25TopKBatch]]):
    * queries-as-data sparse retrieval — one corpus tf pass and one
    * qid-keyed ranking window regardless of batch size; qid 0 is q96's
    * query, so its five rows are q96's first five. Oracle replays the
    * identical fixed-point BM25 arithmetic per (qid, doc).
    */
  def q175(s: SparkSession, d: String): DataFrame =
    Retrieval.bm25TopKBatch(Tables.documents(s, d), "doc_id", "text",
        retrievalQueryBatch(s), k = 5)
      .select(col("qid"), col("id").as("doc_id"), col("score"),
        col("n_terms_hit"), col("rank"))
      .orderBy("qid", "rank")

  /** q176 hybrid retrieval fusion ([[graft.llm.Retrieval.rrfFuse]]):
    * reciprocal-rank fusion of the sparse BM25 batch (q175's lists at
    * k=10) with dense cosine top-k over the aligned embeddings
    * (vec_id ≡ doc_id) — the standard two-tower + lexical merge,
    * integer-exact because RRF consumes only ranks. The fused window
    * touches ≤ 2k rows per query; the corpus is never re-read.
    */
  def q176(s: SparkSession, d: String): DataFrame = {
    val sparse = Retrieval.bm25TopKBatch(Tables.documents(s, d), "doc_id",
      "text", retrievalQueryBatch(s), k = 10)
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val dense = Similarity.bruteTopKBatch(emb,
        emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        k = 10)
      .select(col("qid"), col("vec_id").as("id"), col("rank"))
    Retrieval.rrfFuse(sparse, dense, k = 5)
      .select(col("qid"), col("id").as("doc_id"), col("rrf_fp"),
        col("n_lists"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q177 directional containment pairs
    * ([[graft.llm.Dedup.containmentPairs]]): excerpt/boilerplate
    * detection — the asymmetric near-dup Jaccard misses. The fixture
    * has no natural excerpts, so every 10th doc contributes a
    * 120-char prefix excerpt under the mirrored id −doc_id−1: the excerpt's gram
    * set sits (almost) inside its source's, containment ≈ 1 on the
    * small side while Jaccard stays low. Oracle replays the rare-gram
    * candidate generation and the exact intersect verify.
    */
  def q177(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // excerpt ids mirror to the NEGATIVE range: collision-proof
    // against any fixture size (doc_ids are nonnegative), where a
    // fixed additive offset would collide past that many docs and
    // silently violate gramCountRows' one-row-per-id contract
    val excerpts = docs.filter(col("doc_id") % 10 === 0)
      .select((-col("doc_id") - 1L).as("doc_id"),
        substring(col("text"), 1, 120).as("text"))
    Dedup.containmentPairs(docs.unionByName(excerpts), "doc_id", "text",
        n = 3, maxDf = 8, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** q178 BPE merge-table trainer ([[graft.llm.Dedup.bpeTrain]]):
    * three full merge rounds — pair statistics, argmax adoption,
    * greedy corpus rewrite, repeat — returning the merge table a
    * tokenizer ships. The oracle unrolls the three rounds as
    * `list_reduce` folds with the identical greedy leftmost
    * semantics, so the entire iterative training loop is replayed
    * bit-for-bit by an independent engine.
    */
  def q178(s: SparkSession, d: String): DataFrame =
    Dedup.bpeTrain(Tables.documents(s, d), "doc_id", "text", rounds = 3)
      .orderBy("round")

  /** q197 SAMPLED BPE trainer ([[graft.llm.Dedup.bpeTrainSampled]]):
    * q178's three merge rounds over the deterministic md5-top-200
    * document sample — the production tokenizer-training contract
    * (per-round corpus materializations bounded by the sample, not
    * the corpus; see the bpeTrainSampled scaladoc for the
    * sample-vs-full trade). The oracle replays the exact
    * (md5(doc_id), doc_id) prefix selection, then the same unrolled
    * merge-round folds as q178's.
    */
  def q197(s: SparkSession, d: String): DataFrame =
    Dedup.bpeTrainSampled(Tables.documents(s, d), "doc_id", "text",
        rounds = 3, sampleN = 200)
      .orderBy("round")

  /** q198 LSH hot-bucket star cap UNDER LOAD: the one code path of
    * [[graft.llm.Dedup.minhashLsh]] that matters most at 100 TB — a
    * degenerate boilerplate corpus collapsing into one over-cap
    * bucket per band — exercised under the oracle instead of only by
    * spec. 200 documents are rewritten to one shared boilerplate
    * string (the classic mirrored-page shape), so every band gets a
    * 200-member bucket (> maxBucket 64) and pairing MUST take the
    * star path; the untouched rest of the corpus keeps its organic
    * clique pairs. The report joins the per-band
    * [[graft.llm.Dedup.lshBucketCensus]] (n_hot > 0 ⇔ the cap is
    * provably active) with the closure outcome over the verified
    * pairs ([[graft.llm.Dedup.connectedComponents]]): the
    * min-labeled cluster must hold all 200 injected docs — star
    * edges close the hot bucket into ONE component in one round,
    * the recall contract the star trade promises. The oracle
    * replays seeding, banding, the hot/cool split, star + clique
    * pairing, Jaccard verify, and the recursive closure.
    */
  def q198(s: SparkSession, d: String): DataFrame = {
    val boiler = "subscribe to our newsletter for updates terms of " +
      "service privacy policy all rights reserved contact our support team today"
    val docs = Tables.documents(s, d).withColumn("text",
      when(col("doc_id") < 200, lit(boiler)).otherwise(col("text")))
    val (pairs, census) = Dedup.minhashLshWithCensus(docs, "doc_id", "text")
    val cc = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    val summary = pairs.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(sizes.agg(count(lit(1)).as("n_clusters"),
        max("sz").as("max_cluster")))
      .crossJoin(sizes
        .join(sizes.agg(min("cluster_id").as("cluster_id")), "cluster_id")
        .select(col("sz").as("min_label_cluster_size")))
    census.crossJoin(broadcast(summary)).orderBy("band")
  }

  /** q179 language-ID confusion matrix: predicted language
    * ([[graft.llm.TextAnalysis.langIdCol]]) against the corpus's
    * DECLARED `lang` column, with document and character mass per
    * cell — the audit that tells a curation pipeline where its lang-ID
    * heuristic disagrees with upstream metadata (and which side to
    * trust by inspecting the heavy cells). Map-only classify, one
    * grouped aggregation.
    */
  def q179(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang").as("lang_decl"),
        TextAnalysis.langIdCol(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy("lang_decl", "lang_pred")

  /** q180 ANN nDCG audit ([[graft.llm.Similarity.annNdcg]]): graded
    * ranking quality of the 4-plane LSH index vs exact brute force —
    * the position-weighted complement of q148's recall (missing the
    * top neighbor costs more than missing the k-th). Same 4-plane
    * setting that q148 shows "biting" (recall 0–0.4 on the near-
    * uniform fixture), so the nDCG cells are genuinely discriminating.
    */
  def q180(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.annNdcg(emb, qs, k = 5, planes = 4)
      .orderBy("qid")
  }

  /** q181 chunk spans ([[graft.llm.Sampling.chunkSpans]]): overlapped
    * fixed-length token windows per document — the RAG/packing ingest
    * cut, 64-token chunks with 16-token overlap. Pure integer span
    * arithmetic, map-only; oracle replays the same ceil-division.
    */
  def q181(s: SparkSession, d: String): DataFrame =
    Sampling.chunkSpans(Tables.documents(s, d), col("doc_id"), col("text"),
        seqLen = 64, overlap = 16)
      .orderBy("id", "chunk_idx")

  /** q182 bottom-k quantile sketch
    * ([[graft.llm.Sketches.bottomKQuantiles]]): grouped length
    * quantiles from a deterministic md5 bottom-k sample — the
    * mergeable, oracle-replayable alternative to q134's exact
    * per-group sort (and to percentile_approx's unverifiable GK
    * internals). Exact n_rows rides the same pass.
    */
  def q182(s: SparkSession, d: String): DataFrame =
    Sketches.bottomKQuantiles(Tables.documents(s, d), "source", "doc_id",
        "n_chars", k = 40,
        Seq("p25" -> 25, "p50" -> 50, "p75" -> 75, "p95" -> 95))
      .orderBy("source")

  /** q183 boilerplate strip ([[graft.llm.Dedup.boilerplateStrip]]):
    * the paragraph-dedup REWRITE — corpus-frequent segments drop from
    * every document, text rebuilt in order. The fixture has no
    * natural boilerplate, so every 5th doc gets a shared trailing
    * sentence (corpus df 100 >> maxDf 3) that must strip, while each
    * doc's unique body survives. Oracle replays the split, the
    * frequency cut, and the ordered string_agg rebuild. NULL text
    * coalesces to '' on BOTH sides before seeding (Spark `concat` and
    * SQL `||` both null-out otherwise), so the strip's row-preserving
    * NULL contract is oracle-gated, not just unit-tested.
    */
  def q183(s: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(s, d).select("doc_id", "text")
      .withColumn("text", concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 5 === 0,
          lit(". subscribe to the newsletter for daily updates"))
          .otherwise(lit(""))))
    Dedup.boilerplateStrip(seeded, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_kept"), col("n_dropped"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  /** Shared lexicon of q184/q185 — chosen to exercise the automaton's
    * hard cases on the fixture vocabulary: nested terms ("gg" inside
    * "agg"), shared-prefix phrases ("fast" / "fast scan"), multi-word
    * phrases spanning token boundaries, and a self-overlapping
    * pattern ("a a" in "a a a" counts twice).
    */
  private val Lexicon = Seq("table", "fast", "fast scan", "scan slow",
    "value table part", "a a", "agg", "gg", "customer", "slow filter")
  private def lexiconValues: String = Lexicon.zipWithIndex
    .map { case (t, i) => s"($i, '$t')" }.mkString(", ")

  /** q184 lexicon tagging ([[graft.llm.TextAnalysis.lexiconTag]]):
    * per-doc occurrence counts of a constant term list in one
    * Aho–Corasick pass — the bad-words/watchlist filter shape. The
    * oracle replays every (position, term) substring compare, so the
    * automaton's goto/fail/output construction is hash-gated against
    * a brute-force definition of "occurrence" (overlaps included).
    */
  def q184(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lexiconTag(Tables.documents(s, d), "doc_id", "text", Lexicon)
      .select(col("id").as("doc_id"), col("n_hits"), col("n_terms"),
        col("top_term"), col("top_count"))
      .orderBy("doc_id")

  /** q185 lexicon term statistics
    * ([[graft.llm.TextAnalysis.lexiconTermStats]]): corpus totals and
    * document frequency per lexicon entry, zero-hit terms included —
    * the "which blocklist entries ever fire" report.
    */
  def q185(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lexiconTermStats(Tables.documents(s, d), "text", Lexicon)
      .orderBy("t")

  /** q186 Zipf power-law fit ([[graft.llm.TextAnalysis.zipfFit]]):
    * log-log OLS slope + r² over the top-500 vocabulary head, every
    * moment an exact ⌊ln·2¹⁰⌋ fixed-point integer sum the oracle
    * replays term by term (same ln-parity contract as q98).
    */
  def q186(s: SparkSession, d: String): DataFrame =
    TextAnalysis.zipfFit(Tables.documents(s, d), "text", topK = 500)

  /** q187 classifier agreement
    * ([[graft.llm.TextAnalysis.classifierAgreement]]): Cohen's kappa
    * between two deterministic quality labelers (length gate vs
    * lexical-diversity gate) — confusion counts exact, kappa one
    * double division of exact integers.
    */
  def q187(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokensCol(col("text"))
    val f = Tables.documents(s, d)
      .select(size(toks).as("n_tok"), size(array_distinct(toks)).as("n_dis"))
    TextAnalysis.classifierAgreement(f,
      (col("n_tok") >= 40).cast("int"),
      (col("n_dis") * 2 >= col("n_tok")).cast("int"))
  }

  /** q188 product-quantization encoding
    * ([[graft.llm.Similarity.pqEncode]]): 64-dim vectors → 4 codebook
    * bytes + exact fixed-point reconstruction error after one full
    * distributed train round per subspace. The oracle replays
    * init → assign → fixed-point update → re-assign → encode for all
    * subspaces in one generic SQL (the q158 recipe with `sub` folded
    * into every key).
    */
  def q188(s: SparkSession, d: String): DataFrame =
    Similarity.pqEncode(Tables.embeddings(s, d), m = 4, k = 8, rounds = 1)
      // codes as a CSV string: the compare layer stringifies cells,
      // and engine-native array renderings differ
      .select(col("vec_id"),
        concat_ws(",", transform(col("codes"), c => c.cast("string")))
          .as("codes"),
        col("err_fp"), col("err"))
      .orderBy("vec_id")

  /** q189 PQ codebook census ([[graft.llm.Similarity.pqAudit]]):
    * per-(subspace, cluster) member count and inertia — the
    * dead-code / hot-code balance audit.
    */
  def q189(s: SparkSession, d: String): DataFrame =
    Similarity.pqAudit(Tables.embeddings(s, d), m = 4, k = 8, rounds = 1)
      .orderBy("sub", "cluster")

  /** q192 IVF-PQ search ([[graft.llm.Similarity.ivfPqTopK]]): the
    * canonical billion-scale ANN composition — coarse k-means lists
    * (the q158 recipe), nprobe-2 routing, ADC scoring inside the
    * probed lists only, candidate counts riding the output. The
    * oracle composes the coarse replay, the PQ replay, and the LUT
    * replay into one statement.
    */
  def q192(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfPqTopK(emb, qs, topK = 5, nprobe = 2).orderBy("qid", "rank")
  }

  /** q196 IVF-PQ at-rest search ([[graft.llm.Similarity.ivfPqTopKAtRest]]
    * over [[graft.llm.Similarity.ivfPqIngest]] artifacts): q192's
    * production read-side twin. Training (both Lloyd fits) happens
    * ONCE per JVM at ingest ([[ingestOnce]], like q103's IVF layout);
    * the timed plan reads the persisted models + the cell-partitioned
    * codes table with DPP pruning to the probed cells and contains NO
    * Lloyd stage. Bit-equal to q192 (deterministic training, exact
    * double round-trip through parquet) — one shared oracle gates
    * both.
    */
  def q196(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val atRest = atRestDir(d, "graft_ivfpq_at_rest")
    ingestOnce(atRest + "#ivfpq#" + inputFingerprint(d + "/embeddings.parquet")) {
      Similarity.ivfPqIngest(emb, atRest)
    }
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfPqTopKAtRest(s, atRest, qs, topK = 5, nprobe = 2)
      .orderBy("qid", "rank")
  }

  /** q199 two-stage Matryoshka retrieval
    * ([[graft.llm.Similarity.matryoshkaTopK]]): prefix-16 coarse rank
    * keeps 20 candidates per query, exact full-dim cosine reranks to
    * top-5 — the MRL read path whose prefix width q108's energy audit
    * picks. The oracle replays both stages (prefix fold, rank window,
    * full fold, rerank window) with the mirrored zero-norm guard.
    */
  def q199(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.matryoshkaTopK(emb, qs, k = 5, coarseK = 20, prefixDim = 16)
      .select(col("qid"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
        col("coarse_rank"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q200 SQ8 scalar-quantized search
    * ([[graft.llm.Similarity.sq8TopK]]): the flat int8-code index's
    * query path — the corpus scored as its q93 codes (scale cancels
    * out of the cosine), 4× less memory traffic than q84's
    * flat-float brute scan, completing the compression curve
    * flat → SQ8 → PQ/IVF-PQ. The oracle replays quantization,
    * integer code² sums, the in-order numerator fold, and the rank
    * window.
    */
  def q200(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.sq8TopK(emb, qs, topK = 5)
      .select(col("qid"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  /** q201 IVF-PQ incremental append
    * ([[graft.llm.Similarity.ivfPqAppend]]): the index-maintenance
    * cycle a production vector store runs — train + ingest ONCE on
    * the base corpus (80%: vec_id % 5 ≠ 4), then append the
    * remaining 20% under the FROZEN codebooks (no retrain, dynamic
    * partition append into the cell-partitioned codes table), and
    * serve base ∪ appended through the unchanged at-rest read path.
    * The oracle trains its replay on the base subset only and
    * assigns the full corpus under those centroids — exactly the
    * frozen-codebook contract.
    */
  def q201(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val atRest = atRestDir(d, "graft_ivfpq_append")
    ingestOnce(atRest + "#append#" + inputFingerprint(d + "/embeddings.parquet")) {
      Similarity.ivfPqIngest(emb.filter(pmod(col("vec_id"), lit(5)) =!= 4), atRest)
      Similarity.ivfPqAppend(emb.filter(pmod(col("vec_id"), lit(5)) === 4), atRest)
    }
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfPqTopKAtRest(s, atRest, qs, topK = 5, nprobe = 2)
      .orderBy("qid", "rank")
  }

  /** q211 IVF-PQ cell-drift census + rebalance
    * ([[graft.llm.Similarity.ivfPqCellCensus]] /
    * [[graft.llm.Similarity.ivfPqRebalance]]) — judge r14 item 5:
    * the appended 25% of the corpus is REWRITTEN into a drifted
    * cluster (near-constant vectors, 8 leading dims varying by
    * vec_id%7) that the frozen coarse codebook piles into one cell;
    * the census shows the pile, the rebalance splits every over-cap
    * cell in PQ-decode space (frozen codebooks, only the touched
    * partitions rewritten), and the query reports the before/after
    * occupancy audit. Cap = corpus/5: the drifted cell (~31%) is the
    * only cell over it at both SFs. The oracle replays the coarse
    * and PQ trainings, the frozen-codebook assignments, both
    * VP-median split levels (vantage = farthest from the min-id
    * member, threshold = exact mass-median over the code-word
    * distance histogram), and both censuses.
    */
  def q211(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      .withColumn("embedding",
        when(pmod(col("vec_id"), lit(4)) === 3,
          transform(col("embedding"), (_, i) =>
            when(i < 8, lit(2.5) +
              pmod(col("vec_id"), lit(7)).cast("double") * 0.5)
              .otherwise(lit(2.5)).cast("float")))
          .otherwise(col("embedding")))
    val maxCell = Tables.embeddings(s, d).count() / 5
    val atRest = atRestDir(d, "graft_ivfpq_rebalance")
    ingestOnce(atRest + "#rebal#" + inputFingerprint(d + "/embeddings.parquet")) {
      Similarity.ivfPqIngest(emb.filter(pmod(col("vec_id"), lit(4)) =!= 3), atRest)
      Similarity.ivfPqAppend(emb.filter(pmod(col("vec_id"), lit(4)) === 3), atRest)
      Similarity.ivfPqCellCensus(s, atRest)
        .write.mode("overwrite").parquet(atRest + "/census_pre")
      // the documented repeated-call contract: one call splits each
      // over-cap cell once; the drifted pile (~31%) needs two levels
      // to land every cell under the corpus/5 cap
      Similarity.ivfPqRebalance(s, atRest, maxCell)
      Similarity.ivfPqRebalance(s, atRest, maxCell)
    }
    val pre = s.read.parquet(atRest + "/census_pre")
      .agg(count(lit(1)).as("n_cells_pre"),
        max(col("n_vecs")).as("max_occ_pre"),
        sum(when(col("n_vecs") > maxCell, 1L).otherwise(0L)).as("n_over_pre"))
    val post = Similarity.ivfPqCellCensus(s, atRest)
      .agg(sum(col("n_vecs")).as("n_vecs"),
        count(lit(1)).as("n_cells_post"),
        max(col("n_vecs")).as("max_occ_post"),
        sum(when(col("n_vecs") > maxCell, 1L).otherwise(0L)).as("n_over_post"))
    post.crossJoin(pre) // two 1-row locals — a literal stitch, not a data join
      .select("n_vecs", "n_cells_pre", "max_occ_pre", "n_over_pre",
        "n_cells_post", "max_occ_post", "n_over_post")
  }

  /** q212 dedup-before-ingest flags
    * ([[graft.streaming.EventStream.dedupBeforeIngestBatch]], the
    * batch twin of the streaming
    * [[graft.streaming.EventStream.dedupBeforeIngestStream]] sink —
    * judge r14 item 6): the corpus is replayed as five sequential
    * ingest batches (doc_id % 5) and every document is flagged iff a
    * verified near-dup partner was ingested in a strictly earlier
    * batch — the exact flag the streaming probe-then-append cycle
    * emits per micro-batch (stream ≡ batch asserted in
    * EventStreamSpec). The oracle replays the q47 pair pipeline and
    * the batch-order reduction.
    */
  def q212(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStream.dedupBeforeIngestBatch(
        Tables.documents(s, d)
          .withColumn("batch", pmod(col("doc_id"), lit(5))),
        "doc_id", "text", "batch")
      .orderBy("doc_id")

  /** q213/q214/q215: the ADVERSARIAL SKEW BENCH TIER (judge r14 item
    * 7) — the sf0.1 fixtures are benign, so the r14 de-skew rewrites
    * (groupBy + join-back replacing partition-only windows) never
    * face their hazard in BENCH. These three seed one degenerate
    * fixture per de-skewed family, anchored like every other query:
    *
    *  - q213: a corpus-wide 180-char license header on 300 docs —
    *    every one of its 32-char windows lands in ~300 docs
    *    (substringDupStats' viral-hash case);
    *  - q214: a third of the embedding corpus rewritten to constant
    *    vectors (pairwise cosine exactly 1) — one giant semantic
    *    cluster (semanticPrune's cluster-size case);
    *  - q215: half the corpus rewritten to one exact text — a viral
    *    content key (softDedupWeights' c_n case).
    *
    * Oracles are the unseeded queries' replays over the seeded CTEs.
    */
  def q213(s: SparkSession, d: String): DataFrame =
    Dedup.substringDupStats(
        Tables.documents(s, d).withColumn("text",
          when(col("doc_id") < 300,
            concat(lit(ViralHeader), lit(" "), col("text")))
            .otherwise(col("text"))),
        "doc_id", "text", k = 32, stride = 8)
      .select(col("id").as("doc_id"), col("n_windows"), col("n_shared"),
        col("shared_frac"))
      .orderBy("doc_id")

  def q214(s: SparkSession, d: String): DataFrame =
    Similarity.semanticPrune(
        Tables.embeddings(s, d).select("vec_id", "embedding")
          .withColumn("embedding",
            when(pmod(col("vec_id"), lit(3)) === 0,
              transform(col("embedding"), _ =>
                (lit(0.5) + pmod(col("vec_id"), lit(5)).cast("double") * 0.01)
                  .cast("float")))
              .otherwise(col("embedding"))),
        // the knnGraph hub cap: this fixture's whole point is the
        // degenerate pile no plane count can split — capped, the
        // candidate join is |pile|·64 instead of |pile|²
        k = 3, planes = 4, tau = 0.3, maxBucket = 64)
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        col("keep").cast("int").as("keep"))
      .orderBy("vec_id")

  def q215(s: SparkSession, d: String): DataFrame =
    Dedup.softDedupWeights(
        Tables.documents(s, d).withColumn("text",
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("this exact banner text repeats across half of the corpus verbatim"))
            .otherwise(col("text"))),
        "doc_id", "text", "source")
      .orderBy("source")

  /** q219 weighted sampling without replacement
    * ([[graft.llm.Sampling.weightedTake]]): Efraimidis–Spirakis over
    * the documents table — top-50 by floor-2²⁰ ln(u)/w with w =
    * n_chars, u the content-stable md5 draw — longer docs more likely
    * but never certain. The oracle replays draw, key, and take
    * bit-for-bit.
    */
  def q219(s: SparkSession, d: String): DataFrame =
    Sampling.weightedTake(Tables.documents(s, d),
        col("doc_id"), col("n_chars"), k = 50)
      .select("doc_id", "n_chars", "es_fp")

  /** q220 k-anonymity census
    * ([[graft.llm.TextAnalysis.kAnonymityCensus]]): equivalence
    * classes over (lang, source, length band) with k = 10 — the
    * re-identification audit over the corpus's quasi-identifiers,
    * continuous length generalized to 500-char bands before the
    * census (the operator contract).
    */
  def q220(s: SparkSession, d: String): DataFrame =
    TextAnalysis.kAnonymityCensus(Tables.documents(s, d),
        Seq("lang" -> col("lang"), "source" -> col("source"),
          "band" -> expr("n_chars div 500L")),
        k = 10)
      .orderBy("lang", "source", "band")

  /** q221 Stupid Backoff trigram LM
    * ([[graft.llm.TextAnalysis.stupidBackoffScore]]): Brants et al.'s
    * web-scale count-only LM, one rung up from q132's bigram — model
    * fit on the even-id half, odd-id half scored, α = 0.4, both
    * backoff levels live by construction of the held-out split. The
    * oracle refits all three count tables and replays the level
    * cascade and fixed-point arithmetic.
    */
  def q221(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    TextAnalysis.stupidBackoffScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_trigrams"),
        col("n_big_backoff"), col("n_uni_backoff"), col("mean_logs"))
      .orderBy("doc_id")
  }

  /** q222 content-defined chunking dedup census
    * ([[graft.llm.Dedup.cdcChunkStats]]): LBFS-style CDC over the
    * corpus — k=16-char window hash ≡ 0 (mod 64) cuts, ~64-char
    * expected chunks, 60-bit md5 chunk identities, first-occurrence
    * election by (doc, start). The oracle replays boundary positions,
    * chunk spans (LEAD over the cut rows), chunk hashes, and the
    * election.
    */
  def q222(s: SparkSession, d: String): DataFrame =
    Dedup.cdcChunkStats(Tables.documents(s, d), "doc_id", "text",
        k = 16, d = 64)
      .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("dup_chars"), col("total_chars"))
      .orderBy("doc_id")

  /** q223 at-rest BPE tokenizer
    * ([[graft.llm.Dedup.bpeSaveAtRest]] /
    * [[graft.llm.Dedup.bpeEncodeAtRest]]): the tokenizer's
    * model-maintenance face, completing the at-rest quartet (LSH
    * q208, IVF-PQ q196, BM25 q217) — a 3-merge model is trained on
    * the even-id half, persisted as parquet, and the FULL corpus
    * encodes through the stored table (train once, freeze, encode
    * every shard forever — retokenizing is retraining). The oracle
    * refits the same 3 rounds on the even half and unrolls the
    * encode chain over the full corpus.
    */
  def q223(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val atRest = atRestDir(d, "graft_bpe_at_rest")
    ingestOnce(atRest + "#bpe#" + inputFingerprint(d + "/documents.parquet")) {
      val mt = Dedup.bpeTrain(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", rounds = 3)
      // the oracle unrolls exactly 3 rounds — fail loud on early
      // exhaustion (the q203 contract)
      require(mt.count() == 3,
        "q223 expects 3 trainable merges on the even-id half")
      Dedup.bpeSaveAtRest(mt, atRest)
    }
    Dedup.bpeEncodeAtRest(docs, "doc_id", "text", atRest).orderBy("doc_id")
  }

  /** The 30-word base of q224's graded near-dup seeding. */
  private val ScurveBase: String =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango " +
    "uniform victor whiskey xray yankee zulu zero one two three"

  /** q224 empirical banding S-curve
    * ([[graft.llm.Dedup.minhashRecallAudit]]): the production 4×4
    * banding's candidate recall per jaccard decile against an 8×2
    * loose reference over the SAME signatures (strict ⊆ loose by
    * sub-band containment) — the dedup analog of q193's PQ recall
    * audit. The natural corpus has near-dup pairs only at jaccard 1
    * (exact copies), which exercises one decile — so the first 120
    * docs are SEEDED with graded prefixes of a 30-word base (length
    * 10 + id mod 20): same-length docs are identical, cross-length
    * pairs share a prefix shingle run, spreading verified pairs
    * across the decile range where the S-curve actually bends. The
    * oracle replays the seeding, one signature pass, both hub-capped
    * pair chains, the verify, and the decile fold.
    */
  def q224(s: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(s, d).withColumn("text",
      when(col("doc_id") < 120,
        array_join(slice(split(lit(ScurveBase), " "), lit(1),
          (lit(10) + pmod(col("doc_id"), lit(20))).cast("int")), " "))
        .otherwise(col("text")))
    Dedup.minhashRecallAudit(seeded, "doc_id", "text")
      .orderBy("decile")
  }

  /** q225 robust group statistics
    * ([[graft.llm.TextAnalysis.robustGroupStats]]): 10%-fenced
    * trimmed and winsorized mean of `n_chars` per source — the
    * dataset-card mean a few pathological rows cannot move, on
    * exact nearest-rank fences. The oracle replays fences, clamp,
    * and the integer sums.
    */
  def q225(s: SparkSession, d: String): DataFrame =
    TextAnalysis.robustGroupStats(
        Tables.documents(s, d).select("source", "n_chars"),
        "source", "n_chars", trimPct = 10)
      .orderBy("source")

  /** q226 at-rest CDC chunk store
    * ([[graft.llm.Dedup.cdcIngestAtRest]] /
    * [[graft.llm.Dedup.cdcAppendAtRest]] /
    * [[graft.llm.Dedup.cdcStoreCensus]]): the LBFS storage model as
    * incremental index maintenance — three ingest batches (60/20/20,
    * the first 150 docs seeded with one boilerplate text so
    * cross-batch dedup is live), each chunked once, batch-deduped,
    * anti-joined against the store, only NEW chunks appended; the
    * result is the ledger with cumulative stored fraction. The
    * oracle replays all three chunk chains and the store-growth
    * algebra.
    */
  def q226(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") < 150, lit(ViralHeader)).otherwise(col("text")))
    val atRest = atRestDir(d, "graft_cdc_store")
    ingestOnce(atRest + "#cdc#" + inputFingerprint(d + "/documents.parquet")) {
      Dedup.cdcIngestAtRest(docs.filter(pmod(col("doc_id"), lit(5)) < 3),
        "doc_id", "text", atRest)
      Dedup.cdcAppendAtRest(docs.filter(pmod(col("doc_id"), lit(5)) === 3),
        "doc_id", "text", atRest, batchId = 1)
      Dedup.cdcAppendAtRest(docs.filter(pmod(col("doc_id"), lit(5)) === 4),
        "doc_id", "text", atRest, batchId = 2)
    }
    Dedup.cdcStoreCensus(s, atRest)
  }

  /** q227 stream-fed CDC chunk store
    * ([[graft.streaming.EventStream.cdcIngestStream]]): q226's three
    * ingest batches delivered as structured-streaming MICRO-BATCHES
    * through the foreachBatch append face into a fresh store — the
    * census must match the SAME DuckDB replay as the batch-built
    * store, bit for bit (chunk identity is content, so the streaming
    * path has no per-batch blindness to excuse). The feed rides the
    * FILE stream source (judge r17: the former MemoryStream feed
    * collect()ed the corpus slice to the driver — the same hazard
    * class ADVICE r16 flagged for q238/q239): each micro-batch lands
    * as parquet and streams back, the production crawl-shard shape;
    * the timed read is the census, the stream runs once at ingest.
    */
  def q227(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") < 150, lit(ViralHeader)).otherwise(col("text")))
    val atRest = atRestDir(d, "graft_cdc_stream")
    ingestOnce(atRest + "#cdcs#" + inputFingerprint(d + "/documents.parquet")) {
      Dedup.cdcInitAtRest(s, atRest)
      val feed = java.nio.file.Files
        .createTempDirectory("graft_q227_feed").toString
      val batchConds = Seq(
        pmod(col("doc_id"), lit(5)) < 3,   // micro-batch 0 = q226 batch 0
        pmod(col("doc_id"), lit(5)) === 3, // micro-batch 1
        pmod(col("doc_id"), lit(5)) === 4) // micro-batch 2
      // batch 0's files land BEFORE the stream starts so it arrives
      // as ONE micro-batch — the ledger keys off batch ids, so the
      // micro-batch boundaries must be exactly q226's three
      docs.filter(batchConds.head).write.mode("append").parquet(feed)
      val q = graft.streaming.EventStream.cdcIngestStream(
        s.readStream.schema("doc_id LONG, text STRING").parquet(feed),
        "doc_id", "text", atRest)
      try {
        q.processAllAvailable()
        for (cond <- batchConds.tail) {
          // ONE file per micro-batch (review r18): the live source
          // polls continuously, and a multi-file commit can be
          // half-listed — splitting the batch and shifting every
          // later ledger batch id. A single part file appears
          // atomically (one committer rename).
          docs.filter(cond).coalesce(1).write.mode("append").parquet(feed)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    Dedup.cdcStoreCensus(s, atRest)
  }

  /** q231 stream-fed BM25 index
    * ([[graft.streaming.EventStream.bm25IngestStream]]): q217's 80%
    * corpus delivered as two structured-streaming MICRO-BATCHES
    * through the foreachBatch append face into a store seeded with
    * [[graft.llm.Retrieval.bm25InitAtRest]] (params only — Spark's
    * batch ids have nothing to collide with), then the SAME 3-query
    * probe as q217. BM25's stats deltas are additive and drift-free,
    * so the stream-built index must rank bit-identically to q217's
    * batch-built one — the oracle is literally q217's from-scratch
    * replay. The feed rides the FILE stream source (judge r17: the
    * former MemoryStream feed collect()ed the corpus slice to the
    * driver): micro-batches land as parquet and stream back, the
    * production crawl-shard shape; the timed read is the probe, the
    * stream runs once at ingest.
    */
  def q231(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_bm25_stream")
    ingestOnce(atRest + "#bm25s#" + inputFingerprint(d + "/documents.parquet")) {
      Retrieval.bm25InitAtRest(s, atRest)
      val feed = java.nio.file.Files
        .createTempDirectory("graft_q231_feed").toString
      val batchConds = Seq(
        pmod(col("doc_id"), lit(5)) < 3,   // micro-batch 0 = q217's ingest
        pmod(col("doc_id"), lit(5)) === 3) // micro-batch 1 = q217's append
      docs.filter(batchConds.head).write.mode("append").parquet(feed)
      val q = graft.streaming.EventStream.bm25IngestStream(
        s.readStream.schema("doc_id LONG, text STRING").parquet(feed),
        "doc_id", "text", atRest)
      try {
        q.processAllAvailable()
        // one file: atomic visibility to the live source (review r18)
        docs.filter(batchConds(1)).coalesce(1).write.mode("append").parquet(feed)
        q.processAllAvailable()
      } finally q.stop()
    }
    val queries = Seq((1L, "spark"), (1L, "merge"), (2L, "vector"),
      (2L, "index"), (3L, "data")).toDF("qid", "term")
    Retrieval.bm25ProbeAtRest(s, atRest, queries, k = 10)
      .select(col("qid"), col("id").as("doc_id"), col("score"),
        col("n_terms_hit"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q238 stream-fed IVF-PQ index
    * ([[graft.streaming.EventStream.ivfPqIngestStream]]): q201's
    * corpus delivered as two structured-streaming MICRO-BATCHES —
    * batch 0 (80%) TRAINS the index through the foreachBatch face
    * (the FAISS train()+add() cycle), batch 1 (20%) is encoded and
    * appended under the FROZEN codebooks — then the SAME 3-query
    * probe as q201. Training is deterministic (fixed-point Lloyd),
    * so the stream-built index must answer bit-identically to
    * q201's batch-built one — the oracle is literally q201's
    * from-scratch replay. The feed rides the FILE stream source
    * (ADVICE r16: the former MemoryStream feed collect()ed the
    * corpus to the driver — a memory hazard at scaling tiers):
    * micro-batches land as parquet and stream back, the production
    * crawl-shard shape. Batch 0's files are written BEFORE the
    * stream starts so the train set arrives as ONE micro-batch (a
    * partial first batch would train the codebooks on the wrong
    * distribution); the timed read is the probe, the stream runs
    * once at ingest.
    */
  def q238(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val atRest = atRestDir(d, "graft_ivfpq_stream")
    ingestOnce(atRest + "#ivfs#" + inputFingerprint(d + "/embeddings.parquet")) {
      val feed = java.nio.file.Files
        .createTempDirectory("graft_q238_feed").toString
      val batchConds = Seq(
        pmod(col("vec_id"), lit(5)) =!= 4, // micro-batch 0 = q201's train set
        pmod(col("vec_id"), lit(5)) === 4) // micro-batch 1 = q201's append
      emb.filter(batchConds.head).write.mode("append").parquet(feed)
      val q = graft.streaming.EventStream.ivfPqIngestStream(
        s.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
          .parquet(feed), atRest)
      try {
        q.processAllAvailable()
        // one file: atomic visibility to the live source (review r18)
        emb.filter(batchConds(1)).coalesce(1).write.mode("append").parquet(feed)
        q.processAllAvailable()
      } finally q.stop()
    }
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfPqTopKAtRest(s, atRest, qs, topK = 5, nprobe = 2)
      .orderBy("qid", "rank")
  }

  /** q239 stream-fed winnowing (MOSS) index
    * ([[graft.streaming.EventStream.winnowIngestStream]]): q230's
    * marker-seeded corpus delivered as two MICRO-BATCHES through the
    * foreachBatch face (batch 0 establishes the store, batch 1 is
    * fingerprinted under the stored (k, w) and appended), then the
    * SAME held-out probe as q230. Fingerprint selection is
    * content-deterministic, so the stream-built store must answer
    * bit-identically to q230's batch-built one — the oracle is
    * q230's from-scratch replay.
    */
  def q239(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "text")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(100)) < 4,
          concat(lit("shared passage marker number "),
            expr("doc_id div 100L").cast("string"),
            lit(" with enough identical characters to produce winnowed " +
              "fingerprints across this whole run of text "),
            col("text")))
          .otherwise(col("text")))
    val atRest = atRestDir(d, "graft_winnow_stream")
    ingestOnce(atRest + "#wins#" + inputFingerprint(d + "/documents.parquet")) {
      // file-source feed, not a driver-side collect (ADVICE r16 —
      // q239 is a scaling target whose tiers triple the corpus);
      // fingerprinting is content-deterministic per doc, so any
      // micro-batch slicing of the same rows builds the same store
      val feed = java.nio.file.Files
        .createTempDirectory("graft_q239_feed").toString
      val batchConds = Seq(
        pmod(col("doc_id"), lit(5)) < 3,   // micro-batch 0 = q230's ingest
        pmod(col("doc_id"), lit(5)) === 3) // micro-batch 1 = q230's append
      docs.filter(batchConds.head).write.mode("append").parquet(feed)
      val q = graft.streaming.EventStream.winnowIngestStream(
        s.readStream.schema("doc_id LONG, text STRING").parquet(feed),
        "doc_id", "text", atRest)
      try {
        q.processAllAvailable()
        // one file: atomic visibility to the live source (review r18)
        docs.filter(batchConds(1)).coalesce(1).write.mode("append").parquet(feed)
        q.processAllAvailable()
      } finally q.stop()
    }
    Dedup.winnowProbeAtRest(s, atRest,
        docs.filter(pmod(col("doc_id"), lit(5)) === 4), "doc_id", "text")
      .orderBy("new_id", "base_id")
  }

  /** q240 CDC content-store reconstruction
    * ([[graft.llm.Dedup.cdcReconstruct]]): the read face that makes
    * the chunk store a real storage system — the whole corpus is
    * ingested in two batches (payloads + per-doc manifests land with
    * the same replay-safe append), then every doc_id ≡ 0 (mod 11) is
    * reassembled FROM THE STORE (manifest walk + content-keyed
    * payload join, never a corpus re-chunk) and the oracle compares
    * md5/length of the reconstruction against the source text
    * directly — a wrong chunk boundary, offset order, payload byte,
    * or manifest row anywhere breaks the digest. n_chunks gates the
    * manifest row count against the SQL chunker replay.
    */
  def q240(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_cdc_content")
    ingestOnce(atRest + "#cdcc#" + inputFingerprint(d + "/documents.parquet")) {
      Dedup.cdcInitAtRest(s, atRest)
      Dedup.cdcAppendAtRest(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", atRest, batchId = 0)
      Dedup.cdcAppendAtRest(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", atRest, batchId = 1)
    }
    Dedup.cdcReconstruct(s, atRest,
        docs.filter(pmod(col("doc_id"), lit(11)) === 0).select("doc_id"),
        "doc_id")
      .select(col("id").as("doc_id"), col("n_chunks"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text").cast("binary")).as("digest"))
      .orderBy("doc_id")
  }

  /** q241 CDC content-store takedown
    * ([[graft.llm.Dedup.cdcDeleteAtRest]]): right-to-be-forgotten in
    * a content-addressed store — every doc_id ≡ 3 (mod 7) is deleted
    * (manifest removal + reference-counted chunk GC through the
    * crash-safe two-rename swap). The result is the reconstruction
    * of a SURVIVING subset (bit-exact digests — shared chunks whose
    * other referents were deleted must still be there) stitched with
    * a one-row post-GC census; the oracle replays the chunker over
    * the survivors and computes the surviving distinct-chunk set
    * from scratch (a chunk survives iff SOME survivor references it,
    * however many deleted docs also did).
    */
  def q241(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_cdc_takedown")
    ingestOnce(atRest + "#cdcd#" + inputFingerprint(d + "/documents.parquet")) {
      Dedup.cdcInitAtRest(s, atRest)
      Dedup.cdcAppendAtRest(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", atRest, batchId = 0)
      Dedup.cdcAppendAtRest(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", atRest, batchId = 1)
      Dedup.cdcDeleteAtRest(
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
        "doc_id", atRest)
    }
    // resolve through ONE store snapshot — post-takedown the tables
    // live in versioned dirs named by the store manifest (round 17)
    val snap = graft.llm.AtRestStore.snapshot(s, atRest)
    val census = s.read.parquet(snap.path("chunks"))
      .agg(count(lit(1)).as("n_chunks_live"),
        sum(col("len").cast("long")).as("live_chars"))
      .crossJoin(s.read.parquet(snap.path("manifests"))
        .agg(count_distinct(col("id")).as("n_docs_live")))
    Dedup.cdcReconstruct(s, atRest,
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 3 &&
          pmod(col("doc_id"), lit(13)) === 0).select("doc_id"), "doc_id")
      .select(col("id").as("doc_id"), col("n_chunks"),
        md5(col("text").cast("binary")).as("digest"))
      .crossJoin(broadcast(census)) // 1-row audit stitch
      .orderBy("doc_id")
  }

  /** q242 CDC store compaction
    * ([[graft.llm.Dedup.cdcCompactAtRest]]): a three-batch store is
    * folded to one `batch=0` partition per table — the history-fold
    * a streamed store needs once per-batch FILE COUNT dominates
    * open/list cost. The gate is that compaction changes NOTHING
    * observable except the fold itself: a reconstruction subset
    * stays bit-exact (md5 vs source) and the post-compact census is
    * ONE row whose cumulative totals equal the from-scratch replay
    * of the three-batch ledger algebra.
    */
  def q242(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_cdc_compact")
    ingestOnce(atRest + "#cdcf#" + inputFingerprint(d + "/documents.parquet")) {
      Dedup.cdcInitAtRest(s, atRest)
      for (b <- 0 to 2)
        Dedup.cdcAppendAtRest(docs.filter(pmod(col("doc_id"), lit(3)) === b),
          "doc_id", "text", atRest, batchId = b.toLong)
      Dedup.cdcCompactAtRest(s, atRest)
    }
    val census = Dedup.cdcStoreCensus(s, atRest)
      .agg(count(lit(1)).as("n_ledger_rows"),
        max(col("cum_raw")).as("cum_raw"),
        max(col("cum_stored")).as("cum_stored"),
        max(col("stored_fp")).as("stored_fp"))
    Dedup.cdcReconstruct(s, atRest,
        docs.filter(pmod(col("doc_id"), lit(17)) === 0).select("doc_id"),
        "doc_id")
      .select(col("id").as("doc_id"), col("n_chunks"),
        md5(col("text").cast("binary")).as("digest"))
      .crossJoin(broadcast(census)) // 1-row audit stitch
      .orderBy("doc_id")
  }

  /** q228 LSH index takedown
    * ([[graft.llm.Dedup.lshDeleteAtRest]] + the purge inside
    * [[graft.llm.Dedup.lshCompactAtRest]]): right-to-be-forgotten
    * for the near-dup index — 80% of the corpus is ingested, every
    * indexed doc_id ≡ 3 (mod 7) is tombstoned (probes mask both the
    * bucket rows and the shingle store), then compaction physically
    * purges them. Result: the post-compact probe with an n_diff
    * audit column vs the pre-compact (masked) probe — 0 means the
    * mask and the purge agree row-for-row. The oracle replays the
    * full-base hub reduction THEN the mask (deletion never re-bands
    * history — a deleted hub's bucket loses its stored
    * representative, the documented recall trade).
    */
  def q228(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_lsh_delete")
    val probeBatch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val fp = inputFingerprint(d + "/documents.parquet")
    ingestOnce(atRest + "#lshdel#" + fp) {
      Dedup.lshIngestAtRest(docs.filter(pmod(col("doc_id"), lit(5)) =!= 4),
        "doc_id", "text", atRest)
      Dedup.lshDeleteAtRest(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 4 &&
          pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
        "doc_id", atRest)
      Dedup.lshProbeAtRest(s, atRest, probeBatch, "doc_id", "text")
        .write.mode("overwrite").parquet(atRest + "/probe_masked")
      Dedup.lshCompactAtRest(s, atRest)
    }
    val masked = s.read.parquet(atRest + "/probe_masked")
      .select(col("new_id").as("m_n"), col("base_id").as("m_b"))
    val post = Dedup.lshProbeAtRest(s, atRest, probeBatch, "doc_id", "text")
    val diff = post.join(masked,
        post("new_id") === masked("m_n") && post("base_id") === masked("m_b"),
        "full_outer")
      .agg(sum(when(col("new_id").isNull || col("m_n").isNull, 1L)
        .otherwise(0L)).as("n_diff"))
    post.crossJoin(broadcast(diff)) // 1-row audit stitch
      .orderBy("new_id", "base_id")
  }

  /** q229 IVF-PQ index takedown
    * ([[graft.llm.Similarity.ivfPqDeleteAtRest]] /
    * [[graft.llm.Similarity.ivfPqPurgeAtRest]]): the vector half of
    * right-to-be-forgotten — the full corpus is ingested, every
    * vec_id ≡ 4 (mod 9) is tombstoned (searches mask the code scan;
    * n_cand counts survivors only), then the purge rewrites exactly
    * the affected cell partitions. Result: the post-purge search
    * with an n_diff audit vs the masked search — 0 means mask ≡
    * purge. The oracle trains on the FULL ingest set (frozen
    * codebooks — deletion never retrains) and ranks survivors.
    */
  def q229(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    val atRest = atRestDir(d, "graft_ivfpq_delete")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    ingestOnce(atRest + "#ivfdel#" + inputFingerprint(d + "/embeddings.parquet")) {
      Similarity.ivfPqIngest(emb, atRest)
      Similarity.ivfPqDeleteAtRest(
        emb.filter(pmod(col("vec_id"), lit(9)) === 4).select("vec_id"), atRest)
      Similarity.ivfPqTopKAtRest(s, atRest, qs, topK = 5, nprobe = 2)
        .write.mode("overwrite").parquet(atRest + "/search_masked")
      Similarity.ivfPqPurgeAtRest(s, atRest)
    }
    val masked = s.read.parquet(atRest + "/search_masked")
      .select(col("qid").as("m_q"), col("vec_id").as("m_v"),
        col("rank").as("m_r"))
    val post = Similarity.ivfPqTopKAtRest(s, atRest, qs, topK = 5, nprobe = 2)
    val diff = post.join(masked,
        post("qid") === masked("m_q") && post("vec_id") === masked("m_v") &&
          post("rank") === masked("m_r"), "full_outer")
      .agg(sum(when(col("qid").isNull || col("m_q").isNull, 1L)
        .otherwise(0L)).as("n_diff"))
    post.crossJoin(broadcast(diff)) // 1-row audit stitch
      .orderBy("qid", "rank")
  }

  /** q230 at-rest winnowing (MOSS) index
    * ([[graft.llm.Dedup.winnowIngestAtRest]] /
    * [[graft.llm.Dedup.winnowAppendAtRest]] /
    * [[graft.llm.Dedup.winnowProbeAtRest]]): the local-overlap /
    * provenance face of the at-rest family — fingerprints persist
    * once, every new batch probes for SHARED PASSAGES against
    * history without re-fingerprinting it. Docs with id ≡ 0..3
    * (mod 100) are seeded with a per-group passage marker so
    * overlap groups span the ingest/append/probe split (group size
    * 4 stays under the max_df hub guard — a corpus-wide passage
    * would be dropped as boilerplate, which is the guard's point).
    * The oracle replays base fingerprints (full-base selection),
    * probe fingerprints, the store-side df guard, and the shared
    * count.
    */
  def q230(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(100)) < 4,
          concat(lit("shared passage marker number "),
            expr("doc_id div 100L").cast("string"),
            lit(" with enough identical characters to produce winnowed " +
              "fingerprints across this whole run of text "),
            col("text")))
          .otherwise(col("text")))
    val atRest = atRestDir(d, "graft_winnow_at_rest")
    ingestOnce(atRest + "#win#" + inputFingerprint(d + "/documents.parquet")) {
      Dedup.winnowIngestAtRest(docs.filter(pmod(col("doc_id"), lit(5)) < 3),
        "doc_id", "text", atRest)
      Dedup.winnowAppendAtRest(docs.filter(pmod(col("doc_id"), lit(5)) === 3),
        "doc_id", "text", atRest)
    }
    Dedup.winnowProbeAtRest(s, atRest,
        docs.filter(pmod(col("doc_id"), lit(5)) === 4), "doc_id", "text")
      .orderBy("new_id", "base_id")
  }

  /** q202 margin-based pair mining
    * ([[graft.llm.Similarity.marginPairs]]): the CCMatrix/LASER
    * ratio-margin scorer — each kNN edge's cosine normalized by the
    * mean cosine of both endpoints' own neighborhoods, global top-50
    * pairs. The oracle replays the bucketed kNN, the rank-ordered
    * neighborhood-mean folds, the undirected dedup, and the margin
    * ranking.
    */
  def q202(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    Similarity.marginPairs(emb, k = 3, planes = 4, topN = 50)
      .orderBy("rank")
  }

  /** q203 BPE tokenizer application ([[graft.llm.Dedup.bpeEncode]]
    * under a [[graft.llm.Dedup.bpeTrain]] merge table): train 3
    * merges on the corpus (the q178 path), then ENCODE every
    * document under the frozen table — the read-side op a pipeline
    * runs on all ingested text forever after. Reports per doc the
    * base token count, encoded symbol count, content chars, and
    * fixed-point fertility. The oracle replays the 3 training
    * rounds and then folds the same greedy-leftmost merges over an
    * id-carrying arm covering ALL documents (the trainer's
    * len>1 filter applies to the statistics arm only).
    */
  def q203(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // model-sized collect: the 3-row merge table (like fitIvf's
    // centroids — planner metadata, never corpus data)
    val mt = Dedup.bpeTrain(docs, "doc_id", "text", rounds = 3)
      .orderBy("round").collect()
    // the oracle unrolls exactly 3 merge rounds; a corpus that
    // exhausts earlier would silently diverge (engine N rows vs
    // oracle 0) — fail loud instead (same contract as q178)
    require(mt.length == 3,
      s"q203 expects 3 trainable merges, corpus exhausted at ${mt.length}")
    val merges = mt.map(r => (r.getString(1), r.getString(2))).toSeq
    Dedup.bpeEncode(docs, "doc_id", "text", merges).orderBy("doc_id")
  }

  /** q204 OPQ-style rotated-PQ audit
    * ([[graft.llm.Similarity.rotatedPqAudit]]): the q189 codebook
    * census run on the raw corpus AND after a deterministic
    * Householder reflection — the fixed-rotation form of OPQ's
    * subspace rebalancing, reported as 2·m·k (variant, sub, cluster)
    * rows. The oracle replays the reflection (integer LCG reflector,
    * in-order folds) and BOTH full PQ trainings via a prefixed copy
    * of the shared PQ replay chain.
    */
  def q204(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    Similarity.rotatedPqAudit(emb, m = 4, k = 8, rounds = 1, seed = 1)
      .orderBy("variant", "sub", "cluster")
  }

  /** q205 Johnson–Lindenstrauss distortion audit
    * ([[graft.llm.Similarity.jlDistortion]] over
    * [[graft.llm.Similarity.jlProject]]): ±1-signed 64→16 projection
    * (Achlioptas), exact per-pair distance-ratio within hyperplane
    * buckets, per-bucket min/max/mean in fixed point. The oracle
    * replays the sign LCG, both in-order distance folds, and the
    * integer reductions.
    */
  def q205(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    Similarity.jlDistortion(emb, r = 16, planes = 4).orderBy("bucket")
  }

  /** q206 soft-dedup repeat weighting
    * ([[graft.llm.Dedup.softDedupWeights]]): every exact-content
    * cluster contributes total weight 1 (⌊10⁶/n⌋ fixed point per
    * copy); per-source raw vs effective token mass — the mixture
    * planner's dedup-aware input. The oracle reproduces the md5
    * content clusters, the integer weights, and the rollup.
    */
  def q206(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.softDedupWeights(docs, "doc_id", "text", "source")
      .orderBy("source")
  }

  /** q207 farthest-first coreset selection
    * ([[graft.llm.Similarity.farthestFirst]]): Gonzalez k-center
    * traversal, batched k-means‖-style — the diversity subset a
    * data-pruning pipeline keeps, and the spread-maximizing init for
    * the IVF family. The oracle replays the md5 seed draw and both
    * unrolled selection rounds (min-distance costs, (cost DESC, id)
    * top-2) with the same fixed-point flooring.
    */
  def q207(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    Similarity.farthestFirst(emb, k = 5, batch = 2).orderBy("sel_order")
  }

  /** q208 at-rest LSH dedup probe ([[graft.llm.Dedup.lshProbeAtRest]]
    * over [[graft.llm.Dedup.lshIngestAtRest]] artifacts): the
    * q196/q201 ingest-once pattern for the DEDUP family — the
    * historical 80% is signed and persisted once (banding partitioned
    * by band + the shingle document store, hot buckets reduced to
    * their star hub), and the timed plan signs only the 20% batch,
    * equi-joins the stored buckets, and Jaccard-verifies against the
    * stored shingles. The oracle replays both signature pipelines
    * (prefixed CTE chains), the hot-bucket hub reduction, the
    * bucket join, and the verify.
    */
  def q208(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_lsh_at_rest")
    ingestOnce(atRest + "#lsh#" + inputFingerprint(d + "/documents.parquet")) {
      Dedup.lshIngestAtRest(docs.filter(pmod(col("doc_id"), lit(5)) =!= 4),
        "doc_id", "text", atRest)
    }
    Dedup.lshProbeAtRest(s, atRest,
        docs.filter(pmod(col("doc_id"), lit(5)) === 4), "doc_id", "text")
      .orderBy("new_id", "base_id")
  }

  /** q209 incremental LSH index append
    * ([[graft.llm.Dedup.lshAppendAtRest]] between q208's ingest and
    * probe): the 60% base is ingested once, the next 20% batch is
    * APPENDED (signed once, hub-reduced per batch, dynamic partition
    * append), and the final 20% probes base ∪ appended through the
    * unchanged read path. The oracle replays BOTH per-batch hub
    * reductions (the per-ingest-batch cap contract — a one-shot
    * union replay would store different hubs) plus the probe chain.
    */
  def q209(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_lsh_append")
    ingestOnce(atRest + "#lshapp#" + inputFingerprint(d + "/documents.parquet")) {
      Dedup.lshIngestAtRest(docs.filter(pmod(col("doc_id"), lit(5)) < 3),
        "doc_id", "text", atRest)
      Dedup.lshAppendAtRest(docs.filter(pmod(col("doc_id"), lit(5)) === 3),
        "doc_id", "text", atRest)
    }
    Dedup.lshProbeAtRest(s, atRest,
        docs.filter(pmod(col("doc_id"), lit(5)) === 4), "doc_id", "text")
      .orderBy("new_id", "base_id")
  }

  /** q210 at-rest LSH index COMPACTION
    * ([[graft.llm.Dedup.lshCompactAtRest]]) — closes the
    * drift-until-reingest gap the q209 append documents (judge r14
    * item 4). The skew is the cross-batch kind the per-batch hub cap
    * cannot see: 100 boilerplate docs split 60 (ingest) / 20
    * (append) — each batch under the cap of 64, so every copy
    * accumulates at rest — then compaction re-caps the stored bucket
    * table (buckets only, nothing re-shingled). The query returns
    * the equivalence audit: probe pairs through the compacted
    * multi-batch index vs through a ONE-SHOT ingest of the same
    * union (a second at-rest artifact), their symmetric difference
    * (0 = the compaction restored one-shot semantics), and the
    * post-compaction occupancy census (no bucket above the cap).
    * The oracle replays both chains — per-batch hub reduction +
    * compaction on one side, single-pass reduction on the other —
    * and the same counts.
    */
  def q210(s: SparkSession, d: String): DataFrame = {
    val boiler = "click here to accept cookies and continue reading this " +
      "article free newsletter signup exclusive member offers unsubscribe anytime"
    val docs = Tables.documents(s, d).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") < 100, lit(boiler)).otherwise(col("text")))
    val multi = atRestDir(d, "graft_lsh_compact_multi")
    val once = atRestDir(d, "graft_lsh_compact_once")
    val fp = inputFingerprint(d + "/documents.parquet")
    ingestOnce(multi + "#lshcmp#" + fp) {
      Dedup.lshIngestAtRest(docs.filter(pmod(col("doc_id"), lit(5)) < 3),
        "doc_id", "text", multi)
      Dedup.lshAppendAtRest(docs.filter(pmod(col("doc_id"), lit(5)) === 3),
        "doc_id", "text", multi)
      Dedup.lshCompactAtRest(s, multi)
    }
    ingestOnce(once + "#lshone#" + fp) {
      Dedup.lshIngestAtRest(docs.filter(pmod(col("doc_id"), lit(5)) < 4),
        "doc_id", "text", once)
    }
    val probeBatch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val pc = Dedup.lshProbeAtRest(s, multi, probeBatch, "doc_id", "text")
      .select(col("new_id"), col("base_id"))
    val po = Dedup.lshProbeAtRest(s, once, probeBatch, "doc_id", "text")
      .select(col("new_id").as("o_new"), col("base_id").as("o_base"))
    val diff = pc.join(po,
        pc("new_id") === po("o_new") && pc("base_id") === po("o_base"),
        "full_outer")
      .agg(count(col("new_id")).as("n_pairs_cmp"),
        count(col("o_new")).as("n_pairs_once"),
        sum(when(col("new_id").isNull || col("o_new").isNull, 1L)
          .otherwise(0L)).as("n_diff"))
    val census = s.read.parquet(
        graft.llm.AtRestStore.tablePath(s, multi, "buckets"))
      .groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
      .agg(max(col("bn")).as("max_occ"),
        sum(when(col("bn") > 64, 1L).otherwise(0L)).as("n_over"))
    diff.crossJoin(census) // two 1-row locals — a literal stitch, not a data join
  }

  /** q217 at-rest BM25 postings index
    * ([[graft.llm.Retrieval.bm25IngestAtRest]] /
    * [[graft.llm.Retrieval.bm25AppendAtRest]] /
    * [[graft.llm.Retrieval.bm25ProbeAtRest]]) — the lexical third of
    * the at-rest index triangle (LSH near-dup q208, IVF-PQ ANN q196):
    * 60% of the corpus is ingested into the term-bucketed inverted
    * index, the next 20% batch is APPENDED (new postings + one stats
    * delta row, nothing rewritten), and a 3-query batch probes
    * base ∪ appended top-10 through the pruned postings read. Lexical
    * stats are additive, so unlike the frozen-codebook families the
    * append is DRIFT-FREE — the oracle replays a from-scratch BM25
    * over the 80% union and must match bit-for-bit.
    */
  def q217(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_bm25_at_rest")
    ingestOnce(atRest + "#bm25#" + inputFingerprint(d + "/documents.parquet")) {
      Retrieval.bm25IngestAtRest(docs.filter(pmod(col("doc_id"), lit(5)) < 3),
        "doc_id", "text", atRest)
      Retrieval.bm25AppendAtRest(docs.filter(pmod(col("doc_id"), lit(5)) === 3),
        "doc_id", "text", atRest)
    }
    val queries = Seq((1L, "spark"), (1L, "merge"), (2L, "vector"),
      (2L, "index"), (3L, "data")).toDF("qid", "term")
    Retrieval.bm25ProbeAtRest(s, atRest, queries, k = 10)
      .select(col("qid"), col("id").as("doc_id"), col("score"),
        col("n_terms_hit"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q218 BM25 tombstone delete + physical compaction
    * ([[graft.llm.Retrieval.bm25DeleteAtRest]] /
    * [[graft.llm.Retrieval.bm25CompactAtRest]]) — the takedown cycle:
    * the full corpus is ingested, every doc_id ≡ 3 (mod 7) is
    * tombstoned (logical delete — probes mask the rows and subtract
    * the (docs, tokens) deltas, so idf and avgdl reflect the
    * post-delete corpus exactly), then compaction physically purges
    * the postings and folds the stats. The result is the post-compact
    * probe with an equivalence audit column: n_diff counts
    * (qid, doc_id, rank) rows where the tombstone-masked and
    * compacted probes disagree — 0 = compaction is purely physical.
    * The oracle replays BM25 over the corpus minus the deleted ids
    * with a literal 0.
    */
  def q218(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val atRest = atRestDir(d, "graft_bm25_delete")
    val queries = Seq((1L, "spark"), (1L, "merge"), (2L, "vector"),
      (3L, "data")).toDF("qid", "term")
    val fp = inputFingerprint(d + "/documents.parquet")
    // pre-compact (tombstone-masked) probe runs INSIDE the ingest
    // block: after compaction the tombstone set is empty, so the
    // masked read is only observable before — its rows are captured
    // once and replayed via the same at-rest scratch dir
    ingestOnce(atRest + "#bm25del#" + fp) {
      Retrieval.bm25IngestAtRest(docs, "doc_id", "text", atRest)
      Retrieval.bm25DeleteAtRest(
        docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
        "doc_id", atRest)
      Retrieval.bm25ProbeAtRest(s, atRest, queries, k = 10)
        .write.mode("overwrite").parquet(atRest + "/probe_masked")
      Retrieval.bm25CompactAtRest(s, atRest)
    }
    val masked = s.read.parquet(atRest + "/probe_masked")
      .select(col("qid").as("m_qid"), col("id").as("m_id"),
        col("rank").as("m_rank"))
    val post = Retrieval.bm25ProbeAtRest(s, atRest, queries, k = 10)
    val diff = post.join(masked,
        post("qid") === masked("m_qid") && post("id") === masked("m_id") &&
          post("rank") === masked("m_rank"), "full_outer")
      .agg(sum(when(col("qid").isNull || col("m_qid").isNull, 1L)
        .otherwise(0L)).as("n_diff"))
    post.crossJoin(broadcast(diff)) // 1-row audit stitch
      .select(col("qid"), col("id").as("doc_id"), col("score"),
        col("n_terms_hit"), col("rank"), col("n_diff"))
      .orderBy("qid", "rank")
  }

  /** q195 RESIDUAL IVF-PQ search
    * ([[graft.llm.Similarity.ivfPqResidualTopK]]): the full FAISS
    * fidelity variant — fine codes quantize vec − coarse centroid,
    * the query LUT is per-(query, probed cell). The oracle chains
    * coarse replay → residual table → residual-PQ replay →
    * per-cell LUT → in-list ADC in one statement.
    */
  def q195(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfPqResidualTopK(emb, qs, topK = 5, nprobe = 2)
      .orderBy("qid", "rank")
  }

  /** q194 PageRank centrality over the corpus kNN graph
    * ([[graft.llm.Similarity.pageRank]] over
    * [[graft.llm.Similarity.knnGraph]] edges): five integer
    * fixed-point rounds, unnormalized convention — the
    * embedding-space authority signal (who do many neighbors point
    * at). The oracle replays the bucketed kNN construction and all
    * five rounds as unrolled CTEs.
    */
  def q194(s: SparkSession, d: String): DataFrame = {
    val edges = Similarity.knnGraph(
        Tables.embeddings(s, d).select("vec_id", "embedding"),
        k = 3, planes = 4)
      .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    Similarity.pageRank(edges, rounds = 5)
      .select(col("id").as("vec_id"), col("r_fp"), col("rank"))
      .orderBy("vec_id")
  }

  /** q193 PQ recall audit ([[graft.llm.Similarity.pqRecall]]):
    * recall@5 of the flat-ADC and IVF-PQ searchers against the exact
    * Euclidean brute force, per query — compression cost and pruning
    * cost decomposed. The oracle composes the brute ranking with both
    * quantized replays. Expect LOW absolute recall on this fixture
    * and don't misread it as a defect: m=4 × k=8 is 12 bits per
    * 64-dim vector (~85× compression) trained for ONE Lloyd round on
    * near-uniform synthetic embeddings — the hardest possible data
    * for PQ. The audit exists precisely to measure that; production
    * indexes pick m/k from THIS report (the q188 spec separately
    * proves the ADC arithmetic exact via the duplicate identity, so
    * a low number here is data/parameters, not math).
    */
  def q193(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.pqRecall(emb, qs, k = 5, nprobe = 2).orderBy("qid")
  }

  /** q191 PMI collocations
    * ([[graft.llm.TextAnalysis.pmiCollocations]]): top-20 adjacent
    * pairs by fixed-point pointwise mutual information at
    * minCount 5 — every ln term floored separately on exact integer
    * counts, so the oracle replays the ranking bit-for-bit.
    */
  def q191(s: SparkSession, d: String): DataFrame =
    TextAnalysis.pmiCollocations(Tables.documents(s, d), "doc_id", "text",
      minCount = 5, k = 20)

  /** q190 PQ asymmetric-distance search
    * ([[graft.llm.Similarity.pqAdcTopK]]): top-5 neighbors of three
    * query vectors through the trained PQ index — per query a
    * (m·k)-cell exact-distance lookup table, per corpus vector `m`
    * integer table lookups summed, ranking on the exact fixed-point
    * ADC total. The oracle extends the q188 replay with the LUT and
    * the rank window.
    */
  def q190(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.pqAdcTopK(emb, qs, topK = 5).orderBy("qid", "rank")
  }

  def q174(s: SparkSession, d: String): DataFrame = {
    val key = (col("doc_id") - pmod(col("doc_id"), lit(18))).cast("long")
    val injected = Tables.documents(s, d).withColumn("text",
      concat(col("text"),
        when(pmod(col("doc_id"), lit(9)) === 0,
          repeat(concat(lit(" exact-dup "), lpad(key.cast("string"), 7, "0")), 5))
          .otherwise(lit(""))))
    Dedup.exactSubstringPairs(injected, "doc_id", "text",
        minLen = 50, w = 16, maxDf = 8)
      .orderBy("id_a", "id_b")
  }

  def q172(s: SparkSession, d: String): DataFrame = {
    val seeded = Tables.documents(s, d).withColumn("text", concat(col("text"),
      when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, concat(lit(" host 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("\uFFFD")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit("\u0007")).otherwise(lit(""))))
    TextAnalysis.curationFunnel(seeded, "source", "text")
      .orderBy("source")
  }

  /** q171 dedup family-overlap matrix
    * ([[graft.llm.Dedup.familyOverlapMatrix]]): the same corpus
    * through four independent near-dup families (q47 MinHash-LSH,
    * q154 winnowing, q75 blocked n-gram Jaccard, q170 edit-verify),
    * pairs counted per family bitmask — the threshold-choosing
    * evaluation. Oracle composes the four already-proven family
    * replays and the mask aggregation.
    */
  def q171(s: SparkSession, d: String): DataFrame =
    Dedup.familyOverlapMatrix(Tables.documents(s, d), "doc_id", "text")
      .orderBy("mask")

  /** q170 edit-distance verified pairs
    * ([[graft.llm.Dedup.editVerifiedPairs]]): sorted-neighborhood
    * candidates verified by Levenshtein over 128-char prefixes at
    * exact-integer similarity ≥ 0.8 — the edit-distance dedup
    * family. Oracle replays the candidate window, DuckDB's
    * levenshtein (the identical integer metric) and the threshold.
    */
  def q170(s: SparkSession, d: String): DataFrame =
    Dedup.editVerifiedPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")

  /** q169 sorted-neighborhood pairs
    * ([[graft.llm.Dedup.sortedNeighborPairs]]): the merge/purge
    * blocking family — successor pairs in (2-char block, text, id)
    * sort order graded by the 8/16/32/64 prefix-agreement ladder,
    * kept at level ≥ 16. Oracle replays the block window, the lead
    * and the ladder.
    */
  def q169(s: SparkSession, d: String): DataFrame =
    Dedup.sortedNeighborPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy("id_a", "id_b")

  /** q168 tokenizer fertility table
    * ([[graft.llm.TextAnalysis.tokenizerFertility]]): per-source
    * chars/words/subwords masses and the fertility ratios that turn
    * byte budgets into token budgets. Oracle replays the token and
    * subword regexes and the exact-integer ratio chain.
    */
  def q168(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenizerFertility(Tables.documents(s, d), "source", "text")
      .orderBy("source")

  /** q166 encoding-health audit
    * ([[graft.llm.TextAnalysis.encodingHealth]]): deterministic
    * corruption injected over the (all-ASCII) fixture — U+FFFD
    * appended to doc_id % 7 == 0, a BEL control char to
    * doc_id % 11 == 0 — then the per-source mojibake / control-char
    * / ASCII-floor report re-discovers exactly those docs. Oracle
    * replays the injection and every character class.
    */
  def q166(s: SparkSession, d: String): DataFrame =
    TextAnalysis.encodingHealth(
        Tables.documents(s, d).withColumn("text", concat(col("text"),
          when(col("doc_id") % 7 === 0, lit("\uFFFD")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("\u0007")).otherwise(lit("")))),
        "source", "text")
      .orderBy("source")

  /** q165 distribution-drift PSI
    * ([[graft.llm.TextAnalysis.distributionDrift]]): the
    * between-snapshots Population Stability Index over the doc
    * length distribution — snapshots split deterministically by
    * doc-id parity, power-of-two magnitude buckets, add-one
    * smoothed shares, fixed-point PSI contributions. Oracle replays
    * buckets, shares and the ln fold.
    */
  def q165(s: SparkSession, d: String): DataFrame =
    TextAnalysis.distributionDrift(Tables.documents(s, d),
        col("n_chars"), col("doc_id") % 2 === 1)
      .orderBy("bucket")

  /** q162 Hamming-banded binary near-dup
    * ([[graft.llm.Similarity.hammingNearDup]]): 32-bit hyperplane
    * signatures, 4 exact-match bands (structural recall for pairs
    * within 3 bit flips), XOR+popcount verify at Hamming ≤ 3 — the
    * binary multi-index companion to the float-cosine dedup
    * families. Oracle replays the sign bits, band split and
    * popcount verify.
    */
  def q162(s: SparkSession, d: String): DataFrame =
    Similarity.hammingNearDup(Tables.embeddings(s, d))
      .orderBy("id_a", "id_b")

  /** q161 quality-canonical dedup selection
    * ([[graft.llm.Dedup.canonicalByQuality]]): within each verified
    * LSH near-dup cluster keep the highest-token-count member (ties
    * → lowest id) — the keep-longest policy production dedup ships,
    * replacing min-id canonicalization. Oracle replays the q47
    * banded pairs, the recursive CC closure and the argmax rule.
    */
  def q161(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 16, bands = 4, threshold = 0.5)
    Dedup.canonicalByQuality(docs, "doc_id", pairs.select("id_a", "id_b"),
        TextAnalysis.tokenCountCol(col("text")))
      .orderBy("id")
  }

  /** q160 chunk-stitch reconstruction
    * ([[graft.llm.Dedup.chunkStitch]]): documents ≥ 48 chars split
    * into two 24-char-overlapping chunks (even/odd chunk ids — a
    * deterministic replay of overlap-chunked ingestion), then the
    * boundary join re-discovers every split: tail-24 hash of the
    * first chunk equals head-24 hash of the second. Oracle replays
    * the chunking, both hash projections, the df caps and the join.
    */
  def q160(s: SparkSession, d: String): DataFrame = {
    val kk = 24
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 2 * kk)
    val half = floor(length(col("text")) / 2).cast("int")
    val c1 = docs.select((col("doc_id") * 2).as("chunk_id"),
      col("text").substr(lit(1), half + kk).as("t"))
    val c2 = docs.select((col("doc_id") * 2 + 1).as("chunk_id"),
      col("text").substr(half + 1, length(col("text")) - half).as("t"))
    Dedup.chunkStitch(c1.unionByName(c2), "chunk_id", "t", k = kk)
      .orderBy("id_a", "id_b")
  }

  /** q159 classifier calibration buckets
    * ([[graft.llm.TextAnalysis.calibrationBuckets]]): the q121
    * quality classifier's reliability table — fixed-width score
    * buckets over [-1,1] (a per-row expression, no ntile sort),
    * observed `lang='en'` positive rate vs fixed-point mean score
    * per bucket. Oracle replays the q121 scoring chain, the bucket
    * rule and both rates.
    */
  def q159(s: SparkSession, d: String): DataFrame =
    TextAnalysis.calibrationBuckets(Tables.documents(s, d), "doc_id",
        "text", col("lang") === "en")
      .orderBy("bucket")

  /** q158 Lloyd k-means refinement
    * ([[graft.llm.Similarity.lloydRefine]]): one full distributed
    * Lloyd round from the q79 formula centroids — broadcast one-row
    * model, per-row argmin assignment, fixed-point (cluster, dim)
    * mean update — then the final assignment histogram with exact
    * 2²⁰ fixed-point inertia. Oracle replays the whole iteration:
    * formula init, argmin, integer mean sums, re-assignment.
    */
  def q158(s: SparkSession, d: String): DataFrame =
    Similarity.lloydRefine(Tables.embeddings(s, d), k = 8, rounds = 1)
      .orderBy("cluster")

  /** q157 dedup savings report
    * ([[graft.llm.Dedup.dedupSavings]]): per-source doc/token mass
    * before vs after global exact dedup (canonical = corpus-min id
    * per content hash — cross-source semantics), with the
    * token-keep-rate that prices the dedup stage. Oracle replays the
    * hash, the min-id canonical choice and both aggregations.
    */
  def q157(s: SparkSession, d: String): DataFrame =
    Dedup.dedupSavings(Tables.documents(s, d), "doc_id", "source", "text")
      .orderBy("source")

  /** q156 source MinHash overlap matrix
    * ([[graft.llm.Dedup.sourceMinhashOverlap]]): cross-source
    * Jaccard ESTIMATED from per-source 64-hash MinHash signatures —
    * mergeable sketches, no pair work; the estimate twin of q151's
    * exact prefix matrix. Oracle replays the shingles, the affine
    * hash family, the per-source minima and the agreement count.
    */
  def q156(s: SparkSession, d: String): DataFrame =
    Dedup.sourceMinhashOverlap(Tables.documents(s, d), "doc_id", "source", "text")
      .orderBy("src_a", "src_b")

  /** q119 perceptual image dedup
    * ([[graft.llm.Multimodal.imageHashBuckets]]): deterministic PNG
    * payloads (7 patterns over the documents table, odd ids uniformly
    * brightness-shifted so they are byte-distinct), executor-side
    * aHash, one aggregation for the duplicate buckets.
    *
    * Oracle (round 10 — closes the suite's last rows-only gate): the
    * PNG decode itself is not SQL-expressible, but the fixture makes
    * the aHash a pure function of `doc_id % 7` (the brightness shift
    * is exactly the invariance aHash provides), so the oracle embeds
    * the 7 hash constants — computed by an INDEPENDENT replay of the
    * generator formula + aHash spec (8×8 nearest-center sample, luma
    * = v on greyscale, bit iff v·64 > Σv; tools/q119_ahash_oracle.py)
    * — and replays the bucket/group/filter stage in SQL. A decode or
    * hash regression changes the Spark values and breaks the
    * hash-match, so the full pipeline is gated, not just the
    * aggregation. Pixel-level decode edge cases stay spec-gated in
    * LlmSpec.
    */
  def q119(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    Multimodal.imageHashBuckets(
        Multimodal.syntheticPngMedia(Tables.documents(s, d)))
      .orderBy("ahash")
  }

  /** q118 normalization-aware dedup
    * ([[graft.llm.Dedup.normalizedDedup]]): the corpus doubled with
    * uppercased/punctuated copies (`UPPER(text) + " !!"`) — byte-exact
    * q45 dedup cannot pair them, the canonical-form hash pairs every
    * constructed copy with its original. Same one-aggregation plan as
    * exact dedup.
    */
  def q118(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val u = docs.unionByName(docs.select(
      (col("doc_id") + 1000000).as("doc_id"),
      concat(upper(col("text")), lit(" !!")).as("text")))
    Dedup.normalizedDedup(u, "doc_id", "text")
      .filter(col("n_copies") > 1)
      .orderBy("h")
  }

  /** q117 fuzzy decontamination
    * ([[graft.llm.Dedup.minhashCrossMatch]]): MinHash-banded train
    * (even ids) × benchmark (odd ids) join, exact-Jaccard verified at
    * 0.5 — the paraphrase-leak complement to q89's exact n-gram
    * check. One row per contaminated train doc with match count, best
    * Jaccard, and the argmax benchmark id (relational tie-break the
    * oracle replays).
    */
  def q117(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Dedup.minhashCrossMatch(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", threshold = 0.5)
      .select(col("id_t").as("doc_id"), col("n_matches"),
        col("max_jaccard"), col("bench_id"))
      .orderBy("doc_id")
  }

  /** q116 sparse TF-IDF cosine near-dup join
    * ([[graft.llm.Retrieval.tfidfCosinePairs]]): trigram terms,
    * df ≤ 50 stop-gram cap, cosine ≥ 0.5 — documents meet ONLY
    * through the inverted index, never all-pairs. Fixed-point idf
    * keeps every sum exact; the oracle replays the identical
    * weighting and join.
    */
  def q116(s: SparkSession, d: String): DataFrame =
    Retrieval.tfidfCosinePairs(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        n = 3, maxDf = 50, threshold = 0.5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("cosine"))
      .orderBy("doc_a", "doc_b")

  /** q113 Bloom-filter membership pre-filter: a 4096-bit / 3-hash
    * Bloom built over the even-id half of the corpus (md5 text keys,
    * [[graft.llm.Dedup.bloomBits]]), probed by the odd-id half —
    * alongside the EXACT answer from the key join, so the result is
    * its own false-positive audit (maybe_seen ⊇ actually_seen, never
    * the reverse). The filter is a fixed-size broadcast regardless of
    * corpus size; the oracle rebuilds the identical bit set.
    */
  def q113(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val seen = docs.filter(col("doc_id") % 2 === 0).select(md5(col("text")).as("key"))
    val probes = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), md5(col("text")).as("key"))
    val bits = Dedup.bloomBits(seen, "key", numBits = 4096, numHashes = 3)
    Dedup.bloomProbe(probes, "key", bits, numBits = 4096, numHashes = 3)
      .join(broadcast(seen.distinct().withColumn("hit", lit(1))), Seq("key"), "left")
      .select(col("doc_id"),
        col("maybe_seen").cast("int").as("maybe_seen"),
        col("hit").isNotNull.cast("int").as("actually_seen"))
      .orderBy("doc_id")
  }

  /** q112 corpus duplicated-n-gram accounting: the 20 most-repeated
    * word 3-grams with occurrence and document counts
    * ([[graft.llm.Dedup.topDuplicatedGrams]] — the Lee et al.
    * analysis that motivates dedup). One shuffle on the gram key;
    * the top-k is a TakeOrderedAndProject, not a global sort.
    */
  def q112(s: SparkSession, d: String): DataFrame =
    Dedup.topDuplicatedGrams(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        n = 3, k = 20)
      .orderBy(col("n_occ").desc, col("gram"))

  /** q114 per-document duplicated-gram mass (Gopher repetition
    * signal, [[graft.llm.TextAnalysis.dupGramStats]]): fraction of a
    * doc's 2-gram occurrences (and their char mass) belonging to
    * grams repeated within the doc. Short docs report zero.
    */
  def q114(s: SparkSession, d: String): DataFrame =
    TextAnalysis.dupGramStats(
        Tables.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        n = 2)
      .select(col("id").as("doc_id"), col("n_grams"),
        col("dup_gram_frac"), col("dup_char_frac"))
      .orderBy("doc_id")

  /** q52 multimodal plumbing: binary payloads through the stub
    * feature extractor (typed mapPartitions path).
    */
  def q52(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    Multimodal.extractFeatures(Multimodal.syntheticMedia(Tables.documents(s, d)))
      .toDF().orderBy("media_id")
  }

  /** q64 embedding-cosine near-dup: corpus doubled with exactly-scaled
    * copies (cosine 1 with their originals, same hyperplane bucket —
    * float ×2 is exact in any engine), bucketed candidate pairs, exact
    * cosine verify. Finds precisely the 500 constructed pairs (max
    * natural pairwise cosine in the fixture is 0.51).
    */
  def q64(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
    // original + scaled copy from ONE scan (a union of two selects
    // reads the parquet once per branch)
    val doubled = emb.select(explode(array(
        struct(col("vec_id"), col("embedding")),
        struct((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))).as("r"))
      .select(col("r.vec_id").as("vec_id"), col("r.embedding").as("embedding"))
    // 8 planes → 256 buckets: candidate volume drops ~16× vs 4 planes
    // with identical recall for scaled copies (every sign bit preserved)
    Similarity.cosineNearDupPairs(doubled, threshold = 0.99, planes = 8)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q42_text_metrics" -> q42 _,
    "q43_text_langid" -> q43 _,
    "q44_text_fingerprint" -> q44 _,
    "q69_text_repetition" -> q69 _,
    "q45_dedup_exact" -> q45 _,
    "q46_dedup_prefix" -> q46 _,
    "q47_dedup_minhash" -> q47 _,
    "q70_dedup_clusters" -> q70 _,
    "q48_dedup_simhash" -> q48 _,
    "q75_dedup_ngram" -> q75 _,
    "q49_ann_brute" -> q49 _,
    "q50_ann_lsh" -> q50 _,
    "q51_ann_buckets" -> q51 _,
    "q79_ann_ivf" -> q79 _,
    "q84_ann_batch_brute" -> q84 _,
    "q85_ann_batch_ivf" -> q85 _,
    "q103_ann_ivf_at_rest" -> q103 _,
    "q86_ann_batch_lsh" -> q86 _,
    "q52_multimodal_features" -> q52 _,
    "q64_dedup_embed" -> q64 _,
    "q76_quality_filter" -> q76 _,
    "q77_sample_mix" -> q77 _,
    "q88_sample_take" -> q88 _,
    "q89_decontaminate" -> q89 _,
    "q90_pii_scrub" -> q90 _,
    "q91_source_mix" -> q91 _,
    "q93_quantize_int8" -> q93 _,
    "q94_substring_dup" -> q94 _,
    "q95_pack_bins" -> q95 _,
    "q96_bm25_topk" -> q96 _,
    "q98_unigram_logprob" -> q98 _,
    "q99_group_centroids" -> q99 _,
    "q100_curation_pipeline" -> q100 _,
    "q107_pair_merges" -> q107 _,
    "q108_matryoshka" -> q108 _,
    "q109_vocab_oov" -> q109 _,
    "q110_chunk_windows" -> q110 _,
    "q111_ppl_buckets" -> q111 _,
    "q112_top_dup_grams" -> q112 _,
    "q113_bloom_prefilter" -> q113 _,
    "q114_dup_gram_mass" -> q114 _,
    "q116_tfidf_pairs" -> q116 _,
    "q117_fuzzy_decontaminate" -> q117 _,
    "q118_normalized_dedup" -> q118 _,
    "q119_image_hash_dedup" -> q119 _,
    "q120_temperature_mix" -> q120 _,
    "q121_hashed_classifier" -> q121 _,
    "q122_knn_graph" -> q122 _,
    "q123_semantic_prune" -> q123 _,
    "q124_cms_audit" -> q124 _,
    "q125_hll_distinct" -> q125 _,
    "q126_rank_auc" -> q126 _,
    "q127_token_budget" -> q127 _,
    "q128_dsir_weights" -> q128 _,
    "q129_curriculum_order" -> q129 _,
    "q130_token_entropy" -> q130 _,
    "q132_bigram_backoff" -> q132 _,
    "q133_html_extract" -> q133 _,
    "q134_length_quantiles" -> q134 _,
    "q135_hash_split" -> q135 _,
    "q136_lsh_calibration" -> q136 _,
    "q137_paragraph_dedup" -> q137 _,
    "q138_lsh_ingest" -> q138 _,
    "q139_concat_chunks" -> q139 _,
    "q140_heavy_hitters" -> q140 _,
    "q141_snapshot_diff" -> q141 _,
    "q142_mad_outliers" -> q142 _,
    "q143_semantic_decontam" -> q143 _,
    "q144_gram_novelty" -> q144 _,
    "q145_bucketed_dedup" -> q145 _,
    "q146_cluster_split" -> q146 _,
    "q147_target_mixture" -> q147 _,
    "q148_ann_recall" -> q148 _,
    "q149_vocab_coverage" -> q149 _,
    "q150_dimension_audit" -> q150 _,
    "q151_source_dup_matrix" -> q151 _,
    "q152_batch_shapes" -> q152 _,
    "q153_materialized_recipe" -> q153 _,
    "q154_winnow_matches" -> q154 _,
    "q155_triplet_mine" -> q155 _,
    "q156_source_minhash_overlap" -> q156 _,
    "q157_dedup_savings" -> q157 _,
    "q158_lloyd_kmeans" -> q158 _,
    "q159_calibration_buckets" -> q159 _,
    "q160_chunk_stitch" -> q160 _,
    "q161_quality_canonical" -> q161 _,
    "q162_hamming_neardup" -> q162 _,
    "q165_distribution_drift" -> q165 _,
    "q166_encoding_health" -> q166 _,
    "q168_tokenizer_fertility" -> q168 _,
    "q169_sorted_neighbors" -> q169 _,
    "q170_edit_verified" -> q170 _,
    "q171_family_matrix" -> q171 _,
    "q172_curation_funnel" -> q172 _,
    "q174_exact_substrings" -> q174 _,
    "q175_bm25_batch" -> q175 _,
    "q176_hybrid_rrf" -> q176 _,
    "q177_containment_pairs" -> q177 _,
    "q178_bpe_train" -> q178 _,
    "q179_langid_confusion" -> q179 _,
    "q180_ann_ndcg" -> q180 _,
    "q181_chunk_spans" -> q181 _,
    "q182_bottomk_quantiles" -> q182 _,
    "q183_boilerplate_strip" -> q183 _,
    "q184_lexicon_tag" -> q184 _,
    "q185_lexicon_term_stats" -> q185 _,
    "q186_zipf_fit" -> q186 _,
    "q187_classifier_kappa" -> q187 _,
    "q188_pq_encode" -> q188 _,
    "q189_pq_audit" -> q189 _,
    "q190_pq_adc_topk" -> q190 _,
    "q191_pmi_collocations" -> q191 _,
    "q192_ivf_pq_topk" -> q192 _,
    "q193_pq_recall" -> q193 _,
    "q194_knn_pagerank" -> q194 _,
    "q195_ivf_pq_residual" -> q195 _,
    "q196_ivf_pq_at_rest" -> q196 _,
    "q197_bpe_train_sampled" -> q197 _,
    "q198_lsh_hot_star" -> q198 _,
    "q199_matryoshka_topk" -> q199 _,
    "q200_sq8_topk" -> q200 _,
    "q201_ivf_pq_append" -> q201 _,
    "q202_margin_mining" -> q202 _,
    "q203_bpe_encode" -> q203 _,
    "q204_rotated_pq" -> q204 _,
    "q205_jl_distortion" -> q205 _,
    "q206_softdedup_weights" -> q206 _,
    "q207_farthest_first" -> q207 _,
    "q208_lsh_at_rest" -> q208 _,
    "q209_lsh_append" -> q209 _,
    "q210_lsh_compact" -> q210 _,
    "q211_ivf_rebalance" -> q211 _,
    "q212_stream_dedup" -> q212 _,
    "q213_viral_substring" -> q213 _,
    "q214_giant_cluster" -> q214 _,
    "q215_viral_exact" -> q215 _,
    "q217_bm25_at_rest" -> q217 _,
    "q218_bm25_delete" -> q218 _,
    "q219_weighted_take" -> q219 _,
    "q220_k_anonymity" -> q220 _,
    "q221_trigram_backoff" -> q221 _,
    "q222_cdc_chunks" -> q222 _,
    "q223_bpe_at_rest" -> q223 _,
    "q224_banding_scurve" -> q224 _,
    "q225_robust_stats" -> q225 _,
    "q226_cdc_store" -> q226 _,
    "q227_stream_cdc" -> q227 _,
    "q228_lsh_takedown" -> q228 _,
    "q229_ivfpq_takedown" -> q229 _,
    "q230_winnow_at_rest" -> q230 _,
    "q231_stream_bm25" -> q231 _,
    "q238_stream_ivfpq" -> q238 _,
    "q239_stream_winnow" -> q239 _,
    "q240_cdc_reconstruct" -> q240 _,
    "q241_cdc_takedown" -> q241 _,
    "q242_cdc_compact" -> q242 _,
  )

  // ---------------- DuckDB oracles ----------------

  /** Non-empty whitespace tokens (matches TextAnalysis.tokensCol). */
  private val toksExpr = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"

  /** The q222/q226 CDC chunk chain over a docs relation (`doc_id`,
    * `text`): boundary positions (16-char window md5 ≡ 0 mod 64),
    * chunk spans via LEAD over the cut rows, 60-bit chunk hashes —
    * produces `${pre}chunks (id, start, len, h)`. Mirrors
    * [[graft.functions.TextKernels.cdcChunks]] exactly.
    */
  private def cdcChunksCte(srcRel: String, pre: String): String =
    s"""${pre}docs AS (SELECT doc_id AS id, text, CAST(length(text) AS BIGINT) AS n FROM $srcRel),
       |${pre}pos AS (SELECT id, text, unnest(range(1, greatest(n - 14, 1))) AS i FROM ${pre}docs),
       |${pre}cuts AS (
       |  SELECT id, i + 15 AS cutend FROM ${pre}pos
       |  WHERE CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 16)), 1, 15) AS BIGINT) % 64 = 0),
       |${pre}b AS (SELECT id, cutend FROM ${pre}cuts UNION ALL SELECT id, 0 AS cutend FROM ${pre}docs WHERE n > 0),
       |${pre}ch AS (
       |  SELECT b.id, b.cutend + 1 AS start,
       |         COALESCE(LEAD(b.cutend) OVER (PARTITION BY b.id ORDER BY b.cutend), d.n) AS chend
       |  FROM ${pre}b b JOIN ${pre}docs d ON b.id = d.id),
       |${pre}chunks AS (
       |  SELECT ch.id, ch.start, ch.chend - ch.start + 1 AS len,
       |         CAST('0x' || substr(md5(substr(d.text, CAST(ch.start AS INTEGER),
       |           CAST(ch.chend - ch.start + 1 AS INTEGER))), 1, 15) AS BIGINT) AS h
       |  FROM ${pre}ch ch JOIN ${pre}docs d ON ch.id = d.id WHERE ch.chend >= ch.start)""".stripMargin

  /** The q226/q227 chunk-store ledger replay: the seeded three-batch
    * split, all three chunk chains, the store-growth algebra (new =
    * distinct chunks anti prior store), and the cumulative fixed-point
    * ledger. Shared verbatim by the batch-built (q226) and stream-built
    * (q227) stores - the streaming face must serve the identical census.
    */
  private lazy val cdcStoreOracle: String =
    s"""WITH seeded AS (SELECT doc_id, CASE WHEN doc_id < 150 THEN '$ViralHeader' ELSE text END AS text FROM documents),
         |b0 AS (SELECT doc_id, text FROM seeded WHERE doc_id % 5 < 3),
         |b1 AS (SELECT doc_id, text FROM seeded WHERE doc_id % 5 = 3),
         |b2 AS (SELECT doc_id, text FROM seeded WHERE doc_id % 5 = 4),
         |${cdcChunksCte("b0", "x")},
         |${cdcChunksCte("b1", "y")},
         |${cdcChunksCte("b2", "z")},
         |d0 AS (SELECT DISTINCT h, len FROM xchunks),
         |d1 AS (SELECT DISTINCT h, len FROM ychunks),
         |d2 AS (SELECT DISTINCT h, len FROM zchunks),
         |n1 AS (SELECT h, len FROM d1 ANTI JOIN d0 USING (h, len)),
         |s1 AS (SELECT h, len FROM d0 UNION ALL SELECT h, len FROM n1),
         |n2 AS (SELECT h, len FROM d2 ANTI JOIN s1 USING (h, len)),
         |led AS (
         |  SELECT 0 AS batch,
         |         (SELECT COALESCE(SUM(len), 0) FROM xchunks) AS raw_chars,
         |         (SELECT COUNT(*) FROM d0) AS n_new_chunks,
         |         (SELECT COALESCE(SUM(len), 0) FROM d0) AS new_chars
         |  UNION ALL
         |  SELECT 1, (SELECT COALESCE(SUM(len), 0) FROM ychunks),
         |         (SELECT COUNT(*) FROM n1), (SELECT COALESCE(SUM(len), 0) FROM n1)
         |  UNION ALL
         |  SELECT 2, (SELECT COALESCE(SUM(len), 0) FROM zchunks),
         |         (SELECT COUNT(*) FROM n2), (SELECT COALESCE(SUM(len), 0) FROM n2)),
         |c AS (SELECT batch, raw_chars, n_new_chunks, new_chars,
         |        SUM(raw_chars) OVER (ORDER BY batch) AS cum_raw,
         |        SUM(new_chars) OVER (ORDER BY batch) AS cum_stored
         |      FROM led)
         |SELECT CAST(batch AS INTEGER) AS batch,
         |       CAST(raw_chars AS BIGINT) AS raw_chars,
         |       CAST(n_new_chunks AS BIGINT) AS n_new_chunks,
         |       CAST(new_chars AS BIGINT) AS new_chars,
         |       CAST(cum_raw AS BIGINT) AS cum_raw,
         |       CAST(cum_stored AS BIGINT) AS cum_stored,
         |       CAST(CASE WHEN cum_raw > 0 THEN (cum_stored * 1048576) // cum_raw
         |            ELSE 0 END AS BIGINT) AS stored_fp
         |FROM c ORDER BY batch""".stripMargin

  /** Batched-BM25 replay over a corpus subset — the shared oracle body
    * for the at-rest postings-index queries (q217 append, q218
    * tombstone-delete + compact): tokenization, rational idf, and
    * floor-2²⁰ fixed-point contribution sums exactly as in
    * [[graft.llm.Retrieval.bm25ProbeAtRest]]; ranks window per qid.
    * The at-rest layout (bucketed postings, stats delta rows,
    * tombstones) is oracle-invisible by design — any maintenance
    * history must serve the same answer as this from-scratch replay.
    */
  private def bm25BatchOracle(corpusWhere: String, queryRows: String,
                              extraExpr: String = ""): String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE $corpusWhere),
       |qt(qid, s) AS (VALUES $queryRows),
       |tok AS (SELECT doc_id AS id, unnest($toksExpr) AS s FROM corpus),
       |tf AS (SELECT id, s, COUNT(*) AS tf FROM tok GROUP BY id, s),
       |dl AS (SELECT id, SUM(tf) AS dl FROM tf GROUP BY id),
       |g AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
       |qs AS (SELECT DISTINCT s FROM qt),
       |dft AS (SELECT s, COUNT(*) AS df FROM tf SEMI JOIN qs USING (s) GROUP BY s),
       |sc AS (
       |  SELECT q.qid, tf.id,
       |    CAST(floor(
       |      ((g.n_docs - d.df + 0.5) / (d.df + 0.5))
       |      * (tf.tf * (1.2 + 1.0))
       |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
       |                        / (CAST(g.tot AS DOUBLE) / g.n_docs)))
       |      * 1048576.0) AS BIGINT) AS fp
       |  FROM tf JOIN dl USING (id) JOIN dft d USING (s)
       |       JOIN qt q USING (s) CROSS JOIN g),
       |agg AS (SELECT qid, id, SUM(fp) AS score_fp, COUNT(*) AS n_terms_hit
       |        FROM sc GROUP BY qid, id),
       |rk AS (SELECT qid, id, score_fp, n_terms_hit,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY score_fp DESC, id) AS rank
       |       FROM agg)
       |SELECT CAST(qid AS BIGINT) AS qid, id AS doc_id,
       |       CAST(score_fp AS DOUBLE) / 1048576.0 AS score,
       |       CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
       |       CAST(rank AS INTEGER) AS rank$extraExpr
       |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** Word-3-gram distinct shingles (matches Dedup.shinglesCol; both
    * engines 1-index arrays and skip NULLs in concat_ws).
    */
  private def shinglesCteFrom(src: String, p: String = ""): String =
    s"""${p}sh0 AS (
       |  SELECT doc_id, $toksExpr AS w FROM $src),
       |${p}sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
       |           i -> concat_ws(' ', w[CAST(i AS INTEGER)], w[CAST(i AS INTEGER) + 1], w[CAST(i AS INTEGER) + 2]))) AS sh
       |  FROM ${p}sh0)""".stripMargin

  private val shinglesCte = shinglesCteFrom("documents")

  /** In-order double fold of a list (matches Spark's aggregate()). */
  private def foldSum(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $listExpr), (acc, x) -> acc + x)"

  /** Shared PQ replay of q188/q189 (the q158 Lloyd recipe with `sub`
    * folded into every key): 4 subspaces × 16 dims, k = 8, one
    * fixed-point update round, then the final assignment rows
    * (vec_id, sub, c, d_fp) exposed as `a2c` for the query-specific
    * SELECT.
    */
  private def pqOracle(select: String, extraCtes: String = ""): String =
    s"WITH $pqCtes$extraCtes\n$select"

  /** The q188/q189/q190/q192 PQ replay CTE chain (no WITH prefix):
    * 4 subspaces × 16 dims, k = 8, one fixed-point update round,
    * ending in `a2c` (vec_id, sub, c, d_fp) with the trained
    * codebooks exposed as `cl` (sub, cents).
    */
  private lazy val pqCtes: String = pqCtesFrom("embeddings")

  /** [[pqCtes]] over an arbitrary (vec_id, embedding) source — q195
    * trains on the RESIDUAL table instead of the raw corpus.
    */
  private def pqCtesFrom(src: String): String = pqCtesTrainAssign(src, src)

  /** [[pqCtes]] with SEPARATE train and assign sources — q201's
    * frozen-codebook append: the Lloyd fit sees only `trainSrc`, the
    * final assignment encodes `assignSrc` (base ∪ appended) under
    * those frozen centroids. `p` prefixes every CTE name, so q204
    * can run TWO independent trainings (plain + rotated) in one
    * statement without name collisions.
    */
  private def pqCtesTrainAssign(trainSrc: String, assignSrc: String,
                                p: String = ""): String = {
    // init centroid component for (sub, c, i): matches pqAssign's init
    val cv0 = "(CAST(((c * 37 + (CAST(i AS INTEGER) - 1) * 13 + sub * 7) % 41 - 20) AS DOUBLE) / 10.0)"
    def vd(i: String) = s"CAST(v[CAST($i AS INTEGER)] AS DOUBLE)"
    val distInit = foldSum(
      s"list_transform(range(1, 17), i -> (${vd("i")} - $cv0) * (${vd("i")} - $cv0))")
    val distUpd = foldSum(
      s"list_transform(range(1, 17), i -> (${vd("i")} - cv[CAST(i AS INTEGER)]) * (${vd("i")} - cv[CAST(i AS INTEGER)]))")
    s"""${p}subs AS (SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS sub),
       |${p}sv AS (SELECT e.vec_id, s.sub,
       |         e.embedding[s.sub*16+1 : s.sub*16+16] AS v
       |       FROM $trainSrc e CROSS JOIN ${p}subs s),
       |${p}sva AS (SELECT e.vec_id, s.sub,
       |         e.embedding[s.sub*16+1 : s.sub*16+16] AS v
       |       FROM $assignSrc e CROSS JOIN ${p}subs s),
       |${p}a1 AS (SELECT vec_id, sub, v,
       |         list_transform(range(0, 8), c -> $distInit) AS dists
       |       FROM ${p}sv),
       |${p}a1c AS (SELECT vec_id, sub, v,
       |         CAST(list_position(dists, list_aggregate(dists, 'min')) - 1 AS INTEGER) AS c
       |       FROM ${p}a1),
       |${p}mm AS (SELECT sub, c, i AS dim, COUNT(*) AS n,
       |         SUM(CAST(FLOOR(${vd("i")} * 1048576.0) AS BIGINT)) AS s
       |       FROM ${p}a1c CROSS JOIN (SELECT unnest(range(1, 17)) AS i)
       |       GROUP BY sub, c, i),
       |${p}m2 AS (SELECT sub, c, dim, CAST(s AS DOUBLE) / 1048576.0 / n AS mn FROM ${p}mm),
       |${p}cent2 AS (SELECT sub, c, list(mn ORDER BY dim) AS cv FROM ${p}m2 GROUP BY sub, c),
       |${p}cl AS (SELECT sub, list(cv ORDER BY c) AS cents FROM ${p}cent2 GROUP BY sub),
       |${p}a2 AS (SELECT sva.vec_id, sva.sub,
       |         list_transform(cl.cents, cv -> $distUpd) AS dists
       |       FROM ${p}sva sva JOIN ${p}cl cl ON sva.sub = cl.sub),
       |${p}a2c AS (SELECT vec_id, sub,
       |         CAST(list_position(dists, list_aggregate(dists, 'min')) - 1 AS INTEGER) AS c,
       |         CAST(FLOOR(list_aggregate(dists, 'min') * 1048576.0) AS BIGINT) AS d_fp
       |       FROM ${p}a2)""".stripMargin
  }

  /** The q190/q192 query-side PQ lookup-table replay (no WITH
    * prefix): three query vectors (`qs`), their subvectors (`qsv`),
    * and the exact fixed-point distance of each to every trained PQ
    * centroid (`lut` — (qid, sub, c, d_fp)). Requires [[pqCtes]] in
    * scope for `subs`/`cl`.
    */
  private lazy val pqQueryLutCtes: String =
    """qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      |       WHERE vec_id < 3),
      |qsv AS (SELECT q.qid, s.sub, q.qv[s.sub*16+1 : s.sub*16+16] AS v
      |        FROM qs q CROSS JOIN subs s),
      |lut AS (SELECT q2.qid, q2.sub, cc.c,
      |          CAST(FLOOR(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(range(1, 17), i ->
      |              (CAST(q2.v[CAST(i AS INTEGER)] AS DOUBLE) - cl.cents[cc.c + 1][CAST(i AS INTEGER)])
      |              * (CAST(q2.v[CAST(i AS INTEGER)] AS DOUBLE) - cl.cents[cc.c + 1][CAST(i AS INTEGER)]))),
      |            (acc, x) -> acc + x) * 1048576.0) AS BIGINT) AS d_fp
      |        FROM qsv q2 JOIN cl ON q2.sub = cl.sub
      |        CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS c) cc)""".stripMargin

  /** The q192 coarse-quantizer replay (the q158 Lloyd recipe over
    * the FULL 64-dim vector — [[graft.llm.Similarity.pqCore]] with
    * m = 1, whose sub·7 phase is then 0): CTE chain ending in
    * `kcell` (vec_id, cell) with the trained coarse centroids as
    * `kcl` (cents). Names are k-prefixed to coexist with [[pqCtes]].
    */
  private lazy val coarseCtes: String = coarseCtesFrom("embeddings", "embeddings")

  /** [[coarseCtes]] with SEPARATE train and assign sources (q201's
    * frozen-codebook append — mirrors [[pqCtesTrainAssign]]).
    */
  private def coarseCtesFrom(trainSrc: String, assignSrc: String): String = {
    val cv0 = "(CAST(((c * 37 + (CAST(i AS INTEGER) - 1) * 13) % 41 - 20) AS DOUBLE) / 10.0)"
    def ed(i: String) = s"CAST(e.embedding[CAST($i AS INTEGER)] AS DOUBLE)"
    def vd(i: String) = s"CAST(v[CAST($i AS INTEGER)] AS DOUBLE)"
    val distInit = foldSum(
      s"list_transform(range(1, 65), i -> (${ed("i")} - $cv0) * (${ed("i")} - $cv0))")
    val distUpd = foldSum(
      s"list_transform(range(1, 65), i -> (${ed("i")} - cv[CAST(i AS INTEGER)]) * (${ed("i")} - cv[CAST(i AS INTEGER)]))")
    s"""ka1 AS (SELECT e.vec_id, e.embedding AS v,
       |          list_transform(range(0, 8), c -> $distInit) AS dists
       |        FROM $trainSrc e),
       |ka1c AS (SELECT vec_id, v,
       |          CAST(list_position(dists, list_aggregate(dists, 'min')) - 1 AS INTEGER) AS c
       |        FROM ka1),
       |kmm AS (SELECT c, i AS dim, COUNT(*) AS n,
       |          SUM(CAST(FLOOR(${vd("i")} * 1048576.0) AS BIGINT)) AS s
       |        FROM ka1c CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       |        GROUP BY c, i),
       |km2 AS (SELECT c, dim, CAST(s AS DOUBLE) / 1048576.0 / n AS mn FROM kmm),
       |kcent2 AS (SELECT c, list(mn ORDER BY dim) AS cv FROM km2 GROUP BY c),
       |kcl AS (SELECT list(cv ORDER BY c) AS cents FROM kcent2),
       |ka2 AS (SELECT e.vec_id, e.embedding AS v,
       |          list_transform(kcl.cents, cv -> $distUpd) AS dists
       |        FROM $assignSrc e CROSS JOIN kcl),
       |kcell AS (SELECT vec_id,
       |          CAST(list_position(dists, list_aggregate(dists, 'min')) - 1 AS INTEGER) AS cell
       |        FROM ka2)""".stripMargin
  }

  /** Dot product a·b over 64-dim FLOAT[] with per-element double casts. */
  private def dotExpr(a: String, b: String): String =
    foldSum(s"list_transform(range(1, 65), i -> CAST($a[CAST(i AS INTEGER)] AS DOUBLE) * CAST($b[CAST(i AS INTEGER)] AS DOUBLE))")

  /** Hyperplane LCG projection sign-bit sum (matches Similarity.bucketCol). */
  private def bucketExpr(vec: String, planes: Int): String =
    (0 until planes).map { j =>
      val proj = foldSum(
        s"list_transform(range(1, 65), i -> CAST($vec[CAST(i AS INTEGER)] AS DOUBLE) * " +
          s"CAST(($j * 2654435761 + (i - 1) * 40503) % 2001 - 1000 AS DOUBLE))")
      s"(CASE WHEN $proj >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** 16-bit simhash (matches Dedup.simhashCol): per-bit token votes by
    * the hex digit's MSB of each token's salted md5.
    */
  private val simhashExpr: String =
    (0 until 16).map { k =>
      val vote = s"list_sum(list_transform(toks, t -> CASE WHEN substr(md5(t), ${k + 1}, 1) >= '8' THEN 1 ELSE -1 END))"
      s"(CASE WHEN $vote >= 0 THEN CAST(${1L << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** q47's verified-pair pipeline (no terminal ORDER BY) — shared by
    * the q47 oracle and embedded as a CTE body by the q70 closure.
    */
  /** Shared shingle→sign→band CTE chain (no WITH keyword) — the
    * q47/q70 self-join and the q117 cross-corpus join both start
    * from this `banded` frame.
    */
  private def minhashBandedCteFrom(src: String, p: String = ""): String =
    s"""${shinglesCteFrom(src, p)},
       |${p}sig AS (
       |  -- universal hashing: one md5-derived base per shingle, k
       |  -- affine transforms (a_k x + b_k) mod p -- mirrors
       |  -- Dedup.minhashBaseCol/minhashAffineCol exactly (p = 2038074743)
       |  SELECT doc_id, sh,
       |         list_transform(range(0, 16),
       |           k -> list_aggregate(list_transform(sh,
       |             s -> ((1 + ((k * 2654435761) % 2038074742))
       |                     * (CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2038074743)
       |                   + ((k * 40503 + 17) % 2038074743)) % 2038074743), 'min')) AS sigs
       |  FROM ${p}sh),
       |${p}banded AS (
       |  SELECT doc_id, sh, CAST(b AS INTEGER) AS band,
       |         md5(CAST(sigs[CAST(b AS INTEGER) * 4 + 1] AS VARCHAR) || '|' || CAST(sigs[CAST(b AS INTEGER) * 4 + 2] AS VARCHAR) || '|'
       |             || CAST(sigs[CAST(b AS INTEGER) * 4 + 3] AS VARCHAR) || '|' || CAST(sigs[CAST(b AS INTEGER) * 4 + 4] AS VARCHAR)) AS bkey
       |  FROM ${p}sig CROSS JOIN range(0, 4) t(b))""".stripMargin

  // NOTE: concatenated, not interpolated — minhashBandedCte is already
  // margin-stripped, and a second stripMargin would eat the first pipe
  // of any continuation line starting with `||` (turning string concat
  // into bitwise-or in the oracle).
  // Mirrors Dedup.minhashLsh's hot-bucket guard (maxBucket = 64):
  // buckets over the cap pair every member with the bucket minimum
  // (star), the rest pair all-vs-all (clique). Dormant on the
  // fixtures (worst bucket = 2) but kept in the oracle so the cap
  // semantics stay oracle-gated.
  private val minhashBandedCte: String = minhashBandedCteFrom("documents")

  private val minhashPairsBody: String =
    """hot AS (
       |  SELECT band, bkey FROM banded GROUP BY band, bkey HAVING COUNT(*) > 64),
       |cool AS (SELECT * FROM banded ANTI JOIN hot USING (band, bkey)),
       |clique AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
       |  FROM cool a JOIN cool b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.doc_id < b.doc_id),
       |star0 AS (
       |  SELECT MIN(doc_id) OVER (PARTITION BY band, bkey) AS id_a,
       |         doc_id AS id_b
       |  FROM banded SEMI JOIN hot USING (band, bkey)),
       |star AS (
       |  SELECT s.id_a, s.id_b, sa.sh AS sh_a, sb.sh AS sh_b
       |  FROM star0 s
       |  JOIN sig sa ON sa.doc_id = s.id_a
       |  JOIN sig sb ON sb.doc_id = s.id_b
       |  WHERE s.id_a <> s.id_b),
       |pairs AS (
       |  SELECT DISTINCT id_a, id_b, sh_a, sh_b FROM
       |    (SELECT * FROM clique UNION ALL SELECT * FROM star))
       |SELECT id_a, id_b,
       |       CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
       |         / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
       |FROM pairs
       |WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
       |        / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.5""".stripMargin

  private def minhashPairsSqlFrom(src: String, pre: String = ""): String =
    s"WITH $pre${minhashBandedCteFrom(src)},\n" + minhashPairsBody

  /** The 300-doc corpus-wide license-header fixture of q213 — long
    * enough (> k=32 chars) that every seeded doc shares a run of
    * 32-char windows with 299 others.
    */
  private val ViralHeader: String =
    "licensed under the apache license version two point zero you may " +
    "not use this file except in compliance with the license obtain a " +
    "copy at the usual location unless required by applicable law"

  /** q123's kNN-graph + recursive-CC replay, parametrized by source
    * relation (q214 runs it over the giant-cluster seeded corpus).
    */
  private def semanticPruneOracle(src: String, pre: String = "",
                                  maxBucket: Option[Int] = None): String = {
    // the knnGraph hub cap replay: over-cap buckets keep every id_a
    // but sample the id_b side by the md5 hash threshold
    val capFilter = maxBucket.map(c =>
      s"""
         |  JOIN bsz z ON b.bucket = z.bucket
         |  WHERE z.bn <= $c OR CAST('0x' || substr(md5(CAST(b.id AS VARCHAR)), 1, 15) AS BIGINT)
         |          / 1152921504606846976.0 * z.bn < $c""".stripMargin)
      .getOrElse("")
    val bszCte = if (maxBucket.isDefined)
      "bsz AS (SELECT bucket, COUNT(*) AS bn FROM bucketed GROUP BY bucket),\n"
    else ""
    s"""WITH RECURSIVE ${pre}bucketed AS (
       |  SELECT vec_id AS id, embedding AS vec, ${bucketExpr("embedding", 4)} AS bucket,
       |         SQRT(${dotExpr("embedding", "embedding")}) AS nrm
       |  FROM $src),
       |${bszCte}pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         ${dotExpr("a.vec", "b.vec")} / (a.nrm * b.nrm) AS c
       |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.id <> b.id$capFilter),
       |ranked AS (
       |  SELECT id_a, id_b, c,
       |         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY c DESC, id_b) AS rn
       |  FROM pairs),
       |und AS (
       |  SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
       |  FROM ranked WHERE rn <= 3 AND c >= 0.3),
       |edges AS (SELECT u AS src, v AS dst FROM und
       |          UNION ALL SELECT v, u FROM und),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, lab) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
       |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
       |lab AS (
       |  SELECT a.vec_id, COALESCE(c.cluster_id, a.vec_id) AS cluster_id
       |  FROM $src a LEFT JOIN cl c ON c.id = a.vec_id)
       |SELECT vec_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS keep
       |FROM lab ORDER BY vec_id""".stripMargin
  }

  /** q206's soft-dedup replay, parametrized by source relation (q215
    * runs it over the viral-exact-dup seeded corpus).
    */
  private def softDedupOracle(src: String, pre: String = ""): String =
    s"""WITH ${pre}t AS (SELECT doc_id, source, md5(text) AS ck,
       |       CAST(len($toksExpr) AS BIGINT) AS n_toks FROM $src),
       |w AS (SELECT source, ck, n_toks,
       |       COUNT(*) OVER (PARTITION BY ck) AS c_n FROM t),
       |w2 AS (SELECT source, ck, n_toks, 1000000 // c_n AS w_fp FROM w)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_contents,
       |       CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
       |       CAST(SUM(n_toks * w_fp) AS BIGINT) AS eff_tokens_fp
       |FROM w2 GROUP BY source ORDER BY source""".stripMargin

  /** q94's substring-window replay, parametrized by source relation
    * (q213 runs it over the viral-header seeded corpus).
    */
  private def substringDupOracle(src: String, pre: String = ""): String =
    s"""WITH ${pre}w0 AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, greatest(length(text) - 31, 1) + 1, 8),
       |    i -> CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 32)), 1, 15) AS BIGINT))) AS ws
       |  FROM $src),
       |w AS (SELECT doc_id, unnest(ws) AS h FROM w0),
       |c AS (SELECT h, COUNT(*) AS n_docs_with FROM w GROUP BY h),
       |agg AS (
       |  SELECT w.doc_id, COUNT(*) AS n_windows,
       |         SUM(CASE WHEN c.n_docs_with > 1 THEN 1 ELSE 0 END) AS n_shared
       |  FROM w JOIN c USING (h) GROUP BY w.doc_id)
       |SELECT doc_id, n_windows, CAST(n_shared AS BIGINT) AS n_shared,
       |       CAST(n_shared AS DOUBLE) / n_windows AS shared_frac
       |FROM agg ORDER BY doc_id""".stripMargin

  private val minhashPairsSql: String = minhashPairsSqlFrom("documents")

  /** The q178/q197 BPE-trainer replay: three unrolled merge rounds —
    * pair statistics, (cnt DESC, l, r) argmax, greedy leftmost
    * `list_reduce` rewrite — over `src`, a relation exposing one `w`
    * (VARCHAR[] symbol list) column per document. `pre` prepends
    * extra CTEs (q197's deterministic sample). One greedy leftmost
    * merge round as a list_reduce fold: the accumulator is the
    * rewritten symbol list; a symbol merged this round (carrying an
    * internal space, strictly longer than l) never re-matches as the
    * left side within the same round — identical semantics to the
    * engine's bpe_merge kernel scan.
    */
  /** One greedy leftmost BPE merge round as a `list_reduce` fold over
    * the `w` symbol-list column (shared by the train and encode
    * oracles — see [[bpeTrainOracle]] for the semantics argument).
    */
  private def bpeMergeExpr(l: String, r: String): String =
    s"""list_reduce(
       |  list_prepend(CAST([] AS VARCHAR[]), list_transform(w, x -> [x])),
       |  (acc, x) -> CASE
       |    WHEN len(acc) > 0 AND acc[-1] = $l AND x[1] = $r
       |    THEN list_append(list_slice(acc, 1, len(acc) - 1),
       |                     concat($l, ' ', $r))
       |    ELSE list_append(acc, x[1]) END)""".stripMargin

  /** Adjacent symbol pairs of every `w` row in `s0`. */
  private def bpePairsOf(s0: String): String =
    s"""SELECT struct_extract(s, 'l') AS l, struct_extract(s, 'r') AS r
       |  FROM (SELECT unnest(list_transform(range(1, len(w)),
       |    i -> {'l': w[CAST(i AS INTEGER)],
       |          'r': w[CAST(i AS INTEGER) + 1]})) AS s FROM $s0)""".stripMargin

  /** The trainer's merge pick: (count DESC, l, r) — a total order. */
  private def bpeArgmax(s0: String): String =
    s"""SELECT l, r, CAST(COUNT(*) AS BIGINT) AS cnt FROM $s0
       |  GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1""".stripMargin

  private def bpeTrainOracle(pre: String, src: String): String = {
    def mergeExpr(l: String, r: String): String = bpeMergeExpr(l, r)
    def pairsOf(s0: String): String = bpePairsOf(s0)
    def argmax(s0: String): String = bpeArgmax(s0)
    s"""WITH ${pre}w1 AS (SELECT w FROM $src
       |            WHERE len(w) > 1),
       |p1 AS (${pairsOf("w1")}),
       |m1 AS (${argmax("p1")}),
       |w2 AS (SELECT ${mergeExpr("m1.l", "m1.r")} AS w
       |       FROM w1 CROSS JOIN m1),
       |p2 AS (${pairsOf("w2")}),
       |m2 AS (${argmax("p2")}),
       |w3 AS (SELECT ${mergeExpr("m2.l", "m2.r")} AS w
       |       FROM w2 CROSS JOIN m2),
       |p3 AS (${pairsOf("w3")}),
       |m3 AS (${argmax("p3")})
       |SELECT 1 AS "round", l AS lhs, r AS rhs, cnt AS pair_count FROM m1
       |UNION ALL SELECT 2, l, r, cnt FROM m2
       |UNION ALL SELECT 3, l, r, cnt FROM m3
       |ORDER BY "round"""".stripMargin
  }

  private val baseOracles: Map[String, String] = Map(
    "q121_hashed_classifier" ->
      s"""WITH t AS (SELECT doc_id AS id, $toksExpr AS w FROM documents),
         |uni AS (SELECT id, unnest(w) AS s FROM t),
         |big AS (
         |  SELECT id, unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
         |    i -> concat_ws(' ', w[CAST(i AS INTEGER)], w[CAST(i AS INTEGER) + 1]))) AS s
         |  FROM t),
         |grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
         |gb AS (
         |  SELECT id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 1024 AS b
         |  FROM grams),
         |wt AS (
         |  SELECT range AS b,
         |         CAST('0x' || substr(md5(CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
         |           % 2097153 - 1048576 AS w_fp
         |  FROM range(0, 1024)),
         |agg AS (
         |  SELECT id, COUNT(*) AS n_grams, SUM(w_fp) AS sum_fp
         |  FROM gb JOIN wt USING (b) GROUP BY id)
         |SELECT id AS doc_id, n_grams, CAST(sum_fp AS BIGINT) AS sum_fp,
         |       CAST(sum_fp AS DOUBLE) / 1048576.0 / n_grams AS mean_w,
         |       CASE WHEN sum_fp >= 0 THEN 1 ELSE 0 END AS keep
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q123_semantic_prune" -> semanticPruneOracle("embeddings"),

    // q214: q123's exact replay over the GIANT-CLUSTER corpus (every
    // vec_id % 3 == 0 rewritten to a constant vector — pairwise
    // cosine exactly 1, one cluster holding a third of the corpus) —
    // the adversarial bench fixture for the de-skewed cluster sizing
    "q214_giant_cluster" -> semanticPruneOracle("semb",
      """semb AS (SELECT vec_id,
        |  CASE WHEN vec_id % 3 = 0
        |    THEN list_transform(range(1, 65), i ->
        |      CAST(0.5 + CAST(vec_id % 5 AS DOUBLE) * 0.01 AS FLOAT))
        |    ELSE embedding END AS embedding
        |  FROM embeddings),
        |""".stripMargin,
      maxBucket = Some(64)),

    "q124_cms_audit" ->
      s"""WITH tok AS (SELECT unnest($toksExpr) AS tok FROM documents),
         |ex AS (SELECT tok, COUNT(*) AS exact FROM tok GROUP BY tok),
         |rws AS (SELECT range AS r FROM range(0, 4)),
         |sk0 AS (
         |  SELECT r,
         |         CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15) AS BIGINT) % 256 AS b,
         |         exact AS cnt
         |  FROM ex CROSS JOIN rws),
         |sketch AS (SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS cnt FROM sk0 GROUP BY r, b),
         |top AS (SELECT tok, exact FROM ex ORDER BY exact DESC, tok LIMIT 20),
         |probe AS (
         |  SELECT tok, exact, r,
         |         CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15) AS BIGINT) % 256 AS b
         |  FROM top CROSS JOIN rws),
         |est AS (
         |  SELECT p.tok, p.exact, MIN(s.cnt) AS est
         |  FROM probe p JOIN sketch s ON s.r = p.r AND s.b = p.b
         |  GROUP BY p.tok, p.exact)
         |SELECT tok, exact, est, est - exact AS err FROM est ORDER BY tok""".stripMargin,

    "q125_hll_distinct" ->
      s"""WITH t AS (SELECT source AS grp, unnest($toksExpr) AS tok FROM documents),
         |h AS (
         |  SELECT grp, tok,
         |         CAST('0x' || substr(md5(tok), 1, 2) AS BIGINT) AS reg,
         |         CAST('0x' || substr(md5(tok), 3, 14) AS BIGINT) AS v
         |  FROM t),
         |r AS (
         |  SELECT grp, reg,
         |         CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END AS rho
         |  FROM h),
         |regs AS (SELECT grp, reg, MAX(rho) AS rho FROM r GROUP BY grp, reg),
         |agg AS (
         |  SELECT grp, COUNT(*) AS n_regs,
         |         CAST(SUM(CASE WHEN rho <= 20
         |                       THEN CAST(1 AS BIGINT) << CAST(20 - rho AS INTEGER)
         |                       ELSE 0 END) AS BIGINT) AS sum_nz
         |  FROM regs GROUP BY grp),
         |ex AS (SELECT grp, COUNT(DISTINCT tok) AS n_exact FROM t GROUP BY grp),
         |fin AS (
         |  SELECT a.grp, e.n_exact, a.n_regs,
         |         a.sum_nz + (256 - a.n_regs) * 1048576 AS total_fp
         |  FROM agg a JOIN ex e USING (grp))
         |SELECT grp AS source, n_exact, n_regs, total_fp,
         |       CAST(FLOOR(${Sketches.hllAlphaM2Fp} / CAST(total_fp AS DOUBLE)) AS BIGINT) AS est
         |FROM fin ORDER BY source""".stripMargin,

    "q126_rank_auc" ->
      s"""WITH t AS (
         |  SELECT CAST(len($toksExpr) AS BIGINT) AS s, (lang = 'en') AS y
         |  FROM documents),
         |hist AS (
         |  SELECT s, CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
         |         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
         |  FROM t GROUP BY s),
         |cum AS (
         |  SELECT s, p, q,
         |         COALESCE(CAST(SUM(q) OVER (ORDER BY s
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |           0) AS cq
         |  FROM hist),
         |agg AS (
         |  SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(q) AS BIGINT) AS n_neg,
         |         CAST(SUM(p * (2 * cq + q)) AS BIGINT) AS u2
         |  FROM cum)
         |SELECT n_pos, n_neg, u2,
         |       (u2 * 1048576) // (2 * n_pos * n_neg) AS auc_fp
         |FROM agg""".stripMargin,

    "q127_token_budget" ->
      s"""WITH t AS (
         |  SELECT source AS grp, doc_id AS id,
         |         CAST(len($toksExpr) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT grp, id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY grp
         |           ORDER BY md5(CAST(id AS VARCHAR)), id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |           AS cum_tokens
         |  FROM t)
         |SELECT grp AS source, id AS doc_id, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 800
         |ORDER BY source, cum_tokens, doc_id""".stripMargin,

    "q128_dsir_weights" ->
      s"""WITH t AS (
         |  SELECT doc_id AS id, $toksExpr AS w,
         |         CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END AS tgt
         |  FROM documents),
         |uni AS (SELECT id, tgt, unnest(w) AS s FROM t),
         |big AS (
         |  SELECT id, tgt, unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
         |    i -> concat_ws(' ', w[CAST(i AS INTEGER)], w[CAST(i AS INTEGER) + 1]))) AS s
         |  FROM t),
         |grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
         |gb AS (
         |  SELECT id, tgt, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 512 AS b
         |  FROM grams),
         |cnt AS (
         |  SELECT b, COUNT(*) AS c_raw, SUM(tgt) AS c_tgt FROM gb GROUP BY b),
         |tot AS (
         |  SELECT SUM(c_raw) AS tot_raw, SUM(c_tgt) AS tot_tgt FROM cnt),
         |model AS (
         |  SELECT b,
         |         CAST(floor(ln((c_tgt + 1.0) / (tot_tgt + 512)) * 1048576.0) AS BIGINT)
         |       - CAST(floor(ln((c_raw + 1.0) / (tot_raw + 512)) * 1048576.0) AS BIGINT)
         |           AS w_fp
         |  FROM cnt CROSS JOIN tot),
         |agg AS (
         |  SELECT id, COUNT(*) AS n_grams, SUM(w_fp) AS sum_lr_fp
         |  FROM gb JOIN model USING (b) GROUP BY id)
         |SELECT id AS doc_id, n_grams, CAST(sum_lr_fp AS BIGINT) AS sum_lr_fp,
         |       CAST(sum_lr_fp AS DOUBLE) / 1048576.0 / n_grams AS mean_lr,
         |       CASE WHEN sum_lr_fp >= 0 THEN 1 ELSE 0 END AS keep
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q129_curriculum_order" ->
      """SELECT source, doc_id AS id,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY source
        |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS round
        |FROM documents
        |ORDER BY round, source, id""".stripMargin,

    "q130_token_entropy" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest($toksExpr) AS s FROM documents),
         |cnt AS (SELECT id, s, COUNT(*) AS c FROM tok GROUP BY id, s),
         |agg AS (
         |  SELECT id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         COUNT(*) AS n_distinct,
         |         CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1048576.0) AS BIGINT)) AS BIGINT)
         |           AS sum_clnc_fp
         |  FROM cnt GROUP BY id)
         |SELECT id AS doc_id, n_tokens, n_distinct,
         |       floor((ln(CAST(n_tokens AS DOUBLE))
         |         - (CAST(sum_clnc_fp AS DOUBLE) / 1048576.0) / n_tokens)
         |         * 1000000.0) / 1000000.0 AS entropy
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q132_bigram_backoff" ->
      s"""WITH tr AS (
         |  SELECT doc_id AS id, $toksExpr AS w FROM documents WHERE doc_id % 2 = 0),
         |ttok AS (SELECT id, unnest(w) AS s FROM tr),
         |cnt AS (SELECT s, COUNT(*) AS c FROM ttok GROUP BY s),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot, COUNT(*) AS vocab FROM cnt),
         |tb AS (
         |  SELECT w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] AS s,
         |         w[CAST(i AS INTEGER)] AS w1
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tr)),
         |bc AS (SELECT s, w1, COUNT(*) AS cb FROM tb GROUP BY s, w1),
         |bm AS (
         |  SELECT bc.s,
         |         CAST(floor(ln(CAST(cb AS DOUBLE) / c1.c) * 1048576.0) AS BIGINT) AS lp_big_fp
         |  FROM bc JOIN cnt c1 ON bc.w1 = c1.s),
         |sc AS (
         |  SELECT doc_id AS id, $toksExpr AS w FROM documents WHERE doc_id % 2 = 1),
         |sb AS (
         |  SELECT id, w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] AS s,
         |         w[CAST(i AS INTEGER) + 1] AS w2
         |  FROM (SELECT id, w, unnest(range(1, len(w))) AS i FROM sc)),
         |sr AS (
         |  SELECT sb.id,
         |         COALESCE(bm.lp_big_fp,
         |           CAST(floor(ln(0.4 * (COALESCE(c2.c, 0) + 1.0)
         |             / (tot.n_tot + tot.vocab)) * 1048576.0) AS BIGINT)) AS lp_fp,
         |         CASE WHEN bm.lp_big_fp IS NULL THEN 1 ELSE 0 END AS backoff
         |  FROM sb LEFT JOIN bm ON sb.s = bm.s
         |       LEFT JOIN cnt c2 ON sb.w2 = c2.s
         |       CROSS JOIN tot)
         |SELECT id AS doc_id, COUNT(*) AS n_bigrams,
         |       CAST(SUM(backoff) AS BIGINT) AS n_backoff,
         |       CAST(SUM(lp_fp) AS DOUBLE) / 1048576.0 / COUNT(*) AS mean_logs
         |FROM sr GROUP BY id ORDER BY doc_id""".stripMargin,

    "q222_cdc_chunks" ->
      s"""WITH ${cdcChunksCte("documents", "")},
        |m1 AS (SELECT h, MIN(id) AS f_id FROM chunks GROUP BY h),
        |m2 AS (SELECT c.h, m1.f_id, MIN(c.start) AS f_start
        |       FROM chunks c JOIN m1 ON c.h = m1.h AND c.id = m1.f_id
        |       GROUP BY c.h, m1.f_id),
        |occ AS (
        |  SELECT c.id, c.len,
        |         CASE WHEN c.id <> m2.f_id OR c.start <> m2.f_start THEN 1 ELSE 0 END AS dup
        |  FROM chunks c JOIN m2 ON c.h = m2.h)
        |SELECT id AS doc_id, COUNT(*) AS n_chunks,
        |       CAST(SUM(dup) AS BIGINT) AS n_dup_chunks,
        |       CAST(SUM(CASE WHEN dup = 1 THEN len ELSE 0 END) AS BIGINT) AS dup_chars,
        |       CAST(SUM(len) AS BIGINT) AS total_chars
        |FROM occ GROUP BY id ORDER BY doc_id""".stripMargin,

    // q240/q241: the reconstruction digest is compared against the
    // SOURCE text directly — the store round-trip is the thing under
    // test, so the oracle needs no chunk algebra for it; n_chunks and
    // the q241 census replay the chunker CTE (same collision-honest
    // distinct-(h, len) store model as the q226 ledger)
    "q240_cdc_reconstruct" ->
      s"""WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0),
         |${cdcChunksCte("sub", "")},
         |n AS (SELECT id, COUNT(*) AS n_chunks FROM chunks GROUP BY id)
         |SELECT d.doc_id, CAST(n.n_chunks AS BIGINT) AS n_chunks,
         |       CAST(length(d.text) AS BIGINT) AS n_chars,
         |       md5(d.text) AS digest
         |FROM sub d JOIN n ON d.doc_id = n.id ORDER BY d.doc_id""".stripMargin,

    "q241_cdc_takedown" ->
      s"""WITH ${cdcChunksCte("documents", "")},
         |surv AS (SELECT * FROM chunks WHERE id % 7 <> 3),
         |livec AS (SELECT DISTINCT h, len FROM surv),
         |cen AS (
         |  SELECT (SELECT COUNT(*) FROM livec) AS n_chunks_live,
         |         (SELECT CAST(SUM(len) AS BIGINT) FROM livec) AS live_chars,
         |         (SELECT COUNT(DISTINCT id) FROM surv) AS n_docs_live),
         |n AS (SELECT id, COUNT(*) AS n_chunks FROM surv GROUP BY id)
         |SELECT d.doc_id, CAST(n.n_chunks AS BIGINT) AS n_chunks,
         |       md5(d.text) AS digest,
         |       CAST(cen.n_chunks_live AS BIGINT) AS n_chunks_live,
         |       cen.live_chars, CAST(cen.n_docs_live AS BIGINT) AS n_docs_live
         |FROM documents d JOIN n ON d.doc_id = n.id CROSS JOIN cen
         |WHERE d.doc_id % 7 <> 3 AND d.doc_id % 13 = 0
         |ORDER BY d.doc_id""".stripMargin,

    "q242_cdc_compact" ->
      s"""WITH ${cdcChunksCte("documents", "")},
         |dist AS (SELECT DISTINCT h, len FROM chunks),
         |cen AS (
         |  SELECT (SELECT CAST(SUM(len) AS BIGINT) FROM chunks) AS cum_raw,
         |         (SELECT CAST(SUM(len) AS BIGINT) FROM dist) AS cum_stored),
         |n AS (SELECT id, COUNT(*) AS n_chunks FROM chunks GROUP BY id)
         |SELECT d.doc_id, CAST(n.n_chunks AS BIGINT) AS n_chunks,
         |       md5(d.text) AS digest,
         |       CAST(1 AS BIGINT) AS n_ledger_rows,
         |       cen.cum_raw, cen.cum_stored,
         |       (cen.cum_stored * 1048576) // cen.cum_raw AS stored_fp
         |FROM documents d JOIN n ON d.doc_id = n.id CROSS JOIN cen
         |WHERE d.doc_id % 17 = 0 ORDER BY d.doc_id""".stripMargin,

    "q221_trigram_backoff" ->
      s"""WITH tr AS (
         |  SELECT doc_id AS id, $toksExpr AS w FROM documents WHERE doc_id % 2 = 0),
         |ttok AS (SELECT id, unnest(w) AS s FROM tr),
         |cnt AS (SELECT s, COUNT(*) AS c FROM ttok GROUP BY s),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot, COUNT(*) AS vocab FROM cnt),
         |tb AS (
         |  SELECT w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] AS s
         |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM tr)),
         |bc AS (SELECT s, COUNT(*) AS cb FROM tb GROUP BY s),
         |tt AS (
         |  SELECT w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]
         |           || ' ' || w[CAST(i AS INTEGER) + 2] AS s,
         |         w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1] AS w12
         |  FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM tr)),
         |tc AS (SELECT s, w12, COUNT(*) AS ct FROM tt GROUP BY s, w12),
         |tm AS (
         |  SELECT tc.s,
         |         CAST(floor(ln(CAST(ct AS DOUBLE) / b12.cb) * 1048576.0) AS BIGINT) AS lp_tri_fp
         |  FROM tc JOIN bc b12 ON tc.w12 = b12.s),
         |sc AS (
         |  SELECT doc_id AS id, $toksExpr AS w FROM documents WHERE doc_id % 2 = 1),
         |st AS (
         |  SELECT id,
         |         w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]
         |           || ' ' || w[CAST(i AS INTEGER) + 2] AS s,
         |         w[CAST(i AS INTEGER) + 1] || ' ' || w[CAST(i AS INTEGER) + 2] AS w23,
         |         w[CAST(i AS INTEGER) + 1] AS w2,
         |         w[CAST(i AS INTEGER) + 2] AS w3
         |  FROM (SELECT id, w, unnest(range(1, len(w) - 1)) AS i FROM sc)),
         |sr AS (
         |  SELECT st.id,
         |         COALESCE(tm.lp_tri_fp,
         |           CASE WHEN b23.cb IS NOT NULL THEN
         |             CAST(floor(ln(0.4 * b23.cb / c2.c) * 1048576.0) AS BIGINT) END,
         |           CAST(floor(ln(0.4 * 0.4 * (COALESCE(c3.c, 0) + 1.0)
         |             / (tot.n_tot + tot.vocab)) * 1048576.0) AS BIGINT)) AS lp_fp,
         |         CASE WHEN tm.lp_tri_fp IS NOT NULL THEN 0
         |              WHEN b23.cb IS NOT NULL THEN 1 ELSE 2 END AS lvl
         |  FROM st LEFT JOIN tm ON st.s = tm.s
         |       LEFT JOIN bc b23 ON st.w23 = b23.s
         |       LEFT JOIN cnt c2 ON st.w2 = c2.s
         |       LEFT JOIN cnt c3 ON st.w3 = c3.s
         |       CROSS JOIN tot)
         |SELECT id AS doc_id, COUNT(*) AS n_trigrams,
         |       CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_backoff,
         |       CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_backoff,
         |       CAST(SUM(lp_fp) AS DOUBLE) / 1048576.0 / COUNT(*) AS mean_logs
         |FROM sr GROUP BY id ORDER BY doc_id""".stripMargin,

    "q133_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         '<html><head><title>doc</title><script>var x = 1 < 2;</script><style>p { color: red; }</style></head><body><div class="main"><p>'
        |         || text || '</p></div><!-- footer --> &amp; fin</body></html>' AS html
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, html,
        |         trim(regexp_replace(
        |           replace(replace(replace(replace(replace(
        |             regexp_replace(
        |               regexp_replace(
        |                 regexp_replace(html,
        |                   '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |                 '(?s)<!--.*?-->', ' ', 'g'),
        |               '(?s)<[^>]*>', ' ', 'g'),
        |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |             '&apos;', ''''), '&amp;', '&'),
        |           '\s+', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |       CAST(length(clean) AS INTEGER) AS n_chars_clean,
        |       CAST(length(clean) AS DOUBLE) / length(html) AS kept_frac
        |FROM c ORDER BY doc_id""".stripMargin,

    "q122_knn_graph" ->
      s"""WITH bucketed AS (
         |  SELECT vec_id AS id, embedding AS vec, ${bucketExpr("embedding", 4)} AS bucket,
         |         SQRT(${dotExpr("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         ${dotExpr("a.vec", "b.vec")} / (a.nrm * b.nrm) AS c
         |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.id <> b.id),
         |ranked AS (
         |  SELECT id_a, id_b, c,
         |         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY c DESC, id_b) AS rn
         |  FROM pairs)
         |SELECT id_a AS vec_id, CAST(rn AS INTEGER) AS rnk, id_b AS nbr_id,
         |       ROUND(c, 6) AS cosine
         |FROM ranked WHERE rn <= 3 ORDER BY vec_id, rnk""".stripMargin,

    "q42_text_metrics" ->
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks FROM documents)
         |SELECT doc_id,
         |       CAST(len(toks) AS INTEGER) AS n_tokens,
         |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_subwords,
         |       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
         |       CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INTEGER) AS n_punct,
         |       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS lex_diversity,
         |       CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len
         |FROM t ORDER BY doc_id""".stripMargin,

    "q43_text_langid" ->
      s"""WITH t AS (SELECT text, $toksExpr AS toks FROM documents),
         |cls AS (
         |  SELECT CASE
         |    WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |    WHEN len(regexp_extract_all(text, '[\\x{0400}-\\x{04ff}]')) > 0 THEN 'ru'
         |    WHEN len(regexp_extract_all(text, '[\\x{0600}-\\x{06ff}]')) > 0 THEN 'ar'
         |    WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
         |         / len(toks) >= 0.05 THEN 'en'
         |    ELSE 'other' END AS lang_pred
         |  FROM t)
         |SELECT lang_pred, COUNT(*) AS n FROM cls GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    "q69_text_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS s
        |  FROM documents),
        |toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ts FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS s
        |  FROM toks),
        |uni_c AS (SELECT doc_id, s, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |uni_a AS (SELECT doc_id, SUM(c) AS total, COUNT(*) AS n_distinct, MAX(c) AS top FROM uni_c GROUP BY 1),
        |bi_c AS (SELECT doc_id, s, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |bi_a AS (SELECT doc_id, SUM(c) AS total, MAX(c) AS top FROM bi_c GROUP BY 1)
        |SELECT u.doc_id, CAST(u.total AS BIGINT) AS n_tok,
        |       CAST(u.n_distinct AS DOUBLE) / CAST(u.total AS BIGINT) AS distinct_token_ratio,
        |       CAST(u.top AS DOUBLE) / CAST(u.total AS BIGINT) AS top_unigram_frac,
        |       CAST(b.top AS DOUBLE) / CAST(b.total AS BIGINT) AS top_bigram_frac
        |FROM uni_a u JOIN bi_a b ON u.doc_id = b.doc_id
        |ORDER BY u.doc_id""".stripMargin,

    "q44_text_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, least(length(text), 64) + 1),
        |             i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q76_quality_filter" ->
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS INTEGER) AS n_tokens,
         |         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len,
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS lex_diversity,
         |         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |           / length(text) AS punct_ratio
         |  FROM t),
         |v AS (
         |  SELECT doc_id,
         |    (CASE WHEN n_tokens < 5 OR n_tokens > 5000 THEN 1 ELSE 0 END
         |     + CASE WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN 1 ELSE 0 END
         |     + CASE WHEN lex_diversity < 0.3 THEN 1 ELSE 0 END
         |     + CASE WHEN punct_ratio > 0.2 THEN 1 ELSE 0 END) AS n_fail
         |  FROM m)
         |SELECT doc_id, n_fail,
         |       CAST(CASE WHEN n_fail = 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
         |FROM v ORDER BY doc_id""".stripMargin,

    "q77_sample_mix" ->
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks FROM documents),
         |lg AS (
         |  SELECT doc_id, CASE
         |    WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |    WHEN len(regexp_extract_all(text, '[\\x{0400}-\\x{04ff}]')) > 0 THEN 'ru'
         |    WHEN len(regexp_extract_all(text, '[\\x{0600}-\\x{06ff}]')) > 0 THEN 'ar'
         |    WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
         |         / len(toks) >= 0.05 THEN 'en'
         |    ELSE 'other' END AS lang_pred
         |  FROM t),
         |u AS (
         |  SELECT lang_pred,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |           / 1152921504606846976.0 AS draw,
         |         CASE lang_pred WHEN 'en' THEN 0.35 WHEN 'other' THEN 0.10 ELSE 1.0 END AS rate
         |  FROM lg)
         |SELECT lang_pred, COUNT(*) AS n_docs,
         |       CAST(SUM(CASE WHEN draw < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM u GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    "q88_sample_take" ->
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks FROM documents),
         |lg AS (
         |  SELECT doc_id, CASE
         |    WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |    WHEN len(regexp_extract_all(text, '[\\x{0400}-\\x{04ff}]')) > 0 THEN 'ru'
         |    WHEN len(regexp_extract_all(text, '[\\x{0600}-\\x{06ff}]')) > 0 THEN 'ar'
         |    WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
         |         / len(toks) >= 0.05 THEN 'en'
         |    ELSE 'other' END AS lang_pred
         |  FROM t),
         |r AS (
         |  SELECT doc_id, lang_pred,
         |         ROW_NUMBER() OVER (PARTITION BY lang_pred
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM lg),
         |k AS (
         |  SELECT * FROM r
         |  WHERE rn <= CASE lang_pred WHEN 'en' THEN 50 WHEN 'other' THEN 20 ELSE 5 END)
         |SELECT lang_pred, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM k GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    "q89_decontaminate" ->
      s"""WITH $shinglesCte,
         |g AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |bg AS (SELECT DISTINCT s FROM g WHERE doc_id % 17 = 0),
         |t AS (SELECT doc_id, COUNT(*) AS n_grams FROM g
         |      WHERE doc_id % 17 <> 0 GROUP BY doc_id),
         |h AS (SELECT g.doc_id, COUNT(*) AS n_hit
         |      FROM g JOIN bg USING (s)
         |      WHERE g.doc_id % 17 <> 0 GROUP BY g.doc_id)
         |SELECT t.doc_id, t.n_grams,
         |       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams AS contamination,
         |       CAST(CASE WHEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams >= 0.05
         |            THEN 1 ELSE 0 END AS INTEGER) AS flagged
         |FROM t LEFT JOIN h ON t.doc_id = h.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    "q90_pii_scrub" -> {
      val em = TextAnalysis.EmailRe
      val ip = TextAnalysis.Ipv4Re
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |         text
         |         || CASE WHEN doc_id % 7 = 0
         |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |              ELSE '' END
         |         || CASE WHEN doc_id % 11 = 0
         |              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)
         |              ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$em')) AS INTEGER) AS n_emails,
         |       CAST(len(regexp_extract_all(text, '$ip')) AS INTEGER) AS n_ipv4,
         |       CAST(CASE WHEN len(regexp_extract_all(text, '$em')) > 0
         |                   OR len(regexp_extract_all(text, '$ip')) > 0
         |            THEN 1 ELSE 0 END AS INTEGER) AS has_pii,
         |       md5(regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'),
         |                          '$ip', '<IP>', 'g')) AS redacted_md5
         |FROM seeded ORDER BY doc_id""".stripMargin
    },

    "q91_source_mix" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toksExpr AS toks FROM documents),
         |m AS (
         |  SELECT doc_id, source,
         |         CAST(len(toks) AS INTEGER) AS n_tokens,
         |         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len,
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS lex_diversity,
         |         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |           / length(text) AS punct_ratio
         |  FROM t),
         |v AS (
         |  SELECT source, n_tokens,
         |    (CASE WHEN n_tokens < 5 OR n_tokens > 5000 THEN 1 ELSE 0 END
         |     + CASE WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN 1 ELSE 0 END
         |     + CASE WHEN lex_diversity < 0.3 THEN 1 ELSE 0 END
         |     + CASE WHEN punct_ratio > 0.2 THEN 1 ELSE 0 END) AS n_fail
         |  FROM m)
         |SELECT source, COUNT(*) AS n_docs,
         |       CAST(SUM(CASE WHEN n_fail = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |       CAST(SUM(CASE WHEN n_fail = 0 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
         |       CAST(SUM(CASE WHEN n_fail = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS keep_rate
         |FROM v GROUP BY source ORDER BY source""".stripMargin,

    "q95_pack_bins" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksExpr) AS INTEGER) AS n_tokens FROM documents),
         |sh AS (
         |  SELECT doc_id, n_tokens,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
         |         md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM t),
         |c AS (
         |  SELECT shard, n_tokens,
         |         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sh),
         |bb AS (SELECT shard, (cum - n_tokens) // 2048 AS bin, n_tokens FROM c)
         |SELECT shard, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
         |FROM bb GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    "q96_bm25_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest($toksExpr) AS s FROM documents),
         |tf AS (SELECT id, s, COUNT(*) AS tf FROM tok GROUP BY id, s),
         |dl AS (SELECT id, SUM(tf) AS dl FROM tf GROUP BY id),
         |g AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
         |dft AS (SELECT s, COUNT(*) AS df FROM tf
         |        WHERE s IN ('spark', 'merge', 'vector') GROUP BY s),
         |sc AS (
         |  SELECT tf.id,
         |    CAST(floor(
         |      ((g.n_docs - d.df + 0.5) / (d.df + 0.5))
         |      * (tf.tf * (1.2 + 1.0))
         |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
         |                        / (CAST(g.tot AS DOUBLE) / g.n_docs)))
         |      * 1048576.0) AS BIGINT) AS fp
         |  FROM tf JOIN dl USING (id) JOIN dft d USING (s) CROSS JOIN g
         |  WHERE tf.s IN ('spark', 'merge', 'vector')),
         |agg AS (SELECT id, SUM(fp) AS score_fp, COUNT(*) AS n_terms_hit
         |        FROM sc GROUP BY id),
         |topk AS (SELECT * FROM agg ORDER BY score_fp DESC, id LIMIT 10)
         |SELECT id AS doc_id, CAST(score_fp AS DOUBLE) / 1048576.0 AS score,
         |       CAST(n_terms_hit AS BIGINT) AS n_terms_hit
         |FROM topk ORDER BY score DESC, doc_id""".stripMargin,

    "q99_group_centroids" ->
      """WITH comp AS (
        |  SELECT vec_id % 4 AS grp, CAST(i - 1 AS INTEGER) AS dim,
        |         CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1048576.0) AS BIGINT) AS fp
        |  FROM embeddings CROSS JOIN range(1, 65) t(i))
        |SELECT grp, dim, COUNT(*) AS n,
        |       CAST(SUM(fp) AS DOUBLE) / 1048576.0 / COUNT(*) AS mean
        |FROM comp GROUP BY grp, dim ORDER BY grp, dim""".stripMargin,

    "q100_curation_pipeline" ->
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks FROM documents),
         |m AS (
         |  SELECT doc_id, text, CAST(len(toks) AS INTEGER) AS n_tokens, toks,
         |         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len,
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS lex_diversity,
         |         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |           / length(text) AS punct_ratio
         |  FROM t),
         |kept AS (
         |  SELECT * FROM m
         |  WHERE (CASE WHEN n_tokens < 5 OR n_tokens > 5000 THEN 1 ELSE 0 END
         |     + CASE WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN 1 ELSE 0 END
         |     + CASE WHEN lex_diversity < 0.3 THEN 1 ELSE 0 END
         |     + CASE WHEN punct_ratio > 0.2 THEN 1 ELSE 0 END) = 0),
         |dedup AS (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(substr(text, 1, 64))
         |                                 ORDER BY doc_id) AS rk
         |    FROM kept)
         |  WHERE rk = 1),
         |lg AS (
         |  SELECT doc_id, n_tokens, CASE
         |    WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |    WHEN len(regexp_extract_all(text, '[\\x{0400}-\\x{04ff}]')) > 0 THEN 'ru'
         |    WHEN len(regexp_extract_all(text, '[\\x{0600}-\\x{06ff}]')) > 0 THEN 'ar'
         |    WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
         |         / len(toks) >= 0.05 THEN 'en'
         |    ELSE 'other' END AS lang_pred
         |  FROM dedup),
         |sampled AS (
         |  SELECT * FROM lg
         |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |          / 1152921504606846976.0
         |        < CASE lang_pred WHEN 'en' THEN 0.5 ELSE 1.0 END)
         |SELECT lang_pred, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |       CAST(SUM(doc_id) AS BIGINT) AS id_sum
         |FROM sampled GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    "q107_pair_merges" ->
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS ts FROM documents),
         |pairs AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, len(ts)),
         |           i -> ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER) + 1])) AS pair
         |  FROM toks)
         |SELECT pair, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
         |FROM pairs GROUP BY pair
         |ORDER BY n_occ DESC, pair LIMIT 50""".stripMargin,

    "q108_matryoshka" ->
      """WITH v AS (
        |  SELECT vec_id,
        |         list_reduce(list_prepend(0.0,
        |           list_transform(embedding, x -> CAST(x AS DOUBLE))),
        |           (acc, x) -> acc + x * x) AS ss_full,
        |         list_reduce(list_prepend(0.0,
        |           list_transform(embedding[1:16], x -> CAST(x AS DOUBLE))),
        |           (acc, x) -> acc + x * x) AS ss_m,
        |         CAST(embedding[1] AS DOUBLE) AS e1
        |  FROM embeddings)
        |SELECT vec_id, sqrt(ss_full) AS norm_full, sqrt(ss_m) AS norm_m,
        |       CASE WHEN ss_full = 0 THEN 0.0 ELSE ss_m / ss_full END AS energy_frac,
        |       CASE WHEN ss_m = 0 THEN 0.0 ELSE e1 / sqrt(ss_m) END AS e1_renorm
        |FROM v ORDER BY vec_id""".stripMargin,

    "q109_vocab_oov" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest($toksExpr) AS s FROM documents),
         |vocab AS (
         |  SELECT s, 1 AS in_v FROM (
         |    SELECT s, COUNT(*) AS c FROM tok GROUP BY s
         |    ORDER BY c DESC, s LIMIT 20)),
         |j AS (SELECT t.id, COALESCE(v.in_v, 0) AS in_v
         |      FROM tok t LEFT JOIN vocab v ON t.s = v.s)
         |SELECT id AS doc_id, COUNT(*) AS n_tok,
         |       CAST(SUM(in_v) AS BIGINT) AS n_in_vocab,
         |       CAST(COUNT(*) - SUM(in_v) AS DOUBLE) / COUNT(*) AS oov_rate
         |FROM j GROUP BY id ORDER BY doc_id""".stripMargin,

    "q110_chunk_windows" ->
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS ts FROM documents),
         |chunks AS (
         |  SELECT doc_id, ts,
         |         unnest(range(0, CASE WHEN len(ts) <= 32 THEN 1
         |                ELSE CAST(ceil((len(ts) - 32) / 24.0) AS BIGINT) + 1 END)) AS chunk_id
         |  FROM toks),
         |c AS (
         |  SELECT doc_id, chunk_id,
         |         ts[CAST(chunk_id * 24 + 1 AS INTEGER):CAST(least(chunk_id * 24 + 32, len(ts)) AS INTEGER)] AS w
         |  FROM chunks)
         |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
         |       CAST(len(w) AS INTEGER) AS n_tokens,
         |       md5(array_to_string(w, ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q120_temperature_mix" ->
      """WITH c AS (
        |  SELECT source AS stratum, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |w AS (
        |  SELECT stratum, n_docs,
        |         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1073741824.0) AS BIGINT) AS w_fp
        |  FROM c),
        |t AS (SELECT SUM(w_fp) AS sum_w FROM w),
        |r AS (
        |  SELECT stratum, n_docs,
        |         least(1.0, CAST(w_fp * 250 AS DOUBLE) / (CAST(sum_w AS DOUBLE) * n_docs)) AS rate
        |  FROM w CROSS JOIN t),
        |k AS (
        |  SELECT d.source AS stratum, COUNT(*) AS n_kept
        |  FROM documents d JOIN r ON d.source = r.stratum
        |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |          / 1152921504606846976.0 < r.rate
        |  GROUP BY d.source)
        |SELECT r.stratum, r.n_docs, r.rate, COALESCE(k.n_kept, 0) AS n_kept
        |FROM r LEFT JOIN k ON r.stratum = k.stratum ORDER BY r.stratum""".stripMargin,

    "q136_lsh_calibration" ->
      (s"""WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, substr(text, 1, length(text) // 2) AS text
          |  FROM documents),
          |sh0 AS (
          |  SELECT doc_id, $toksExpr AS w FROM corpus),
          |sh AS (
          |  SELECT doc_id,
          |         list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
          |           i -> concat_ws(' ', w[CAST(i AS INTEGER)], w[CAST(i AS INTEGER) + 1], w[CAST(i AS INTEGER) + 2]))) AS sh
          |  FROM sh0),
          |sig AS (
          |  SELECT doc_id, sh,
          |         list_transform(range(0, 16),
          |           k -> list_aggregate(list_transform(sh,
          |             s -> ((1 + ((k * 2654435761) % 2038074742))
          |                     * (CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2038074743)
          |                   + ((k * 40503 + 17) % 2038074743)) % 2038074743), 'min')) AS sigs
          |  FROM sh),
          |banded AS (
          |  SELECT doc_id, sh, CAST(b AS INTEGER) AS band,
          |         md5(CAST(sigs[CAST(b AS INTEGER) * 4 + 1] AS VARCHAR) || '|' || CAST(sigs[CAST(b AS INTEGER) * 4 + 2] AS VARCHAR) || '|'
          |             || CAST(sigs[CAST(b AS INTEGER) * 4 + 3] AS VARCHAR) || '|' || CAST(sigs[CAST(b AS INTEGER) * 4 + 4] AS VARCHAR)) AS bkey
          |  FROM sig CROSS JOIN range(0, 4) t(b)),
          |""".stripMargin +
      """pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.doc_id < b.doc_id),
         |j AS (
         |  SELECT len(list_filter(range(0, 16),
         |           k -> sa.sigs[CAST(k AS INTEGER) + 1] = sb.sigs[CAST(k AS INTEGER) + 1])) AS m,
         |         len(list_intersect(sa.sh, sb.sh)) AS i,
         |         len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS u
         |  FROM pairs p JOIN sig sa ON p.id_a = sa.doc_id
         |       JOIN sig sb ON p.id_b = sb.doc_id),
         |r AS (
         |  SELECT CAST(least(CAST(floor((CAST(i AS DOUBLE) / u) * 10) AS BIGINT), 9) AS INTEGER) AS decile,
         |         m,
         |         CAST(floor((CAST(i AS DOUBLE) / u) * 1048576.0) AS BIGINT) AS exact_fp,
         |         CAST(floor(abs(m / 16.0 - CAST(i AS DOUBLE) / u) * 1048576.0) AS BIGINT) AS err_fp
         |  FROM j)
         |,bstats AS (
         |  SELECT COUNT(*) AS n_buckets, MAX(bn) AS max_bucket,
         |         CAST(COALESCE(SUM(CASE WHEN bn > 64 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_over_cap
         |  FROM (SELECT COUNT(*) AS bn FROM banded GROUP BY band, bkey))
         |SELECT decile, COUNT(*) AS n_pairs,
         |       CAST(SUM(m) AS DOUBLE) / 16 / COUNT(*) AS mean_est,
         |       CAST(SUM(exact_fp) AS DOUBLE) / 1048576.0 / COUNT(*) AS mean_exact,
         |       CAST(SUM(err_fp) AS DOUBLE) / 1048576.0 / COUNT(*) AS mean_abs_err,
         |       ANY_VALUE(b.n_buckets) AS n_buckets,
         |       ANY_VALUE(b.max_bucket) AS max_bucket,
         |       ANY_VALUE(b.n_over_cap) AS n_over_cap
         |FROM r CROSS JOIN bstats b GROUP BY decile ORDER BY decile""".stripMargin),

    "q138_lsh_ingest" ->
      (s"WITH $minhashBandedCte,\n" +
      """b2 AS (
         |  SELECT doc_id, band, CAST(band AS VARCHAR) || ':' || bkey AS bkey,
         |         MIN(doc_id) OVER (PARTITION BY band, bkey) AS first_id
         |  FROM banded)
         |SELECT doc_id, first_id, band, bkey
         |FROM b2 WHERE doc_id <> first_id ORDER BY doc_id, band""".stripMargin),

    "q151_source_dup_matrix" ->
      """WITH hs AS (
        |  SELECT DISTINCT md5(substr(text, 1, 64)) AS h, source AS src
        |  FROM documents)
        |SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared_groups
        |FROM hs a JOIN hs b ON a.h = b.h AND a.src < b.src
        |GROUP BY a.src, b.src ORDER BY src_a, src_b""".stripMargin,

    "q230_winnow_at_rest" -> {
      def fpCte(src: String, pre: String) =
        s"""${pre}p AS (
           |  SELECT doc_id AS id, text,
           |         unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS pos
           |  FROM $src),
           |${pre}h AS (
           |  SELECT id, pos,
           |         CAST('0x' || substr(md5(substr(text, CAST(pos AS INTEGER), 8)), 1, 15) AS BIGINT) AS h,
           |         length(text) - 7 AS np
           |  FROM ${pre}p),
           |${pre}wmin AS (
           |  SELECT id, pos, np,
           |         MIN(h) OVER (PARTITION BY id ORDER BY pos
           |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
           |  FROM ${pre}h),
           |${pre}fp AS (
           |  SELECT DISTINCT id, minh AS fp FROM ${pre}wmin
           |  WHERE pos <= greatest(np - 3, 1))""".stripMargin
      s"""WITH seeded AS (
         |  SELECT doc_id, CASE WHEN doc_id % 100 < 4
         |    THEN 'shared passage marker number ' || CAST(doc_id // 100 AS VARCHAR)
         |         || ' with enough identical characters to produce winnowed fingerprints across this whole run of text '
         |         || text
         |    ELSE text END AS text
         |  FROM documents),
         |base AS (SELECT doc_id, text FROM seeded WHERE doc_id % 5 <> 4),
         |probe AS (SELECT doc_id, text FROM seeded WHERE doc_id % 5 = 4),
         |${fpCte("base", "b")},
         |${fpCte("probe", "p2")},
         |matched AS (
         |  SELECT p.fp, p.id AS new_id, b.id AS base_id
         |  FROM p2fp p JOIN bfp b USING (fp)),
         |rare AS (
         |  SELECT fp FROM (SELECT fp, COUNT(DISTINCT base_id) AS df
         |                  FROM matched GROUP BY fp)
         |  WHERE df <= 8)
         |SELECT new_id, base_id, COUNT(*) AS n_shared
         |FROM matched SEMI JOIN rare USING (fp)
         |GROUP BY new_id, base_id HAVING COUNT(*) >= 5
         |ORDER BY new_id, base_id""".stripMargin
    },

    "q154_winnow_matches" ->
      """WITH p AS (
        |  SELECT doc_id AS id, text,
        |         unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS pos
        |  FROM documents),
        |h AS (
        |  SELECT id, pos,
        |         CAST('0x' || substr(md5(substr(text, CAST(pos AS INTEGER), 8)), 1, 15) AS BIGINT) AS h,
        |         length(text) - 7 AS np
        |  FROM p),
        |wmin AS (
        |  SELECT id, pos, np,
        |         MIN(h) OVER (PARTITION BY id ORDER BY pos
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
        |  FROM h),
        |fp AS (
        |  SELECT DISTINCT id, minh AS fp FROM wmin
        |  WHERE pos <= greatest(np - 3, 1)),
        |rare AS (
        |  SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM fp GROUP BY fp)
        |  WHERE df <= 8),
        |kept AS (SELECT id, fp FROM fp JOIN rare USING (fp))
        |SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
        |GROUP BY a.id, b.id HAVING COUNT(*) >= 5 ORDER BY id_a, id_b""".stripMargin,

    "q170_edit_verified" ->
      """WITH s AS (
        |  SELECT doc_id AS id, text AS t, substr(text, 1, 2) AS blk,
        |         LEAD(doc_id) OVER (PARTITION BY substr(text, 1, 2)
        |           ORDER BY text, doc_id) AS nid,
        |         LEAD(text) OVER (PARTITION BY substr(text, 1, 2)
        |           ORDER BY text, doc_id) AS nt
        |  FROM documents),
        |g AS (
        |  SELECT id AS id_a, nid AS id_b,
        |         CASE WHEN substr(t, 1, 64) = substr(nt, 1, 64) THEN 64
        |              WHEN substr(t, 1, 32) = substr(nt, 1, 32) THEN 32
        |              WHEN substr(t, 1, 16) = substr(nt, 1, 16) THEN 16
        |              WHEN substr(t, 1, 8) = substr(nt, 1, 8) THEN 8
        |              ELSE 0 END AS prefix_level,
        |         substr(t, 1, 128) AS t_a, substr(nt, 1, 128) AS t_b
        |  FROM s WHERE nid IS NOT NULL),
        |v AS (
        |  SELECT id_a, id_b, prefix_level,
        |         levenshtein(t_a, t_b) AS edit_dist,
        |         GREATEST(length(t_a), length(t_b)) AS max_len
        |  FROM g WHERE prefix_level >= 8)
        |SELECT id_a, id_b, prefix_level, CAST(edit_dist AS INTEGER) AS edit_dist,
        |       1.0 - CAST(edit_dist AS DOUBLE) / max_len AS edit_sim
        |FROM v WHERE edit_dist * 5 <= max_len ORDER BY id_a, id_b""".stripMargin,

    "q169_sorted_neighbors" ->
      """WITH s AS (
        |  SELECT doc_id AS id, text AS t, substr(text, 1, 2) AS blk,
        |         LEAD(doc_id) OVER (PARTITION BY substr(text, 1, 2)
        |           ORDER BY text, doc_id) AS nid,
        |         LEAD(text) OVER (PARTITION BY substr(text, 1, 2)
        |           ORDER BY text, doc_id) AS nt
        |  FROM documents),
        |g AS (
        |  SELECT id, nid,
        |         CASE WHEN substr(t, 1, 64) = substr(nt, 1, 64) THEN 64
        |              WHEN substr(t, 1, 32) = substr(nt, 1, 32) THEN 32
        |              WHEN substr(t, 1, 16) = substr(nt, 1, 16) THEN 16
        |              WHEN substr(t, 1, 8) = substr(nt, 1, 8) THEN 8
        |              ELSE 0 END AS prefix_level
        |  FROM s WHERE nid IS NOT NULL)
        |SELECT id AS id_a, nid AS id_b, prefix_level
        |FROM g WHERE prefix_level >= 16 ORDER BY id_a, id_b""".stripMargin,

    "q168_tokenizer_fertility" ->
      s"""WITH m AS (
         |  SELECT source, CAST(length(text) AS BIGINT) AS nc,
         |         CAST(len($toksExpr) AS BIGINT) AS nw,
         |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS ns
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(nc) AS BIGINT) AS chars,
         |       CAST(SUM(nw) AS BIGINT) AS words,
         |       CAST(SUM(ns) AS BIGINT) AS subwords,
         |       CAST(SUM(nc) AS DOUBLE) / CAST(SUM(nw) AS BIGINT) AS chars_per_word,
         |       CAST(SUM(nc) AS DOUBLE) / CAST(SUM(ns) AS BIGINT) AS chars_per_subword,
         |       CAST(SUM(ns) AS DOUBLE) / CAST(SUM(nw) AS BIGINT) AS fertility
         |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q166_encoding_health" ->
      """WITH d AS (
        |  SELECT source,
        |         text || CASE WHEN doc_id % 7 = 0 THEN chr(65533) ELSE '' END
        |              || CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END AS t
        |  FROM documents),
        |m AS (
        |  SELECT source, length(t) AS nc,
        |         length(t) - length(translate(t, chr(65533), '')) AS nr,
        |         length(t) - length(regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS nk,
        |         length(regexp_replace(t, '[^\x20-\x7E\t\n\r]', '', 'g')) AS na
        |  FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN nr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mojibake,
        |       CAST(SUM(CASE WHEN nk > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
        |       CAST(SUM(CASE WHEN nr > 0 OR nk > 0 OR na * 5 < nc * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_unhealthy,
        |       CAST(SUM(na) AS BIGINT) AS ascii_chars,
        |       CAST(SUM(nc) AS BIGINT) AS total_chars,
        |       CAST(SUM(na) AS DOUBLE) / CAST(SUM(nc) AS BIGINT) AS ascii_ratio
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q165_distribution_drift" ->
      """WITH d AS (
        |  SELECT n_chars AS n, (doc_id % 2 = 1) AS nu FROM documents),
        |hist AS (
        |  SELECT CASE WHEN n <= 1 THEN 0
        |              ELSE CAST(length(bin(n - 1)) AS INTEGER) END AS bucket,
        |         CAST(SUM(CASE WHEN nu THEN 0 ELSE 1 END) AS BIGINT) AS n_old,
        |         CAST(SUM(CASE WHEN nu THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM d GROUP BY 1),
        |t AS (
        |  SELECT bucket, n_old, n_new,
        |         SUM(n_old) OVER () AS tot_old, SUM(n_new) OVER () AS tot_new,
        |         COUNT(*) OVER () AS nb
        |  FROM hist),
        |p AS (
        |  SELECT bucket, n_old, n_new,
        |         CAST(n_old + 1 AS DOUBLE) / (tot_old + nb) AS p_old,
        |         CAST(n_new + 1 AS DOUBLE) / (tot_new + nb) AS p_new
        |  FROM t)
        |SELECT bucket, n_old, n_new, p_old, p_new,
        |       CAST(FLOOR((p_new - p_old) * ln(p_new / p_old) * 1048576.0) AS BIGINT) AS psi_fp
        |FROM p ORDER BY bucket""".stripMargin,

    "q162_hamming_neardup" ->
      s"""WITH s AS (
         |  SELECT vec_id AS id, ${bucketExpr("embedding", 32)} AS sig
         |  FROM embeddings),
         |bd AS (
         |  SELECT id, sig, band, (sig >> (band * 8)) & 255 AS bkey
         |  FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |p AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
         |  FROM bd a JOIN bd b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
         |FROM p WHERE bit_count(xor(sig_a, sig_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "q161_quality_canonical" ->
      ("WITH RECURSIVE verified AS (\n" + minhashPairsSql + "\n),\n" +
       s"""edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified
         |  UNION ALL SELECT id_b, id_a FROM verified),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, lab) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
         |m AS (
         |  SELECT d.doc_id AS id, COALESCE(cl.cluster_id, d.doc_id) AS cid,
         |         CAST(len($toksExpr) AS BIGINT) AS q
         |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
         |best AS (
         |  SELECT cid, id AS keep_id FROM (
         |    SELECT cid, id,
         |           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY q DESC, id ASC) AS rn
         |    FROM m) WHERE rn = 1)
         |SELECT m.id, m.cid, m.q, (m.id = b.keep_id) AS keep
         |FROM m JOIN best b USING (cid) ORDER BY id""".stripMargin),

    "q160_chunk_stitch" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(FLOOR(length(text) / 2) AS INTEGER) AS half
        |  FROM documents WHERE length(text) >= 48),
        |chunks AS (
        |  SELECT doc_id * 2 AS id, substr(text, 1, half + 24) AS t FROM d
        |  UNION ALL
        |  SELECT doc_id * 2 + 1 AS id, substr(text, half + 1, length(text) - half) AS t FROM d),
        |base AS (SELECT id, t FROM chunks WHERE length(t) >= 24),
        |heads AS (SELECT id, md5(substr(t, 1, 24)) AS h FROM base),
        |tails AS (SELECT id, md5(substr(t, length(t) - 23, 24)) AS h FROM base),
        |hk AS (SELECT id, h FROM heads
        |       WHERE h IN (SELECT h FROM heads GROUP BY h HAVING COUNT(*) <= 8)),
        |tk AS (SELECT id, h FROM tails
        |       WHERE h IN (SELECT h FROM tails GROUP BY h HAVING COUNT(*) <= 8))
        |SELECT a.id AS id_a, b.id AS id_b, a.h AS boundary_h
        |FROM tk a JOIN hk b ON a.h = b.h AND a.id <> b.id
        |ORDER BY id_a, id_b""".stripMargin,

    "q159_calibration_buckets" ->
      s"""WITH t AS (SELECT doc_id AS id, $toksExpr AS w FROM documents),
         |uni AS (SELECT id, unnest(w) AS s FROM t),
         |big AS (
         |  SELECT id, unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
         |    i -> concat_ws(' ', w[CAST(i AS INTEGER)], w[CAST(i AS INTEGER) + 1]))) AS s
         |  FROM t),
         |grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
         |gb AS (
         |  SELECT id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 1024 AS b
         |  FROM grams),
         |wt AS (
         |  SELECT range AS b,
         |         CAST('0x' || substr(md5(CAST(range AS VARCHAR)), 1, 15) AS BIGINT)
         |           % 2097153 - 1048576 AS w_fp
         |  FROM range(0, 1024)),
         |agg AS (
         |  SELECT id, COUNT(*) AS n_grams, SUM(w_fp) AS sum_fp
         |  FROM gb JOIN wt USING (b) GROUP BY id),
         |scored AS (
         |  SELECT a.id, CAST(a.sum_fp AS DOUBLE) / 1048576.0 / a.n_grams AS mean_w,
         |         (d.lang = 'en') AS y
         |  FROM agg a JOIN documents d ON a.id = d.doc_id),
         |bk AS (
         |  SELECT LEAST(GREATEST(CAST(FLOOR((mean_w + 1.0) * 5.0) AS INTEGER), 0), 9) AS bucket,
         |         CAST(FLOOR(mean_w * 1048576.0) AS BIGINT) AS mw_fp, y
         |  FROM scored)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pos_rate,
         |       CAST(SUM(mw_fp) AS DOUBLE) / 1048576.0 / COUNT(*) AS mean_score
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q158_lloyd_kmeans" -> {
      // formula centroid component for (c, i): matches lloydRefine's init
      val cv0 = "(CAST(((c * 37 + (CAST(i AS INTEGER) - 1) * 13) % 41 - 20) AS DOUBLE) / 10.0)"
      def ed(i: String) = s"CAST(e.embedding[CAST($i AS INTEGER)] AS DOUBLE)"
      val distInit = foldSum(
        s"list_transform(range(1, 65), i -> (${ed("i")} - $cv0) * (${ed("i")} - $cv0))")
      val distUpd = foldSum(
        s"list_transform(range(1, 65), i -> (${ed("i")} - cv[CAST(i AS INTEGER)]) * (${ed("i")} - cv[CAST(i AS INTEGER)]))")
      s"""WITH a1 AS (
         |  SELECT e.vec_id, e.embedding,
         |         list_transform(range(0, 8), c -> $distInit) AS dists
         |  FROM embeddings e),
         |a1c AS (
         |  SELECT vec_id, embedding,
         |         CAST(list_position(dists, list_aggregate(dists, 'min')) - 1 AS INTEGER) AS c
         |  FROM a1),
         |mm AS (
         |  SELECT c, i AS dim, COUNT(*) AS n,
         |         SUM(CAST(FLOOR(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1048576.0) AS BIGINT)) AS s
         |  FROM a1c CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
         |  GROUP BY c, i),
         |m2 AS (SELECT c, dim, CAST(s AS DOUBLE) / 1048576.0 / n AS m FROM mm),
         |cent2 AS (SELECT c, list(m ORDER BY dim) AS cv FROM m2 GROUP BY c),
         |cl AS (SELECT list(cv ORDER BY c) AS cents FROM cent2),
         |a2 AS (
         |  SELECT e.vec_id,
         |         list_transform(cents, cv -> $distUpd) AS dists
         |  FROM embeddings e CROSS JOIN cl)
         |SELECT CAST(list_position(dists, list_aggregate(dists, 'min')) - 1 AS INTEGER) AS cluster,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(CAST(FLOOR(list_aggregate(dists, 'min') * 1048576.0) AS BIGINT)) AS BIGINT) AS inertia_fp,
         |       CAST(SUM(CAST(FLOOR(list_aggregate(dists, 'min') * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0 AS inertia
         |FROM a2 GROUP BY 1 ORDER BY cluster""".stripMargin
    },

    "q157_dedup_savings" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS id, source AS src, md5(text) AS h,
         |         CAST(len($toksExpr) AS BIGINT) AS n_tok
         |  FROM documents),
         |canon AS (SELECT h, MIN(id) AS keep_id FROM docs GROUP BY h)
         |SELECT d.src AS source,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN d.id = c.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
         |       CAST(SUM(d.n_tok) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN d.id = c.keep_id THEN d.n_tok ELSE 0 END) AS BIGINT) AS n_tokens_kept,
         |       CAST(SUM(CASE WHEN d.id = c.keep_id THEN d.n_tok ELSE 0 END) AS DOUBLE)
         |         / CAST(SUM(d.n_tok) AS DOUBLE) AS token_keep_rate
         |FROM docs d JOIN canon c USING (h)
         |GROUP BY d.src ORDER BY source""".stripMargin,

    "q156_source_minhash_overlap" ->
      s"""WITH sh0 AS (
         |  SELECT source, $toksExpr AS w FROM documents),
         |shl AS (
         |  SELECT source,
         |         list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
         |           i -> concat_ws(' ', w[CAST(i AS INTEGER)], w[CAST(i AS INTEGER) + 1], w[CAST(i AS INTEGER) + 2]))) AS sh
         |  FROM sh0),
         |g AS (SELECT DISTINCT source AS src, unnest(sh) AS s FROM shl),
         |bs AS (
         |  SELECT src,
         |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2038074743 AS b
         |  FROM g),
         |sig AS (
         |  SELECT src, k,
         |         MIN(((1 + ((k * 2654435761) % 2038074742)) * b
         |              + ((k * 40503 + 17) % 2038074743)) % 2038074743) AS mh
         |  FROM bs CROSS JOIN (SELECT unnest(range(0, 64)) AS k)
         |  GROUP BY src, k)
         |SELECT a.src AS src_a, b2.src AS src_b,
         |       CAST(SUM(CASE WHEN a.mh = b2.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |       CAST(SUM(CASE WHEN a.mh = b2.mh THEN 1 ELSE 0 END) AS DOUBLE) / 64 AS jaccard_est
         |FROM sig a JOIN sig b2 ON a.k = b2.k AND a.src < b2.src
         |GROUP BY a.src, b2.src ORDER BY src_a, src_b""".stripMargin,

    "q155_triplet_mine" ->
      s"""WITH bucketed AS (
         |  SELECT vec_id, label, embedding,
         |         ${bucketExpr("embedding", 4)} AS bucket
         |  FROM embeddings),
         |cand AS (
         |  SELECT a.vec_id AS id_a, a.label AS lab_a,
         |         b.vec_id AS id_b, b.label AS lab_b,
         |         ${dotExpr("a.embedding", "b.embedding")}
         |           / (SQRT(${dotExpr("a.embedding", "a.embedding")})
         |              * SQRT(${dotExpr("b.embedding", "b.embedding")})) AS c
         |  FROM bucketed a JOIN bucketed b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |pos AS (
         |  SELECT id_a, id_b, c,
         |         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY c ASC, id_b ASC) AS rn
         |  FROM cand WHERE lab_a = lab_b),
         |neg AS (
         |  SELECT id_a, id_b, c,
         |         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY c DESC, id_b ASC) AS rn
         |  FROM cand WHERE lab_a <> lab_b),
         |anchors AS (SELECT DISTINCT id_a, lab_a FROM cand)
         |SELECT an.id_a AS vec_id, an.lab_a AS label,
         |       p.id_b AS pos_id, p.c AS pos_cosine,
         |       n.id_b AS neg_id, n.c AS neg_cosine
         |FROM anchors an
         |LEFT JOIN pos p ON p.id_a = an.id_a AND p.rn = 1
         |LEFT JOIN neg n ON n.id_a = an.id_a AND n.rn = 1
         |ORDER BY vec_id""".stripMargin,

    "q153_materialized_recipe" ->
      s"""WITH docs AS (
         |  SELECT doc_id, source, CAST(len($toksExpr) AS BIGINT) AS n_tokens
         |  FROM documents),
         |pd AS (
         |  SELECT source, COUNT(*) AS n_docs FROM docs GROUP BY source),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM pd),
         |w AS (
         |  SELECT source,
         |         CASE WHEN tbp IS NOT NULL
         |              THEN (tbp * n_total * 1048576) // (10000 * n_docs)
         |              ELSE 1048576 END AS w_fp
         |  FROM (SELECT source, n_docs,
         |               CASE source WHEN 'src1' THEN 800 WHEN 'src4' THEN 600
         |                           WHEN 'src7' THEN 400 WHEN 'src12' THEN 200 END AS tbp,
         |               tot.n_total
         |        FROM pd CROSS JOIN tot)),
         |c AS (
         |  SELECT d.doc_id, d.source, d.n_tokens,
         |         w.w_fp // 1048576
         |           + CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':up'), 1, 15) AS BIGINT)
         |                       % 1048576 < w.w_fp % 1048576
         |                  THEN 1 ELSE 0 END AS n_copies
         |  FROM docs d JOIN w USING (source))
         |SELECT source, CAST(SUM(n_copies) AS BIGINT) AS n_emitted,
         |       CAST(SUM(n_copies * n_tokens) AS BIGINT) AS emitted_tokens
         |FROM c WHERE n_copies > 0 GROUP BY source ORDER BY source""".stripMargin,

    "q152_batch_shapes" ->
      s"""WITH t AS (SELECT CAST(len($toksExpr) AS BIGINT) AS n FROM documents),
         |b AS (
         |  SELECT n, CASE WHEN n <= 1 THEN 0
         |                 ELSE length(bin(n - 1)) END AS bucket
         |  FROM t)
         |SELECT CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n_docs,
         |       CAST(SUM(n) AS BIGINT) AS tokens,
         |       CAST(SUM((CAST(1 AS BIGINT) << bucket) - n) AS BIGINT) AS padding
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q150_dimension_audit" ->
      """WITH x AS (
        |  SELECT CAST(r.range AS INTEGER) - 1 AS dim,
        |         embedding[CAST(r.range AS INTEGER)] AS v
        |  FROM embeddings CROSS JOIN range(1, 65) r),
        |q AS (
        |  SELECT dim,
        |         CAST(FLOOR(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS q20,
        |         CAST(FLOOR(CAST(v AS DOUBLE) * 1024) AS BIGINT) AS q10,
        |         CASE WHEN v = 0 THEN 1 ELSE 0 END AS z
        |  FROM x)
        |SELECT dim, COUNT(*) AS n, CAST(SUM(z) AS BIGINT) AS n_zero,
        |       MIN(q20) AS min_fp, MAX(q20) AS max_fp,
        |       CAST(SUM(q20) AS BIGINT) AS sum_fp,
        |       CAST(SUM(q10 * q10) AS BIGINT) AS sumsq_fp
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,

    "q149_vocab_coverage" ->
      s"""WITH tok AS (SELECT unnest($toksExpr) AS tok FROM documents),
         |c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
         |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
         |r AS (
         |  SELECT tok, cnt,
         |         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk,
         |         SUM(cnt) OVER (ORDER BY cnt DESC, tok
         |                        ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM c),
         |hs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_head,
         |              CAST(COALESCE(MAX(cum), 0) AS BIGINT) AS head_cum
         |       FROM r WHERE rnk <= 10),
         |tail AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_types,
         |                CAST(SUM(cnt) AS BIGINT) AS occ
         |         FROM r WHERE rnk > 10 GROUP BY cnt),
         |tb AS (SELECT cnt, n_types,
         |              SUM(n_types) OVER (ORDER BY cnt DESC
         |                                 ROWS UNBOUNDED PRECEDING) AS cum_types,
         |              SUM(occ) OVER (ORDER BY cnt DESC
         |                             ROWS UNBOUNDED PRECEDING) AS cum_occ
         |       FROM tail),
         |u AS (
         |  SELECT rnk AS rank_lo, rnk AS rank_hi, tok,
         |         CAST(cnt AS BIGINT) AS cnt, CAST(1 AS BIGINT) AS n_types,
         |         CAST(cum AS BIGINT) AS cum_cnt
         |  FROM r WHERE rnk <= 10
         |  UNION ALL
         |  SELECT CAST(hs.n_head + tb.cum_types - tb.n_types + 1 AS BIGINT),
         |         CAST(hs.n_head + tb.cum_types AS BIGINT),
         |         CAST(NULL AS VARCHAR), CAST(tb.cnt AS BIGINT), tb.n_types,
         |         CAST(hs.head_cum + tb.cum_occ AS BIGINT)
         |  FROM tb CROSS JOIN hs)
         |SELECT rank_lo, rank_hi, tok, cnt, n_types, cum_cnt,
         |       CAST((CAST(cum_cnt AS HUGEINT) * 1048576) // total AS BIGINT) AS cum_share_fp
         |FROM u CROSS JOIN t ORDER BY rank_lo""".stripMargin,

    "q148_ann_recall" ->
      s"""WITH bucketed AS (
         |  SELECT vec_id, embedding, ${bucketExpr("embedding", 4)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, bucket AS qb
         |      FROM bucketed WHERE vec_id < 6),
         |truth AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |             ${dotExpr("e.embedding", "q.qv")}
         |               / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |                  * SQRT(${dotExpr("q.qv", "q.qv")})) DESC, e.vec_id) AS rank
         |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
         |  WHERE rank <= 5),
         |approx AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |             ${dotExpr("e.embedding", "q.qv")}
         |               / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |                  * SQRT(${dotExpr("q.qv", "q.qv")})) DESC, e.vec_id) AS rank
         |    FROM bucketed e JOIN q ON e.bucket = q.qb WHERE e.vec_id <> q.qid)
         |  WHERE rank <= 5)
         |SELECT t.qid, COUNT(*) AS k_eval,
         |       CAST(COALESCE(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 END), 0)
         |         AS BIGINT) AS n_hit,
         |       CAST(COALESCE(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 END), 0)
         |         AS DOUBLE) / COUNT(*) AS recall
         |FROM truth t LEFT JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,

    "q147_target_mixture" ->
      s"""WITH t AS (
         |  SELECT source AS domain, CAST(len($toksExpr) AS BIGINT) AS nt
         |  FROM documents),
         |pd AS (
         |  SELECT domain, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
         |  FROM t GROUP BY domain),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM pd),
         |w AS (
         |  SELECT domain, n_docs, n_tokens,
         |         CASE domain WHEN 'src1' THEN 800 WHEN 'src4' THEN 600
         |                     WHEN 'src7' THEN 400 WHEN 'src12' THEN 200 END AS tbp,
         |         tot.n_total
         |  FROM pd CROSS JOIN tot),
         |f AS (
         |  SELECT domain, n_docs, n_tokens,
         |         COALESCE(tbp, -1) AS target_bp,
         |         CASE WHEN tbp IS NOT NULL
         |              THEN (tbp * n_total * 1048576) // (10000 * n_docs)
         |              ELSE 1048576 END AS w_fp
         |  FROM w)
         |SELECT domain, n_docs, n_tokens, CAST(target_bp AS BIGINT) AS target_bp,
         |       CAST(w_fp AS BIGINT) AS w_fp,
         |       CAST((n_tokens * w_fp) // 1048576 AS BIGINT) AS budget_tokens
         |FROM f ORDER BY domain""".stripMargin,

    "q146_cluster_split" ->
      ("WITH RECURSIVE verified AS (\n" + minhashPairsSql + "\n),\n" +
       """edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified
         |  UNION ALL SELECT id_b, id_a FROM verified),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, lab) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
         |m AS (
         |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cid
         |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id),
         |c AS (
         |  SELECT doc_id, cid,
         |         CASE WHEN CAST('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 80 THEN 'train'
         |              WHEN CAST('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM m),
         |l AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |           AS n_leaky_clusters
         |  FROM (SELECT cid, COUNT(DISTINCT split) AS ns FROM c GROUP BY cid))
         |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT cid) AS n_clusters,
         |       l.n_leaky_clusters
         |FROM c CROSS JOIN l GROUP BY split, l.n_leaky_clusters ORDER BY split""".stripMargin),

    "q145_bucketed_dedup" ->
      """WITH u AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT text FROM documents WHERE doc_id % 3 = 0),
        |g AS (
        |  SELECT md5(text) AS h, COUNT(*) AS n_copies
        |  FROM u GROUP BY md5(text))
        |SELECT n_copies, COUNT(*) AS n_groups
        |FROM g GROUP BY n_copies ORDER BY n_copies""".stripMargin,

    "q144_gram_novelty" ->
      s"""WITH $shinglesCte,
         |g AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM sh),
         |f AS (SELECT s, MIN(doc_id) AS first_id FROM g GROUP BY s)
         |SELECT g.doc_id, COUNT(*) AS n_grams,
         |       CAST(SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_novel,
         |       CAST(SUM(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END)
         |         AS DOUBLE) / COUNT(*) AS novelty
         |FROM g JOIN f USING (s) GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "q143_semantic_decontam" ->
      s"""WITH t AS (
         |  SELECT vec_id AS id_t, embedding AS vec_t,
         |         ${bucketExpr("embedding", 8)} AS bkt,
         |         SQRT(${dotExpr("embedding", "embedding")}) AS nrm_t
         |  FROM embeddings),
         |b0 AS (
         |  SELECT vec_id + 200000 AS id_b,
         |         list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS vec_b
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |b AS (
         |  SELECT id_b, vec_b, ${bucketExpr("vec_b", 8)} AS bkt,
         |         SQRT(${dotExpr("vec_b", "vec_b")}) AS nrm_b
         |  FROM b0),
         |hits AS (
         |  SELECT t.id_t, ${dotExpr("t.vec_t", "b.vec_b")} / (t.nrm_t * b.nrm_b) AS c
         |  FROM t JOIN b USING (bkt))
         |SELECT id_t AS train_id, COUNT(*) AS n_hits,
         |       ROUND(MAX(c), 6) AS max_cosine
         |FROM hits WHERE c >= 0.9 GROUP BY id_t ORDER BY train_id""".stripMargin,

    "q142_mad_outliers" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        |r AS (
        |  SELECT source, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM d),
        |m AS (SELECT source, n_chars AS med FROM r WHERE rn = (n * 50 + 99) // 100),
        |dv AS (
        |  SELECT d.source, d.n_chars, m.med,
        |         ABS(d.n_chars - m.med) AS dev
        |  FROM d JOIN m USING (source)),
        |r2 AS (
        |  SELECT source, dev,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY dev) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM dv),
        |md AS (SELECT source, dev AS mad FROM r2 WHERE rn = (n * 50 + 99) // 100)
        |SELECT dv.source, COUNT(*) AS n_docs, MIN(dv.med) AS med, MIN(md.mad) AS mad,
        |       CAST(SUM(CASE WHEN dv.dev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       CAST(COALESCE(SUM(CASE WHEN dv.dev > 3 * md.mad THEN dv.n_chars END), 0)
        |         AS BIGINT) AS outlier_mass
        |FROM dv JOIN md USING (source) GROUP BY dv.source ORDER BY dv.source""".stripMargin,

    "q141_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
        |new AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 3 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0),
        |j AS (
        |  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
        |              WHEN n.doc_id IS NULL THEN 'removed'
        |              WHEN md5(o.text) <> md5(n.text) THEN 'changed'
        |              ELSE 'unchanged' END AS status,
        |         COALESCE(length(o.text), 0) AS chars_old,
        |         COALESCE(length(n.text), 0) AS chars_new
        |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT status, COUNT(*) AS n_docs,
        |       CAST(SUM(chars_old) AS BIGINT) AS chars_old,
        |       CAST(SUM(chars_new) AS BIGINT) AS chars_new
        |FROM j GROUP BY status ORDER BY status""".stripMargin,

    "q140_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toksExpr) AS tok FROM documents),
         |n AS (SELECT COUNT(*) AS n_total FROM tok)
         |SELECT tok, COUNT(*) AS cnt, n.n_total
         |FROM tok CROSS JOIN n GROUP BY tok, n.n_total
         |HAVING COUNT(*) * 30 > n.n_total ORDER BY tok""".stripMargin,

    "q139_concat_chunks" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksExpr) AS BIGINT) AS n_tokens FROM documents),
         |sh AS (
         |  SELECT doc_id, n_tokens,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
         |         md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM t),
         |c AS (
         |  SELECT shard, n_tokens,
         |         SUM(n_tokens + 1) OVER (PARTITION BY shard ORDER BY h, doc_id
         |                                 ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sh),
         |st AS (
         |  SELECT shard, n_tokens, cum,
         |         CASE WHEN n_tokens > 0
         |                   AND (cum - n_tokens - 1) // 128 <> (cum - 2) // 128
         |              THEN 1 ELSE 0 END AS straddle
         |  FROM c),
         |a AS (
         |  SELECT shard, COUNT(*) AS n_docs,
         |         CAST(MAX(cum) AS BIGINT) AS total_tokens,
         |         CAST(SUM(straddle) AS BIGINT) AS n_straddle
         |  FROM st GROUP BY shard)
         |SELECT shard, n_docs, total_tokens,
         |       (total_tokens + 127) // 128 AS n_seqs, n_straddle,
         |       ((total_tokens + 127) // 128) * 128 - total_tokens AS tail_pad
         |FROM a ORDER BY shard""".stripMargin,

    "q137_paragraph_dedup" ->
      """WITH p0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\. ')) AS p FROM documents),
        |p AS (
        |  SELECT doc_id, md5(p) AS h FROM p0 WHERE length(p) >= 20),
        |occ AS (SELECT h, COUNT(*) AS n_occ FROM p GROUP BY h),
        |a AS (
        |  SELECT doc_id, COUNT(*) AS n_paras,
        |         CAST(SUM(CASE WHEN occ.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras
        |  FROM p JOIN occ USING (h) GROUP BY doc_id)
        |SELECT doc_id, n_paras, n_dup_paras,
        |       CAST(n_dup_paras AS DOUBLE) / n_paras AS dup_frac
        |FROM a ORDER BY doc_id""".stripMargin,

    "q134_length_quantiles" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |c AS (SELECT source, n AS n_docs FROM r WHERE rn = 1),
        |q50 AS (SELECT source, n_chars AS p50 FROM r WHERE rn = (n * 50 + 99) // 100),
        |q90 AS (SELECT source, n_chars AS p90 FROM r WHERE rn = (n * 90 + 99) // 100),
        |q99 AS (SELECT source, n_chars AS p99 FROM r WHERE rn = (n * 99 + 99) // 100)
        |SELECT c.source, c.n_docs, q50.p50, q90.p90, q99.p99
        |FROM c JOIN q50 USING (source) JOIN q90 USING (source) JOIN q99 USING (source)
        |ORDER BY source""".stripMargin,

    "q226_cdc_store" -> cdcStoreOracle,
    "q227_stream_cdc" -> cdcStoreOracle,



    "q225_robust_stats" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |flo AS (SELECT source, n_chars AS lo FROM r WHERE rn = (n * 10 + 99) // 100),
        |fhi AS (SELECT source, n_chars AS hi FROM r WHERE rn = (n * 90 + 99) // 100),
        |j AS (
        |  SELECT d.source, d.n_chars, flo.lo, fhi.hi,
        |         GREATEST(LEAST(d.n_chars, fhi.hi), flo.lo) AS w,
        |         CASE WHEN d.n_chars >= flo.lo AND d.n_chars <= fhi.hi
        |              THEN 1 ELSE 0 END AS keep
        |  FROM documents d JOIN flo USING (source) JOIN fhi USING (source))
        |SELECT source, COUNT(*) AS n, MIN(lo) AS lo, MIN(hi) AS hi,
        |       CAST(SUM(keep) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS trim_sum,
        |       CAST(SUM(w) AS BIGINT) AS wins_sum,
        |       CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS DOUBLE)
        |         / SUM(keep) AS trim_mean,
        |       CAST(SUM(w) AS DOUBLE) / COUNT(*) AS wins_mean
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "q135_hash_split" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, h, CAST('0x' || substr(h, 1, 15) AS BIGINT) % 100 AS pct
        |  FROM a),
        |c AS (
        |  SELECT doc_id, h,
        |         CASE WHEN pct < 80 THEN 'train'
        |              WHEN pct < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM b),
        |l AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |           AS n_leaky_groups
        |  FROM (SELECT h, COUNT(DISTINCT split) AS ns FROM c GROUP BY h))
        |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT h) AS n_groups,
        |       l.n_leaky_groups
        |FROM c CROSS JOIN l GROUP BY split, l.n_leaky_groups ORDER BY split""".stripMargin,

    "q119_image_hash_dedup" ->
      """WITH hk(k, ahash) AS (VALUES
        |    (0, 4379601722262086460), (1, -8680820740569200761),
        |    (2, 6245319962565193046), (3, 5504566643220138316),
        |    (4, -72056498821201921), (5, 3921748740079983414),
        |    (6, -6509625287690119771)),
        |m AS (
        |  SELECT d.doc_id, hk.ahash FROM documents d JOIN hk ON d.doc_id % 7 = hk.k)
        |SELECT ahash, COUNT(*) AS n_images, MIN(doc_id) AS keep_id
        |FROM m GROUP BY ahash HAVING COUNT(*) > 1 ORDER BY ahash""".stripMargin,

    "q118_normalized_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || ' !!' FROM documents),
        |n AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS h
        |  FROM u)
        |SELECT h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM n GROUP BY h HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,

    "q117_fuzzy_decontaminate" ->
      (s"WITH $minhashBandedCte,\n" +
      """cand AS (
         |  SELECT DISTINCT a.doc_id AS id_t, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
         |v AS (
         |  SELECT id_t, id_b,
         |         CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         |           / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
         |  FROM cand),
         |f AS (SELECT * FROM v WHERE jaccard >= 0.5),
         |agg AS (
         |  SELECT id_t, COUNT(*) AS n_matches, MAX(jaccard) AS max_jaccard
         |  FROM f GROUP BY id_t),
         |pick AS (
         |  SELECT f.id_t, MIN(f.id_b) AS bench_id
         |  FROM f JOIN agg ON f.id_t = agg.id_t AND f.jaccard = agg.max_jaccard
         |  GROUP BY f.id_t)
        |SELECT agg.id_t AS doc_id, agg.n_matches, agg.max_jaccard, pick.bench_id
        |FROM agg JOIN pick ON agg.id_t = pick.id_t ORDER BY doc_id""".stripMargin),

    "q116_tfidf_pairs" ->
      s"""WITH t0 AS (SELECT doc_id, $toksExpr AS w FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |           i -> concat_ws(' ', w[CAST(i AS INTEGER)],
         |                w[CAST(i AS INTEGER) + 1], w[CAST(i AS INTEGER) + 2]))) AS s
         |  FROM t0),
         |tf AS (SELECT doc_id AS id, s, COUNT(*) AS tf FROM g GROUP BY doc_id, s),
         |nd AS (SELECT COUNT(DISTINCT id) AS n_docs FROM tf),
         |dfq AS (SELECT s, COUNT(*) AS df FROM tf GROUP BY s HAVING COUNT(*) <= 50),
         |wt AS (
         |  SELECT t.id, t.s,
         |         t.tf * CAST(floor(ln(CAST(n.n_docs AS DOUBLE) / d.df) * 65536.0) AS BIGINT) AS w_fp
         |  FROM tf t JOIN dfq d USING (s) CROSS JOIN nd n),
         |nrm AS (SELECT id, SUM(w_fp * w_fp) AS n2 FROM wt GROUP BY id),
         |dots AS (
         |  SELECT a.id AS id_a, b.id AS id_b, SUM(a.w_fp * b.w_fp) AS dot_fp
         |  FROM wt a JOIN wt b ON a.s = b.s AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |c AS (
         |  SELECT d.id_a, d.id_b,
         |         CAST(d.dot_fp AS DOUBLE) /
         |           (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         |  FROM dots d JOIN nrm na ON d.id_a = na.id JOIN nrm nb ON d.id_b = nb.id)
         |SELECT id_a AS doc_a, id_b AS doc_b, cosine FROM c
         |WHERE cosine >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    "q113_bloom_prefilter" ->
      """WITH seen AS (
        |  SELECT md5(text) AS key FROM documents WHERE doc_id % 2 = 0),
        |h AS (SELECT key, unnest(range(0, 3)) AS j FROM seen),
        |bits AS (
        |  SELECT DISTINCT
        |         CAST('0x' || substr(md5(key || '#' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 4096 AS pos
        |  FROM h),
        |probe AS (
        |  SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 2 = 1),
        |pp AS (SELECT doc_id, key, unnest(range(0, 3)) AS j FROM probe),
        |ppos AS (
        |  SELECT doc_id,
        |         CAST('0x' || substr(md5(key || '#' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 4096 AS pos
        |  FROM pp),
        |memb AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN BOOL_AND(pos IN (SELECT pos FROM bits)) THEN 1 ELSE 0 END AS INTEGER) AS maybe_seen
        |  FROM ppos GROUP BY doc_id),
        |ex AS (SELECT DISTINCT key FROM seen)
        |SELECT p.doc_id, m.maybe_seen,
        |       CAST(CASE WHEN e.key IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS actually_seen
        |FROM probe p JOIN memb m USING (doc_id) LEFT JOIN ex e ON p.key = e.key
        |ORDER BY doc_id""".stripMargin,

    "q112_top_dup_grams" ->
      s"""WITH t0 AS (SELECT doc_id, $toksExpr AS w FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |           i -> concat_ws(' ', w[CAST(i AS INTEGER)],
         |                w[CAST(i AS INTEGER) + 1], w[CAST(i AS INTEGER) + 2]))) AS gram
         |  FROM t0),
         |c AS (SELECT gram, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
         |      FROM g GROUP BY gram)
         |SELECT gram, n_occ, n_docs FROM c
         |WHERE n_occ >= 2 ORDER BY n_occ DESC, gram LIMIT 20""".stripMargin,

    "q114_dup_gram_mass" ->
      s"""WITH t0 AS (SELECT doc_id, $toksExpr AS w FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
         |           i -> concat_ws(' ', w[CAST(i AS INTEGER)],
         |                w[CAST(i AS INTEGER) + 1]))) AS s
         |  FROM t0),
         |pc AS (SELECT doc_id, s, COUNT(*) AS c FROM g GROUP BY doc_id, s),
         |per AS (SELECT doc_id, SUM(c) AS n_grams,
         |               SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ,
         |               SUM(c * length(s)) AS mass,
         |               SUM(CASE WHEN c >= 2 THEN c * length(s) ELSE 0 END) AS dup_mass
         |        FROM pc GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
         |       CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
         |            ELSE CAST(p.dup_occ AS DOUBLE) / p.n_grams END AS dup_gram_frac,
         |       CASE WHEN COALESCE(p.mass, 0) = 0 THEN 0.0
         |            ELSE CAST(p.dup_mass AS DOUBLE) / p.mass END AS dup_char_frac
         |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q111_ppl_buckets" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest($toksExpr) AS s FROM documents),
         |cnt AS (SELECT s, COUNT(*) AS c FROM tok GROUP BY s),
         |tot AS (SELECT SUM(c) AS tot, COUNT(*) AS vocab FROM cnt),
         |model AS (
         |  SELECT s,
         |         CAST(floor(ln((c + 1.0) / (tot + vocab)) * 1048576.0) AS BIGINT) AS lp_fp
         |  FROM cnt CROSS JOIN tot),
         |agg AS (
         |  SELECT t.id, COUNT(*) AS n_tokens, SUM(m.lp_fp) AS sum_fp
         |  FROM tok t JOIN model m USING (s) GROUP BY t.id),
         |scored AS (
         |  SELECT a.id, d.lang, a.n_tokens,
         |         CAST(a.sum_fp AS DOUBLE) / 1048576.0 / a.n_tokens AS mean_logp
         |  FROM agg a JOIN documents d ON a.id = d.doc_id)
         |SELECT id AS doc_id, lang, n_tokens, mean_logp,
         |       CAST(ntile(3) OVER (PARTITION BY lang
         |              ORDER BY mean_logp DESC, id) AS INTEGER) AS ppl_bucket
         |FROM scored ORDER BY doc_id""".stripMargin,

    "q98_unigram_logprob" ->
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest($toksExpr) AS s FROM documents),
         |cnt AS (SELECT s, COUNT(*) AS c FROM tok GROUP BY s),
         |tot AS (SELECT SUM(c) AS tot, COUNT(*) AS vocab FROM cnt),
         |model AS (
         |  SELECT s,
         |         CAST(floor(ln((c + 1.0) / (tot + vocab)) * 1048576.0) AS BIGINT) AS lp_fp
         |  FROM cnt CROSS JOIN tot),
         |agg AS (
         |  SELECT t.id, COUNT(*) AS n_tokens, SUM(m.lp_fp) AS sum_fp
         |  FROM tok t JOIN model m USING (s) GROUP BY t.id)
         |SELECT id AS doc_id, n_tokens,
         |       CAST(sum_fp AS DOUBLE) / 1048576.0 / n_tokens AS mean_logp
         |FROM agg ORDER BY doc_id""".stripMargin,

    "q94_substring_dup" -> substringDupOracle("documents"),

    // q213: q94's exact replay over the VIRAL-HEADER corpus — the
    // adversarial bench fixture for the de-skewed window counting
    "q213_viral_substring" -> substringDupOracle("seeded",
      s"""seeded AS (SELECT doc_id,
         |  CASE WHEN doc_id < 300 THEN '$ViralHeader ' || text ELSE text END AS text
         |  FROM documents),
         |""".stripMargin),

    "q93_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS q_scale
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, q_scale,
        |         CASE WHEN q_scale = 0
        |           THEN list_transform(embedding, x -> 0)
        |           ELSE list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / q_scale + 0.5) AS INTEGER)) END AS q
        |  FROM s)
        |SELECT vec_id, q_scale,
        |       CAST(list_sum(q) AS BIGINT) AS sum_q,
        |       CAST(list_aggregate(q, 'min') AS INTEGER) AS min_q,
        |       CAST(list_aggregate(q, 'max') AS INTEGER) AS max_q,
        |       CAST(len(list_filter(q, x -> x <> 0)) AS INTEGER) AS n_nonzero
        |FROM c ORDER BY vec_id""".stripMargin,

    "q45_dedup_exact" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM doubled GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "q46_dedup_prefix" ->
      """SELECT md5(substr(text, 1, 64)) AS h, MIN(doc_id) AS keep_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin,

    // NOTE: minhashPairsSql is already margin-stripped — concatenate,
    // never re-stripMargin (its `|| '|' ||` lines would be mangled)
    "q47_dedup_minhash" ->
      (minhashPairsSql + "\nORDER BY id_a, id_b"),

    "q70_dedup_clusters" ->
      ("WITH RECURSIVE verified AS (\n" + minhashPairsSql + "\n),\n" +
       """edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified
         |  UNION ALL SELECT id_b, id_a FROM verified),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, lab) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id)
         |SELECT id AS doc_id, cluster_id,
         |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM cl ORDER BY doc_id""".stripMargin),

    "q48_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |hashed AS (SELECT doc_id, $simhashExpr AS simhash FROM t)
         |SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
         |FROM hashed GROUP BY simhash HAVING COUNT(*) > 1 ORDER BY simhash""".stripMargin,

    "q75_dedup_ngram" ->
      """WITH k AS (
        |  SELECT doc_id AS id, substr(text, 1, 32) AS blk,
        |         list_distinct(list_transform(range(1, greatest(length(text) - 4, 1) + 1),
        |           i -> substr(text, CAST(i AS INTEGER), 5))) AS g
        |  FROM documents),
        |p AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.g AS ga, b.g AS gb
        |  FROM k a JOIN k b ON a.blk = b.blk AND a.id < b.id)
        |SELECT id_a, id_b,
        |       CAST(len(list_intersect(ga, gb)) AS DOUBLE)
        |         / (len(ga) + len(gb) - len(list_intersect(ga, gb))) AS jaccard
        |FROM p
        |WHERE CAST(len(list_intersect(ga, gb)) AS DOUBLE)
        |        / (len(ga) + len(gb) - len(list_intersect(ga, gb))) >= 0.7
        |ORDER BY id_a, id_b""".stripMargin,

    "q49_ann_brute" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |scored AS (
         |  SELECT e.vec_id,
         |         ${dotExpr("e.embedding", "q.qv")}
         |           / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |              * SQRT(${dotExpr("q.qv", "q.qv")})) AS c
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
         |topk AS (SELECT * FROM scored ORDER BY c DESC, vec_id LIMIT 10)
         |SELECT vec_id, ROUND(c, 6) AS cosine FROM topk
         |ORDER BY cosine DESC, vec_id""".stripMargin,

    "q50_ann_lsh" ->
      s"""WITH bucketed AS (
         |  SELECT vec_id, embedding, ${bucketExpr("embedding", 4)} AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qv, bucket AS qb FROM bucketed WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id,
         |         ${dotExpr("e.embedding", "q.qv")}
         |           / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |              * SQRT(${dotExpr("q.qv", "q.qv")})) AS c
         |  FROM bucketed e CROSS JOIN q
         |  WHERE e.bucket = q.qb AND e.vec_id <> 0),
         |topk AS (SELECT * FROM cand ORDER BY c DESC, vec_id LIMIT 10)
         |SELECT vec_id, ROUND(c, 6) AS cosine FROM topk
         |ORDER BY cosine DESC, vec_id""".stripMargin,

    "q51_ann_buckets" ->
      s"""SELECT ${bucketExpr("embedding", 4)} AS bucket, COUNT(*) AS n
         |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q79_ann_ivf" -> {
      // the same fixed centroid formula as ivfFixedCentroids, inlined
      // per (c, dim); squared-distance folds dim-by-dim like sqDistCol
      val cv = "(CAST(((c * 37 + (CAST(i AS INTEGER) - 1) * 13) % 41 - 20) AS DOUBLE) / 10.0)"
      def sqDist(vec: String) = foldSum(
        s"list_transform(range(1, 65), i -> (CAST($vec[CAST(i AS INTEGER)] AS DOUBLE) - $cv)" +
          s" * (CAST($vec[CAST(i AS INTEGER)] AS DOUBLE) - $cv))")
      s"""WITH cent AS (SELECT CAST(c AS INTEGER) AS c FROM range(4) t(c)),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probe AS (
         |  SELECT c FROM cent CROSS JOIN q
         |  ORDER BY ${sqDist("q.qv")}, c LIMIT 2),
         |ad AS (
         |  SELECT e.vec_id, e.embedding, cent.c, ${sqDist("e.embedding")} AS d
         |  FROM embeddings e CROSS JOIN cent),
         |an AS (
         |  SELECT vec_id, embedding, c,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
         |  FROM ad),
         |cand AS (
         |  SELECT a.vec_id,
         |         ${dotExpr("a.embedding", "q.qv")}
         |           / (SQRT(${dotExpr("a.embedding", "a.embedding")})
         |              * SQRT(${dotExpr("q.qv", "q.qv")})) AS cc
         |  FROM an a CROSS JOIN q
         |  WHERE a.rn = 1 AND a.c IN (SELECT c FROM probe) AND a.vec_id <> 0),
         |topk AS (SELECT * FROM cand ORDER BY cc DESC, vec_id LIMIT 10)
         |SELECT vec_id, ROUND(cc, 6) AS cosine FROM topk
         |ORDER BY cosine DESC, vec_id""".stripMargin
    },

    "q84_ann_batch_brute" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |         ${dotExpr("e.embedding", "q.qv")}
         |           / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |              * SQRT(${dotExpr("q.qv", "q.qv")})) AS c
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |rk AS (
         |  SELECT qid, vec_id, c,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT qid, vec_id, ROUND(c, 6) AS cosine, rank FROM rk
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q199_matryoshka_topk" -> {
      // prefix/full cosine with the engine's exact fold order and the
      // mirrored zero-norm guard (0.0, never NaN)
      def dotN(a: String, b: String, n: Int): String = foldSum(
        s"list_transform(range(1, ${n + 1}), i -> CAST($a[CAST(i AS INTEGER)] AS DOUBLE) * CAST($b[CAST(i AS INTEGER)] AS DOUBLE))")
      def cosN(a: String, b: String, n: Int): String =
        s"""CASE WHEN ${dotN(a, a, n)} * ${dotN(b, b, n)} = 0 THEN 0.0
           |     ELSE ${dotN(a, b, n)}
           |       / (SQRT(${dotN(a, a, n)}) * SQRT(${dotN(b, b, n)})) END""".stripMargin
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 6),
         |pre AS (
         |  SELECT q.qid, e.vec_id, e.embedding, q.qv,
         |         ${cosN("e.embedding", "q.qv", 16)} AS c_pre
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |cand AS (
         |  SELECT qid, vec_id, embedding, qv, coarse_rank FROM (
         |    SELECT qid, vec_id, embedding, qv,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c_pre DESC, vec_id) AS INTEGER) AS coarse_rank
         |    FROM pre) WHERE coarse_rank <= 20),
         |fc AS (
         |  SELECT qid, vec_id, coarse_rank,
         |         ${cosN("embedding", "qv", 64)} AS c
         |  FROM cand),
         |rk AS (
         |  SELECT qid, vec_id, c, coarse_rank,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS INTEGER) AS rank
         |  FROM fc)
         |SELECT qid, vec_id, ROUND(c, 6) AS cosine, coarse_rank, rank
         |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    "q200_sq8_topk" -> {
      val dotQC = foldSum(
        "list_transform(range(1, 65), i -> CAST(qd.qv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(cc.q[CAST(i AS INTEGER)] AS DOUBLE))")
      val ssQ = foldSum(
        "list_transform(range(1, 65), i -> CAST(qd.qv[CAST(i AS INTEGER)] AS DOUBLE) * CAST(qd.qv[CAST(i AS INTEGER)] AS DOUBLE))")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 6),
         |s AS (
         |  SELECT vec_id, embedding,
         |         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS q_scale
         |  FROM embeddings),
         |c AS (
         |  SELECT vec_id,
         |         CASE WHEN q_scale = 0
         |           THEN list_transform(embedding, x -> 0)
         |           ELSE list_transform(embedding,
         |             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / q_scale + 0.5) AS INTEGER)) END AS q
         |  FROM s),
         |cc0 AS (
         |  SELECT vec_id, q,
         |         CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS ss_c
         |  FROM c),
         |sc AS (
         |  SELECT qd.qid, cc.vec_id,
         |         CASE WHEN cc.ss_c = 0 OR $ssQ = 0 THEN 0.0
         |              ELSE $dotQC
         |                / (SQRT(CAST(cc.ss_c AS DOUBLE)) * SQRT($ssQ)) END AS csim
         |  FROM cc0 cc CROSS JOIN q qd WHERE cc.vec_id <> qd.qid),
         |rk AS (
         |  SELECT qid, vec_id, csim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY csim DESC, vec_id) AS INTEGER) AS rank
         |  FROM sc)
         |SELECT qid, vec_id, ROUND(csim, 6) AS cosine, rank FROM rk
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    },

    "q202_margin_mining" -> {
      // neighborhood mean: cosines folded IN RANK ORDER (mirrors the
      // engine's array_sort(struct(rank, cosine)) fold — not an
      // unordered SUM)
      val meanFold = foldSum("list(c ORDER BY rn)")
      s"""WITH bucketed AS (
         |  SELECT vec_id AS id, embedding AS vec, ${bucketExpr("embedding", 4)} AS bucket,
         |         SQRT(${dotExpr("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |kpairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         ${dotExpr("a.vec", "b.vec")} / (a.nrm * b.nrm) AS c
         |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.id <> b.id),
         |knn AS (SELECT id_a, id_b, c, rn FROM (
         |    SELECT id_a, id_b, c,
         |      ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY c DESC, id_b) AS rn
         |    FROM kpairs) WHERE rn <= 3),
         |avgc AS (
         |  SELECT id_a AS id, $meanFold / COUNT(*) AS avg_c
         |  FROM knn GROUP BY id_a),
         |edges AS (
         |  SELECT DISTINCT LEAST(id_a, id_b) AS id_a,
         |         GREATEST(id_a, id_b) AS id_b, c FROM knn),
         |sc AS (
         |  SELECT e.id_a, e.id_b, e.c, (a1.avg_c + a2.avg_c) / 2.0 AS den
         |  FROM edges e JOIN avgc a1 ON a1.id = e.id_a
         |                JOIN avgc a2 ON a2.id = e.id_b),
         |mg AS (SELECT id_a, id_b, c,
         |         CASE WHEN den <= 0.0 THEN 0.0 ELSE c / den END AS margin
         |       FROM sc),
         |rk AS (SELECT id_a, id_b, c, margin,
         |         CAST(ROW_NUMBER() OVER (ORDER BY margin DESC, id_a, id_b) AS INTEGER) AS rank
         |       FROM mg)
         |SELECT rank, id_a, id_b, ROUND(c, 6) AS cosine, ROUND(margin, 6) AS margin
         |FROM rk WHERE rank <= 50 ORDER BY rank""".stripMargin
    },

    "q203_bpe_encode" ->
      s"""WITH docs AS (SELECT doc_id, $toksExpr AS w FROM documents),
         |w1 AS (SELECT w FROM docs WHERE len(w) > 1),
         |p1 AS (${bpePairsOf("w1")}),
         |m1 AS (${bpeArgmax("p1")}),
         |w2 AS (SELECT ${bpeMergeExpr("m1.l", "m1.r")} AS w
         |       FROM w1 CROSS JOIN m1),
         |p2 AS (${bpePairsOf("w2")}),
         |m2 AS (${bpeArgmax("p2")}),
         |w3 AS (SELECT ${bpeMergeExpr("m2.l", "m2.r")} AS w
         |       FROM w2 CROSS JOIN m2),
         |p3 AS (${bpePairsOf("w3")}),
         |m3 AS (${bpeArgmax("p3")}),
         |d1 AS (SELECT doc_id, ${bpeMergeExpr("m1.l", "m1.r")} AS w
         |       FROM docs CROSS JOIN m1),
         |d2 AS (SELECT doc_id, ${bpeMergeExpr("m2.l", "m2.r")} AS w
         |       FROM d1 CROSS JOIN m2),
         |d3 AS (SELECT doc_id, ${bpeMergeExpr("m3.l", "m3.r")} AS w
         |       FROM d2 CROSS JOIN m3),
         |base AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
         |         COALESCE(CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT),
         |                  CAST(0 AS BIGINT)) AS n_chars
         |         FROM docs)
         |SELECT b.doc_id, b.n_tokens, b.n_chars,
         |       CAST(len(d.w) AS INTEGER) AS n_syms,
         |       CASE WHEN len(d.w) > 0 THEN (b.n_chars * 1000000) // len(d.w)
         |            ELSE CAST(0 AS BIGINT) END AS fertility_fp
         |FROM base b JOIN d3 d ON b.doc_id = d.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "q224_banding_scurve" -> {
      // one hub-capped candidate chain (the candidatePairsFrom replay)
      // over a named banded relation; the loose side adds the verify
      // (jaccard kept for the decile fold), the strict side is
      // membership-only — a strict candidate below the loose threshold
      // has no loose row to match
      def chain(p: String, banded: String) =
        s"""${p}hot AS (SELECT band, bkey, MIN(doc_id) AS hub
           |  FROM $banded GROUP BY band, bkey HAVING COUNT(*) > 64),
           |${p}cool AS (SELECT doc_id, band, bkey FROM $banded
           |  ANTI JOIN ${p}hot USING (band, bkey)),
           |${p}pairs AS (SELECT DISTINCT id_a, id_b FROM (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM ${p}cool a JOIN ${p}cool b
           |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           |  UNION ALL
           |  SELECT h.hub AS id_a, r.doc_id AS id_b
           |  FROM $banded r JOIN ${p}hot h ON r.band = h.band AND r.bkey = h.bkey
           |  WHERE r.doc_id <> h.hub))""".stripMargin
      def verify(p: String) =
        s"""${p}ver AS (
           |  SELECT p.id_a, p.id_b,
           |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
           |  FROM ${p}pairs p
           |  JOIN xsig sa ON sa.doc_id = p.id_a
           |  JOIN xsig sb ON sb.doc_id = p.id_b
           |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.1)""".stripMargin
      s"WITH seeded AS (SELECT doc_id, CASE WHEN doc_id < 120 THEN " +
      s"array_to_string(list_slice(string_split('$ScurveBase', ' '), 1, " +
      "10 + CAST(doc_id % 20 AS INTEGER)), ' ') ELSE text END AS text " +
      "FROM documents),\n" +
      s"${minhashBandedCteFrom("seeded", "x")},\n" +
      """lbanded AS (
        |  SELECT doc_id, CAST(b AS INTEGER) AS band,
        |         md5(CAST(sigs[CAST(b AS INTEGER) * 2 + 1] AS VARCHAR) || '|'
        |             || CAST(sigs[CAST(b AS INTEGER) * 2 + 2] AS VARCHAR)) AS bkey
        |  FROM xsig CROSS JOIN range(0, 8) t(b)),
        |""".stripMargin +
      chain("l", "lbanded") + ",\n" + verify("l") + ",\n" +
      chain("s", "xbanded") + "\n" +
      """SELECT CAST(floor(l.jaccard * 10) AS INTEGER) AS decile,
        |       COUNT(*) AS n_loose_pairs,
        |       CAST(SUM(CASE WHEN s.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_strict_found,
        |       CAST((SUM(CASE WHEN s.id_a IS NOT NULL THEN 1 ELSE 0 END) * 1048576)
        |         // COUNT(*) AS BIGINT) AS found_fp
        |FROM lver l LEFT JOIN spairs s ON l.id_a = s.id_a AND l.id_b = s.id_b
        |GROUP BY 1 ORDER BY decile""".stripMargin
    },

    "q223_bpe_at_rest" ->
      s"""WITH docs AS (SELECT doc_id, $toksExpr AS w FROM documents),
         |w1 AS (SELECT w FROM docs WHERE doc_id % 2 = 0 AND len(w) > 1),
         |p1 AS (${bpePairsOf("w1")}),
         |m1 AS (${bpeArgmax("p1")}),
         |w2 AS (SELECT ${bpeMergeExpr("m1.l", "m1.r")} AS w
         |       FROM w1 CROSS JOIN m1),
         |p2 AS (${bpePairsOf("w2")}),
         |m2 AS (${bpeArgmax("p2")}),
         |w3 AS (SELECT ${bpeMergeExpr("m2.l", "m2.r")} AS w
         |       FROM w2 CROSS JOIN m2),
         |p3 AS (${bpePairsOf("w3")}),
         |m3 AS (${bpeArgmax("p3")}),
         |d1 AS (SELECT doc_id, ${bpeMergeExpr("m1.l", "m1.r")} AS w
         |       FROM docs CROSS JOIN m1),
         |d2 AS (SELECT doc_id, ${bpeMergeExpr("m2.l", "m2.r")} AS w
         |       FROM d1 CROSS JOIN m2),
         |d3 AS (SELECT doc_id, ${bpeMergeExpr("m3.l", "m3.r")} AS w
         |       FROM d2 CROSS JOIN m3),
         |base AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
         |         COALESCE(CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT),
         |                  CAST(0 AS BIGINT)) AS n_chars
         |         FROM docs)
         |SELECT b.doc_id, b.n_tokens, b.n_chars,
         |       CAST(len(d.w) AS INTEGER) AS n_syms,
         |       CASE WHEN len(d.w) > 0 THEN (b.n_chars * 1000000) // len(d.w)
         |            ELSE CAST(0 AS BIGINT) END AS fertility_fp
         |FROM base b JOIN d3 d ON b.doc_id = d.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "q204_rotated_pq" -> {
      // Householder reflector component for SQL index i ∈ 1..64
      // (engine index i−1): the repo's integer LCG at seed 1
      val vI = "CAST(((2654435761 + (CAST(i AS INTEGER) - 1) * 40503) % 2001 - 1000) AS DOUBLE)"
      def ed(i: String) = s"CAST(embedding[CAST($i AS INTEGER)] AS DOUBLE)"
      val vx = foldSum(s"list_transform(range(1, 65), i -> ${ed("i")} * $vI)")
      val vv = foldSum(s"list_transform(range(1, 65), i -> $vI * $vI)")
      def census(variant: String, from: String) =
        s"""SELECT '$variant' AS variant, sub, c AS cluster,
           |         CAST(COUNT(*) AS BIGINT) AS n,
           |         CAST(SUM(d_fp) AS BIGINT) AS inertia_fp
           |  FROM $from GROUP BY sub, c""".stripMargin
      s"""WITH rot0 AS (SELECT vec_id, embedding, $vx AS vx, $vv AS vv
         |       FROM embeddings),
         |rot AS (SELECT vec_id,
         |         list_transform(range(1, 65),
         |           i -> ${ed("i")} - 2.0 * vx / vv * $vI) AS embedding
         |       FROM rot0),
         |${pqCtesTrainAssign("embeddings", "embeddings")},
         |${pqCtesTrainAssign("rot", "rot", "r")}
         |SELECT variant, sub, cluster, n, inertia_fp FROM (
         |  ${census("plain", "a2c")}
         |  UNION ALL
         |  ${census("rotated", "ra2c")})
         |ORDER BY variant, sub, cluster""".stripMargin
    },

    "q205_jl_distortion" -> {
      // Achlioptas ±1 sign for (projection row j, engine dim i−1);
      // +101 offsets the LCG away from the bucket hyperplanes
      val sJI = "(CASE WHEN ((j + 101) * 2654435761 + (CAST(i AS INTEGER) - 1) * 40503) % 2001 - 1000 >= 0 " +
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"
      val projFold = foldSum(
        s"list_transform(range(1, 65), i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * $sJI)")
      val d2o = foldSum(
        "list_transform(range(1, 65), i -> " +
          "(CAST(a.vec[CAST(i AS INTEGER)] AS DOUBLE) - CAST(b.vec[CAST(i AS INTEGER)] AS DOUBLE))" +
          " * (CAST(a.vec[CAST(i AS INTEGER)] AS DOUBLE) - CAST(b.vec[CAST(i AS INTEGER)] AS DOUBLE)))")
      val d2p = foldSum(
        "list_transform(range(1, 17), i -> " +
          "(a.proj[CAST(i AS INTEGER)] - b.proj[CAST(i AS INTEGER)])" +
          " * (a.proj[CAST(i AS INTEGER)] - b.proj[CAST(i AS INTEGER)]))")
      s"""WITH pj AS (
         |  SELECT vec_id, embedding AS vec, ${bucketExpr("embedding", 4)} AS bucket,
         |         list_transform(range(0, 16), j -> $projFold) AS proj
         |  FROM embeddings),
         |pr AS (
         |  SELECT a.bucket, $d2o AS d2o, $d2p AS d2p
         |  FROM pj a JOIN pj b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |r2 AS (SELECT bucket,
         |         CAST(FLOOR(d2p / (16.0 * d2o) * 1000000) AS BIGINT) AS ratio_fp
         |       FROM pr WHERE d2o > 0.0)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       MIN(ratio_fp) AS min_fp, MAX(ratio_fp) AS max_fp,
         |       CAST(SUM(ratio_fp) AS BIGINT) AS sum_fp,
         |       ROUND(CAST(SUM(ratio_fp) AS DOUBLE) / COUNT(*) / 1000000, 6) AS mean_ratio
         |FROM r2 GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    "q206_softdedup_weights" -> softDedupOracle("documents"),

    // q215: q206's exact replay with HALF the corpus rewritten to one
    // viral text (c_n ≈ corpus/2) — the adversarial bench fixture for
    // the de-skewed content-key counting
    "q215_viral_exact" -> softDedupOracle("seeded",
      """seeded AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'this exact banner text repeats across half of the corpus verbatim'
        |    ELSE text END AS text
        |  FROM documents),
        |""".stripMargin),

    "q207_farthest_first" -> {
      // exact squared distance, both sides cast (mirrors vec_sqdist
      // on FLOAT[] corpus vs double-literal centers)
      def sq(a: String, b: String): String = foldSum(
        s"list_transform(range(1, 65), i -> (CAST($a[CAST(i AS INTEGER)] AS DOUBLE) - CAST($b[CAST(i AS INTEGER)] AS DOUBLE)) * (CAST($a[CAST(i AS INTEGER)] AS DOUBLE) - CAST($b[CAST(i AS INTEGER)] AS DOUBLE)))")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
         |seed AS (SELECT id, v FROM e
         |         ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1),
         |k1 AS (SELECT e.id, e.v, ${sq("e.v", "s.v")} AS cost
         |       FROM e CROSS JOIN seed s WHERE e.id <> s.id),
         |s1 AS (SELECT id, v, cost, rn FROM (
         |    SELECT id, v, cost,
         |      CAST(ROW_NUMBER() OVER (ORDER BY cost DESC, id) AS INTEGER) AS rn
         |    FROM k1) WHERE rn <= 2),
         |c1 AS (SELECT id, v FROM seed UNION ALL SELECT id, v FROM s1),
         |k2 AS (SELECT e.id, MIN(${sq("e.v", "c.v")}) AS cost
         |       FROM e CROSS JOIN c1 c
         |       WHERE e.id NOT IN (SELECT id FROM c1)
         |       GROUP BY e.id),
         |s2 AS (SELECT id, cost, rn FROM (
         |    SELECT id, cost,
         |      CAST(ROW_NUMBER() OVER (ORDER BY cost DESC, id) AS INTEGER) AS rn
         |    FROM k2) WHERE rn <= 2)
         |SELECT 0 AS sel_order, id AS vec_id, CAST(0 AS BIGINT) AS cost_fp FROM seed
         |UNION ALL SELECT rn, id, CAST(FLOOR(cost * 1048576.0) AS BIGINT) FROM s1
         |UNION ALL SELECT rn + 2, id, CAST(FLOOR(cost * 1048576.0) AS BIGINT) FROM s2
         |ORDER BY sel_order""".stripMargin
    },

    "q208_lsh_at_rest" ->
      ("WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),\n" +
       "probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4),\n" +
       minhashBandedCteFrom("base", "b") + ",\n" +
       minhashBandedCteFrom("probe", "p") + ",\n" +
       """bhot AS (SELECT band, bkey FROM bbanded GROUP BY band, bkey HAVING COUNT(*) > 64),
         |bcool AS (SELECT doc_id, band, bkey FROM bbanded ANTI JOIN bhot USING (band, bkey)),
         |breps AS (SELECT MIN(doc_id) AS doc_id, band, bkey
         |          FROM bbanded SEMI JOIN bhot USING (band, bkey) GROUP BY band, bkey),
         |bidx AS (SELECT doc_id, band, bkey FROM bcool
         |         UNION ALL SELECT doc_id, band, bkey FROM breps),
         |cand AS (SELECT DISTINCT pb.doc_id AS new_id, i.doc_id AS base_id
         |         FROM pbanded pb JOIN bidx i ON pb.band = i.band AND pb.bkey = i.bkey),
         |ver AS (SELECT c.new_id, c.base_id,
         |         CAST(len(list_intersect(pn.sh, bs.sh)) AS DOUBLE)
         |           / (len(pn.sh) + len(bs.sh) - len(list_intersect(pn.sh, bs.sh))) AS jaccard
         |        FROM cand c
         |        JOIN psig pn ON pn.doc_id = c.new_id
         |        JOIN bsig bs ON bs.doc_id = c.base_id)
         |SELECT new_id, base_id, jaccard FROM ver WHERE jaccard >= 0.5
         |ORDER BY new_id, base_id""".stripMargin),

    "q228_lsh_takedown" ->
      ("WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),\n" +
       "probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4),\n" +
       minhashBandedCteFrom("base", "b") + ",\n" +
       minhashBandedCteFrom("probe", "p") + ",\n" +
       """bhot AS (SELECT band, bkey FROM bbanded GROUP BY band, bkey HAVING COUNT(*) > 64),
         |bcool AS (SELECT doc_id, band, bkey FROM bbanded ANTI JOIN bhot USING (band, bkey)),
         |breps AS (SELECT MIN(doc_id) AS doc_id, band, bkey
         |          FROM bbanded SEMI JOIN bhot USING (band, bkey) GROUP BY band, bkey),
         |bidx0 AS (SELECT doc_id, band, bkey FROM bcool
         |          UNION ALL SELECT doc_id, band, bkey FROM breps),
         |bidx AS (SELECT * FROM bidx0 WHERE doc_id % 7 <> 3),
         |cand AS (SELECT DISTINCT pb.doc_id AS new_id, i.doc_id AS base_id
         |         FROM pbanded pb JOIN bidx i ON pb.band = i.band AND pb.bkey = i.bkey),
         |ver AS (SELECT c.new_id, c.base_id,
         |         CAST(len(list_intersect(pn.sh, bs.sh)) AS DOUBLE)
         |           / (len(pn.sh) + len(bs.sh) - len(list_intersect(pn.sh, bs.sh))) AS jaccard
         |        FROM cand c
         |        JOIN psig pn ON pn.doc_id = c.new_id
         |        JOIN bsig bs ON bs.doc_id = c.base_id AND bs.doc_id % 7 <> 3)
         |SELECT new_id, base_id, jaccard, CAST(0 AS BIGINT) AS n_diff
         |FROM ver WHERE jaccard >= 0.5
         |ORDER BY new_id, base_id""".stripMargin),

    "q209_lsh_append" ->
      ("WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 < 3),\n" +
       "appended AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 3),\n" +
       "probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4),\n" +
       minhashBandedCteFrom("base", "b") + ",\n" +
       minhashBandedCteFrom("appended", "c") + ",\n" +
       minhashBandedCteFrom("probe", "p") + ",\n" +
       """bhot AS (SELECT band, bkey FROM bbanded GROUP BY band, bkey HAVING COUNT(*) > 64),
         |bcool AS (SELECT doc_id, band, bkey FROM bbanded ANTI JOIN bhot USING (band, bkey)),
         |breps AS (SELECT MIN(doc_id) AS doc_id, band, bkey
         |          FROM bbanded SEMI JOIN bhot USING (band, bkey) GROUP BY band, bkey),
         |chot AS (SELECT band, bkey FROM cbanded GROUP BY band, bkey HAVING COUNT(*) > 64),
         |ccool AS (SELECT doc_id, band, bkey FROM cbanded ANTI JOIN chot USING (band, bkey)),
         |creps AS (SELECT MIN(doc_id) AS doc_id, band, bkey
         |          FROM cbanded SEMI JOIN chot USING (band, bkey) GROUP BY band, bkey),
         |bidx AS (SELECT doc_id, band, bkey FROM bcool
         |         UNION ALL SELECT doc_id, band, bkey FROM breps
         |         UNION ALL SELECT doc_id, band, bkey FROM ccool
         |         UNION ALL SELECT doc_id, band, bkey FROM creps),
         |allsh AS (SELECT doc_id, sh FROM bsig UNION ALL SELECT doc_id, sh FROM csig),
         |cand AS (SELECT DISTINCT pb.doc_id AS new_id, i.doc_id AS base_id
         |         FROM pbanded pb JOIN bidx i ON pb.band = i.band AND pb.bkey = i.bkey),
         |ver AS (SELECT c.new_id, c.base_id,
         |         CAST(len(list_intersect(pn.sh, bs.sh)) AS DOUBLE)
         |           / (len(pn.sh) + len(bs.sh) - len(list_intersect(pn.sh, bs.sh))) AS jaccard
         |        FROM cand c
         |        JOIN psig pn ON pn.doc_id = c.new_id
         |        JOIN allsh bs ON bs.doc_id = c.base_id)
         |SELECT new_id, base_id, jaccard FROM ver WHERE jaccard >= 0.5
         |ORDER BY new_id, base_id""".stripMargin),

    "q210_lsh_compact" ->
      ("WITH docs AS (SELECT doc_id, CASE WHEN doc_id < 100 THEN " +
       "'click here to accept cookies and continue reading this article " +
       "free newsletter signup exclusive member offers unsubscribe anytime' " +
       "ELSE text END AS text FROM documents),\n" +
       "base AS (SELECT doc_id, text FROM docs WHERE doc_id % 5 < 3),\n" +
       "appended AS (SELECT doc_id, text FROM docs WHERE doc_id % 5 = 3),\n" +
       "oneshot AS (SELECT doc_id, text FROM docs WHERE doc_id % 5 < 4),\n" +
       "probe AS (SELECT doc_id, text FROM docs WHERE doc_id % 5 = 4),\n" +
       minhashBandedCteFrom("base", "b") + ",\n" +
       minhashBandedCteFrom("appended", "c") + ",\n" +
       minhashBandedCteFrom("oneshot", "o") + ",\n" +
       minhashBandedCteFrom("probe", "p") + ",\n" +
       """bhot AS (SELECT band, bkey FROM bbanded GROUP BY band, bkey HAVING COUNT(*) > 64),
         |bcool AS (SELECT doc_id, band, bkey FROM bbanded ANTI JOIN bhot USING (band, bkey)),
         |breps AS (SELECT MIN(doc_id) AS doc_id, band, bkey
         |          FROM bbanded SEMI JOIN bhot USING (band, bkey) GROUP BY band, bkey),
         |chot AS (SELECT band, bkey FROM cbanded GROUP BY band, bkey HAVING COUNT(*) > 64),
         |ccool AS (SELECT doc_id, band, bkey FROM cbanded ANTI JOIN chot USING (band, bkey)),
         |creps AS (SELECT MIN(doc_id) AS doc_id, band, bkey
         |          FROM cbanded SEMI JOIN chot USING (band, bkey) GROUP BY band, bkey),
         |bidx AS (SELECT doc_id, band, bkey FROM bcool
         |         UNION ALL SELECT doc_id, band, bkey FROM breps
         |         UNION ALL SELECT doc_id, band, bkey FROM ccool
         |         UNION ALL SELECT doc_id, band, bkey FROM creps),
         |xhot AS (SELECT band, bkey FROM bidx GROUP BY band, bkey HAVING COUNT(*) > 64),
         |xcool AS (SELECT doc_id, band, bkey FROM bidx ANTI JOIN xhot USING (band, bkey)),
         |xreps AS (SELECT MIN(doc_id) AS doc_id, band, bkey
         |          FROM bidx SEMI JOIN xhot USING (band, bkey) GROUP BY band, bkey),
         |cidx AS (SELECT doc_id, band, bkey FROM xcool
         |         UNION ALL SELECT doc_id, band, bkey FROM xreps),
         |ohot AS (SELECT band, bkey FROM obanded GROUP BY band, bkey HAVING COUNT(*) > 64),
         |ocool AS (SELECT doc_id, band, bkey FROM obanded ANTI JOIN ohot USING (band, bkey)),
         |oreps AS (SELECT MIN(doc_id) AS doc_id, band, bkey
         |          FROM obanded SEMI JOIN ohot USING (band, bkey) GROUP BY band, bkey),
         |oidx AS (SELECT doc_id, band, bkey FROM ocool
         |         UNION ALL SELECT doc_id, band, bkey FROM oreps),
         |allsh AS (SELECT doc_id, sh FROM bsig UNION ALL SELECT doc_id, sh FROM csig),
         |candc AS (SELECT DISTINCT pb.doc_id AS new_id, i.doc_id AS base_id
         |          FROM pbanded pb JOIN cidx i ON pb.band = i.band AND pb.bkey = i.bkey),
         |verc AS (SELECT DISTINCT c.new_id, c.base_id FROM candc c
         |         JOIN psig pn ON pn.doc_id = c.new_id
         |         JOIN allsh bs ON bs.doc_id = c.base_id
         |         WHERE CAST(len(list_intersect(pn.sh, bs.sh)) AS DOUBLE)
         |           / (len(pn.sh) + len(bs.sh) - len(list_intersect(pn.sh, bs.sh))) >= 0.5),
         |cando AS (SELECT DISTINCT pb.doc_id AS new_id, i.doc_id AS base_id
         |          FROM pbanded pb JOIN oidx i ON pb.band = i.band AND pb.bkey = i.bkey),
         |vero AS (SELECT DISTINCT c.new_id, c.base_id FROM cando c
         |         JOIN psig pn ON pn.doc_id = c.new_id
         |         JOIN osig bs ON bs.doc_id = c.base_id
         |         WHERE CAST(len(list_intersect(pn.sh, bs.sh)) AS DOUBLE)
         |           / (len(pn.sh) + len(bs.sh) - len(list_intersect(pn.sh, bs.sh))) >= 0.5),
         |occ AS (SELECT COUNT(*) AS bn FROM cidx GROUP BY band, bkey)
         |SELECT (SELECT COUNT(*) FROM verc) AS n_pairs_cmp,
         |       (SELECT COUNT(*) FROM vero) AS n_pairs_once,
         |       (SELECT COUNT(*) FROM ((SELECT * FROM verc EXCEPT SELECT * FROM vero)
         |          UNION ALL (SELECT * FROM vero EXCEPT SELECT * FROM verc)) t) AS n_diff,
         |       (SELECT MAX(bn) FROM occ) AS max_occ,
         |       (SELECT CAST(SUM(CASE WHEN bn > 64 THEN 1 ELSE 0 END) AS BIGINT) FROM occ) AS n_over""".stripMargin),

    "q217_bm25_at_rest" -> bm25BatchOracle(
      corpusWhere = "doc_id % 5 <> 4",
      queryRows = "(1, 'spark'), (1, 'merge'), (2, 'vector'), (2, 'index'), (3, 'data')"),

    // stream-built store, identical corpus and probe — drift-free
    // additive deltas mean the SAME from-scratch replay gates it
    "q231_stream_bm25" -> bm25BatchOracle(
      corpusWhere = "doc_id % 5 <> 4",
      queryRows = "(1, 'spark'), (1, 'merge'), (2, 'vector'), (2, 'index'), (3, 'data')"),

    "q218_bm25_delete" -> bm25BatchOracle(
      corpusWhere = "doc_id % 7 <> 3",
      queryRows = "(1, 'spark'), (1, 'merge'), (2, 'vector'), (3, 'data')",
      extraExpr = ", CAST(0 AS BIGINT) AS n_diff"),

    "q219_weighted_take" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    GREATEST(
        |      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |        / 1152921504606846976.0,
        |      8.673617379884035e-19) AS u
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |       CAST(floor(ln(u) / CAST(n_chars AS DOUBLE) * 1048576.0) AS BIGINT) AS es_fp
        |FROM u ORDER BY es_fp DESC, doc_id LIMIT 50""".stripMargin,

    "q220_k_anonymity" ->
      """SELECT lang, source, (n_chars - ((n_chars % 500) + 500) % 500) // 500 AS band,
        |       COUNT(*) AS n,
        |       CAST(CASE WHEN COUNT(*) < 10 THEN 1 ELSE 0 END AS INTEGER) AS at_risk
        |FROM documents GROUP BY 1, 2, 3 ORDER BY lang, source, band""".stripMargin,

    "q85_ann_batch_ivf" -> ivfBatchOracle,
    "q103_ann_ivf_at_rest" -> ivfBatchOracle,

    "q86_ann_batch_lsh" ->
      s"""WITH bucketed AS (
         |  SELECT vec_id, embedding, ${bucketExpr("embedding", 4)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, bucket AS qb
         |      FROM bucketed WHERE vec_id < 6),
         |cand AS (
         |  SELECT q.qid, e.vec_id,
         |         ${dotExpr("e.embedding", "q.qv")}
         |           / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |              * SQRT(${dotExpr("q.qv", "q.qv")})) AS c
         |  FROM bucketed e JOIN q ON e.bucket = q.qb
         |  WHERE e.vec_id <> q.qid),
         |rk AS (
         |  SELECT qid, vec_id, c,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS INTEGER) AS rank
         |  FROM cand)
         |SELECT qid, vec_id, ROUND(c, 6) AS cosine, rank FROM rk
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q64_dedup_embed" ->
      s"""WITH doubled AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, list_transform(embedding, x -> x * CAST(2.0 AS FLOAT))
         |  FROM embeddings),
         |bucketed AS (
         |  SELECT vec_id AS id, embedding AS vec, ${bucketExpr("embedding", 8)} AS bucket,
         |         SQRT(${dotExpr("embedding", "embedding")}) AS nrm
         |  FROM doubled),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         ${dotExpr("a.vec", "b.vec")} / (a.nrm * b.nrm) AS c
         |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.id < b.id)
         |SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM pairs
         |WHERE c >= 0.99 ORDER BY id_a, id_b""".stripMargin,

    "q52_multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         source || ':' || CAST(doc_id AS VARCHAR) AS payload
        |  FROM documents),
        |f AS (
        |  SELECT media_id, kind,
        |         CAST(length(payload) AS INTEGER) AS n_bytes,
        |         list_reduce(
        |           list_prepend(CAST(0 AS BIGINT),
        |             list_transform(range(1, length(payload) + 1),
        |               i -> CAST(ord(substr(payload, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |           (acc, c) -> (acc * 31 + c) % 1000000007) AS checksum
        |  FROM m)
        |SELECT media_id, kind, n_bytes, checksum,
        |       CAST(NULL AS INTEGER) AS width,
        |       CAST(NULL AS INTEGER) AS height
        |FROM f ORDER BY media_id""".stripMargin,

    // replays: injection, 8-char ANCHOR hashes + windowed arg_min
    // winnowing selection (ties -> lowest pos, same as the kernel's
    // strictly-less scan), 50-gram seed hashing at selected anchors
    // only, hub cap on DISTINCT docs, exact-gram verify,
    // lexicographic-min first span
    "q174_exact_substrings" ->
      """WITH d AS (
        |  SELECT doc_id AS id,
        |         text || CASE WHEN doc_id % 9 = 0
        |           THEN repeat(' exact-dup ' || lpad(CAST(doc_id - doc_id % 18 AS VARCHAR), 7, '0'), 5)
        |           ELSE '' END AS t
        |  FROM documents),
        |p AS (
        |  SELECT id, t, unnest(range(1, greatest(length(t) - 7, 1) + 1)) AS pos FROM d),
        |h AS (
        |  SELECT id, t, pos,
        |         CAST('0x' || substr(md5(substr(t, CAST(pos AS INTEGER), 8)), 1, 15) AS BIGINT) AS h,
        |         length(t) - 7 AS np
        |  FROM p),
        |wm AS (
        |  SELECT id, pos AS s, np,
        |         arg_min(pos, h) OVER (PARTITION BY id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mpos
        |  FROM h),
        |sel AS (
        |  SELECT DISTINCT id, mpos FROM wm WHERE s <= greatest(np - 15, 1)),
        |seeds AS (
        |  SELECT sel.id, sel.mpos AS pos,
        |         CAST('0x' || substr(md5(substr(d.t, CAST(sel.mpos AS INTEGER), 50)), 1, 15) AS BIGINT) AS fp,
        |         substr(d.t, CAST(sel.mpos AS INTEGER), 50) AS g
        |  FROM sel JOIN d ON d.id = sel.id),
        |rare AS (
        |  SELECT fp FROM (SELECT fp, COUNT(DISTINCT id) AS df FROM seeds GROUP BY fp)
        |  WHERE df <= 8),
        |kept AS (SELECT seeds.* FROM seeds JOIN rare USING (fp))
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(COUNT(DISTINCT (a.pos, b.pos)) AS BIGINT) AS n_spans,
        |       CAST(struct_extract(MIN((a.pos, b.pos)), 1) AS INTEGER) AS pos_a,
        |       CAST(struct_extract(MIN((a.pos, b.pos)), 2) AS INTEGER) AS pos_b
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id AND a.g = b.g
        |GROUP BY a.id, b.id ORDER BY id_a, id_b""".stripMargin,

    "q175_bm25_batch" ->
      s"""WITH qt(qid, s) AS (VALUES
         |    (0, 'spark'), (0, 'merge'), (0, 'vector'),
         |    (1, 'data'), (1, 'pipeline'),
         |    (2, 'window'), (2, 'shuffle'), (2, 'partition'), (2, 'join')),
         |tok AS (SELECT doc_id AS id, unnest($toksExpr) AS s FROM documents),
         |tf AS (SELECT id, s, COUNT(*) AS tf FROM tok GROUP BY id, s),
         |dl AS (SELECT id, SUM(tf) AS dl FROM tf GROUP BY id),
         |g AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
         |dft AS (SELECT s, COUNT(*) AS df FROM tf
         |        WHERE s IN (SELECT s FROM qt) GROUP BY s),
         |sc AS (
         |  SELECT qt.qid, tf.id,
         |    CAST(floor(
         |      ((g.n_docs - d.df + 0.5) / (d.df + 0.5))
         |      * (tf.tf * (1.2 + 1.0))
         |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
         |                        / (CAST(g.tot AS DOUBLE) / g.n_docs)))
         |      * 1048576.0) AS BIGINT) AS fp
         |  FROM tf JOIN qt ON tf.s = qt.s JOIN dl USING (id)
         |  JOIN dft d ON tf.s = d.s CROSS JOIN g),
         |agg AS (SELECT qid, id, SUM(fp) AS score_fp, COUNT(*) AS n_terms_hit
         |        FROM sc GROUP BY qid, id),
         |rk AS (SELECT qid, id, score_fp, n_terms_hit,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |         ORDER BY score_fp DESC, id) AS INTEGER) AS rank FROM agg)
         |SELECT CAST(qid AS BIGINT) AS qid, id AS doc_id,
         |       CAST(score_fp AS DOUBLE) / 1048576.0 AS score,
         |       CAST(n_terms_hit AS BIGINT) AS n_terms_hit, rank
         |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q176_hybrid_rrf" ->
      s"""WITH qt(qid, s) AS (VALUES
         |    (0, 'spark'), (0, 'merge'), (0, 'vector'),
         |    (1, 'data'), (1, 'pipeline'),
         |    (2, 'window'), (2, 'shuffle'), (2, 'partition'), (2, 'join')),
         |tok AS (SELECT doc_id AS id, unnest($toksExpr) AS s FROM documents),
         |tf AS (SELECT id, s, COUNT(*) AS tf FROM tok GROUP BY id, s),
         |dl AS (SELECT id, SUM(tf) AS dl FROM tf GROUP BY id),
         |g AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot FROM dl),
         |dft AS (SELECT s, COUNT(*) AS df FROM tf
         |        WHERE s IN (SELECT s FROM qt) GROUP BY s),
         |sc AS (
         |  SELECT qt.qid, tf.id,
         |    CAST(floor(
         |      ((g.n_docs - d.df + 0.5) / (d.df + 0.5))
         |      * (tf.tf * (1.2 + 1.0))
         |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
         |                        / (CAST(g.tot AS DOUBLE) / g.n_docs)))
         |      * 1048576.0) AS BIGINT) AS fp
         |  FROM tf JOIN qt ON tf.s = qt.s JOIN dl USING (id)
         |  JOIN dft d ON tf.s = d.s CROSS JOIN g),
         |agg AS (SELECT qid, id, SUM(fp) AS score_fp, COUNT(*) AS n_terms_hit
         |        FROM sc GROUP BY qid, id),
         |sp AS (SELECT qid, id,
         |         ROW_NUMBER() OVER (PARTITION BY qid
         |           ORDER BY score_fp DESC, id) AS rank FROM agg
         |       QUALIFY rank <= 10),
         |dq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |       WHERE vec_id < 3),
         |ds AS (SELECT q.qid, e.vec_id AS id,
         |         ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |           ${dotExpr("e.embedding", "q.qv")}
         |             / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |                * SQRT(${dotExpr("q.qv", "q.qv")})) DESC,
         |           e.vec_id) AS rank
         |       FROM embeddings e CROSS JOIN dq q WHERE e.vec_id <> q.qid
         |       QUALIFY rank <= 10),
         |u AS (SELECT CAST(qid AS BIGINT) AS qid, id, rank FROM sp
         |      UNION ALL SELECT qid, id, rank FROM ds),
         |f AS (SELECT qid, id, SUM(1048576 // (rank + 60)) AS rrf_fp,
         |             COUNT(*) AS n_lists FROM u GROUP BY qid, id),
         |fr AS (SELECT qid, id, rrf_fp, n_lists,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |         ORDER BY rrf_fp DESC, id) AS INTEGER) AS rank FROM f)
         |SELECT qid, id AS doc_id, CAST(rrf_fp AS BIGINT) AS rrf_fp,
         |       CAST(n_lists AS BIGINT) AS n_lists, rank
         |FROM fr WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "q177_containment_pairs" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT -doc_id - 1, substr(text, 1, 120) FROM documents
         |  WHERE doc_id % 10 = 0),
         |sh0 AS (SELECT doc_id, $toksExpr AS w FROM base),
         |sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
         |           i -> concat_ws(' ', w[CAST(i AS INTEGER)],
         |                          w[CAST(i AS INTEGER) + 1],
         |                          w[CAST(i AS INTEGER) + 2]))) AS sh
         |  FROM sh0),
         |r AS (SELECT doc_id AS id, unnest(sh) AS s FROM sh),
         |sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM r GROUP BY id),
         |dfs AS (SELECT s FROM r GROUP BY s HAVING COUNT(*) <= 8),
         |rare AS (SELECT r.id, r.s FROM r JOIN dfs USING (s)),
         |cand AS (SELECT a.id AS id_a, b.id AS id_b
         |         FROM rare a JOIN rare b ON a.s = b.s AND a.id < b.id
         |         GROUP BY a.id, b.id HAVING COUNT(*) >= 2),
         |i AS (SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
         |      FROM cand c
         |      JOIN r ra ON ra.id = c.id_a
         |      JOIN r rb ON rb.id = c.id_b AND rb.s = ra.s
         |      GROUP BY c.id_a, c.id_b)
         |SELECT i.id_a, i.id_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b,
         |       CAST(i.inter AS DOUBLE) / sa.sz AS cont_a_in_b,
         |       CAST(i.inter AS DOUBLE) / sb.sz AS cont_b_in_a
         |FROM i JOIN sizes sa ON sa.id = i.id_a
         |JOIN sizes sb ON sb.id = i.id_b
         |WHERE greatest(CAST(i.inter AS DOUBLE) / sa.sz,
         |               CAST(i.inter AS DOUBLE) / sb.sz) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q179_langid_confusion" ->
      s"""WITH t AS (SELECT lang, n_chars, text, $toksExpr AS toks FROM documents),
         |cls AS (
         |  SELECT lang AS lang_decl, n_chars, CASE
         |    WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |    WHEN len(regexp_extract_all(text, '[\\x{0400}-\\x{04ff}]')) > 0 THEN 'ru'
         |    WHEN len(regexp_extract_all(text, '[\\x{0600}-\\x{06ff}]')) > 0 THEN 'ar'
         |    WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
         |         / len(toks) >= 0.05 THEN 'en'
         |    ELSE 'other' END AS lang_pred
         |  FROM t)
         |SELECT lang_decl, lang_pred, COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM cls GROUP BY lang_decl, lang_pred
         |ORDER BY lang_decl, lang_pred""".stripMargin,

    "q180_ann_ndcg" -> {
      val w = graft.llm.Similarity.ndcgWeights(5)
      s"""WITH wl AS (SELECT [${w.mkString(", ")}] AS ws),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id < 8),
         |ts AS (
         |  SELECT q.qid, e.vec_id,
         |         ${dotExpr("e.embedding", "q.qv")}
         |           / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |              * SQRT(${dotExpr("q.qv", "q.qv")})) AS c
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |tr AS (SELECT qid, c,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rank
         |       FROM ts QUALIFY rank <= 5),
         |idcg AS (SELECT qid,
         |           SUM(CAST(floor((c + 1.0) * 1048576.0) AS BIGINT)
         |               * ws[CAST(rank AS INTEGER)]) AS idcg_fp
         |         FROM tr CROSS JOIN wl GROUP BY qid),
         |be AS (SELECT vec_id, embedding, ${bucketExpr("embedding", 4)} AS bucket
         |       FROM embeddings),
         |bq AS (SELECT q.qid, q.qv, b.bucket AS qbucket
         |       FROM q JOIN be b ON b.vec_id = q.qid),
         |ls AS (
         |  SELECT bq.qid, e.vec_id,
         |         ${dotExpr("e.embedding", "bq.qv")}
         |           / (SQRT(${dotExpr("e.embedding", "e.embedding")})
         |              * SQRT(${dotExpr("bq.qv", "bq.qv")})) AS c
         |  FROM be e JOIN bq ON e.bucket = bq.qbucket
         |  WHERE e.vec_id <> bq.qid),
         |lr AS (SELECT qid, c,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rank
         |       FROM ls QUALIFY rank <= 5),
         |dcg AS (SELECT qid,
         |          SUM(CAST(floor((c + 1.0) * 1048576.0) AS BIGINT)
         |              * ws[CAST(rank AS INTEGER)]) AS dcg_fp
         |        FROM lr CROSS JOIN wl GROUP BY qid)
         |SELECT i.qid, CAST(COALESCE(d.dcg_fp, 0) AS BIGINT) AS dcg_fp,
         |       CAST(i.idcg_fp AS BIGINT) AS idcg_fp,
         |       CAST(COALESCE(d.dcg_fp, 0) AS DOUBLE) / i.idcg_fp AS ndcg
         |FROM idcg i LEFT JOIN dcg d USING (qid) ORDER BY i.qid""".stripMargin
    },

    "q181_chunk_spans" ->
      s"""WITH t AS (SELECT doc_id AS id,
         |                 CAST(len($toksExpr) AS BIGINT) AS n_tok
         |          FROM documents),
         |c AS (SELECT id, n_tok,
         |             unnest(range(0, 1 + greatest((n_tok - 64 + 48 - 1) // 48, 0))) AS chunk_idx
         |      FROM t WHERE n_tok > 0)
         |SELECT id, n_tok, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |       CAST(chunk_idx * 48 AS BIGINT) AS tok_start,
         |       CAST(least(chunk_idx * 48 + 64, n_tok) AS BIGINT) AS tok_end,
         |       CAST(least(chunk_idx * 48 + 64, n_tok) - chunk_idx * 48 AS BIGINT) AS n_chunk_tokens
         |FROM c ORDER BY id, chunk_idx""".stripMargin,

    "q182_bottomk_quantiles" ->
      s"""WITH d AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
         |                  md5(CAST(doc_id AS VARCHAR)) AS dr FROM documents),
         |samp AS (SELECT g, v, dr,
         |           ROW_NUMBER() OVER (PARTITION BY g ORDER BY dr, v) AS r
         |         FROM d QUALIFY r <= 40),
         |sz AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_rows FROM d GROUP BY g),
         |rk AS (SELECT g, v,
         |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, dr) AS vr,
         |         COUNT(*) OVER (PARTITION BY g) AS kk FROM samp),
         |q25 AS (SELECT g, v AS p25 FROM rk WHERE vr = (kk * 25 + 99) // 100),
         |q50 AS (SELECT g, v AS p50 FROM rk WHERE vr = (kk * 50 + 99) // 100),
         |q75 AS (SELECT g, v AS p75 FROM rk WHERE vr = (kk * 75 + 99) // 100),
         |q95 AS (SELECT g, v AS p95 FROM rk WHERE vr = (kk * 95 + 99) // 100)
         |SELECT sz.g AS source, sz.n_rows, q25.p25, q50.p50, q75.p75, q95.p95
         |FROM sz JOIN q25 USING (g) JOIN q50 USING (g)
         |JOIN q75 USING (g) JOIN q95 USING (g)
         |ORDER BY source""".stripMargin,

    "q183_boilerplate_strip" ->
      s"""WITH seeded AS (
         |  SELECT doc_id, COALESCE(text, '') || CASE WHEN doc_id % 5 = 0
         |    THEN '. subscribe to the newsletter for daily updates'
         |    ELSE '' END AS text
         |  FROM documents),
         |sp AS (SELECT doc_id AS id,
         |              string_split_regex(text, '\\. ') AS parts FROM seeded),
         |segs AS (
         |  SELECT id, CAST(i AS INTEGER) - 1 AS pos, parts[CAST(i AS INTEGER)] AS p
         |  FROM sp CROSS JOIN unnest(range(1, len(parts) + 1)) t(i)),
         |counted AS (SELECT id, pos, md5(p) AS h FROM segs WHERE len(p) >= 20),
         |hot AS (SELECT h FROM counted GROUP BY h HAVING COUNT(DISTINCT id) > 3),
         |drops AS (SELECT c.id, c.pos FROM counted c JOIN hot USING (h)),
         |marked AS (
         |  SELECT s.id, s.pos, s.p, d.pos IS NOT NULL AS dropped
         |  FROM segs s LEFT JOIN drops d ON s.id = d.id AND s.pos = d.pos)
         |SELECT id AS doc_id,
         |       CAST(SUM(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       COALESCE(string_agg(CASE WHEN dropped THEN NULL ELSE p END,
         |                           '. ' ORDER BY pos), '') AS clean_text
         |FROM marked GROUP BY id ORDER BY doc_id""".stripMargin,

    "q184_lexicon_tag" ->
      s"""WITH lex(t, term) AS (VALUES $lexiconValues),
         |d AS (SELECT doc_id, COALESCE(text,'') AS text FROM documents),
         |occ AS (SELECT d.doc_id, l.t, l.term,
         |   len(list_filter(range(1, len(d.text) - len(l.term) + 2),
         |       i -> substr(d.text, CAST(i AS INTEGER), len(l.term)) = l.term)) AS c
         |   FROM d CROSS JOIN lex l)
         |SELECT doc_id,
         |  CAST(SUM(c) AS BIGINT) AS n_hits,
         |  CAST(SUM(CASE WHEN c>0 THEN 1 ELSE 0 END) AS INTEGER) AS n_terms,
         |  FIRST(CASE WHEN c>0 THEN term END ORDER BY c DESC, t) AS top_term,
         |  CASE WHEN MAX(c) > 0 THEN CAST(MAX(c) AS BIGINT) END AS top_count
         |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q185_lexicon_term_stats" ->
      s"""WITH lex(t, term) AS (VALUES $lexiconValues),
         |d AS (SELECT COALESCE(text,'') AS text FROM documents),
         |occ AS (SELECT l.t, l.term,
         |   len(list_filter(range(1, len(d.text) - len(l.term) + 2),
         |       i -> substr(d.text, CAST(i AS INTEGER), len(l.term)) = l.term)) AS c
         |   FROM d CROSS JOIN lex l)
         |SELECT t, term, CAST(SUM(c) AS BIGINT) AS n_occ,
         |       CAST(SUM(CASE WHEN c>0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
         |FROM occ GROUP BY t, term ORDER BY t""".stripMargin,

    "q191_pmi_collocations" ->
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS ts FROM documents),
         |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
         |        FROM (SELECT unnest(ts) AS w FROM toks) GROUP BY w),
         |nt AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_tokens FROM uni),
         |allp AS (
         |  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM (SELECT doc_id,
         |          unnest(list_transform(range(1, len(ts)),
         |            i -> ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER) + 1])) AS pair
         |        FROM toks) GROUP BY pair),
         |bt AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS n_bigrams FROM allp),
         |sc AS (
         |  SELECT p.pair, p.n_occ, p.n_docs, u1.cw AS c1, u2.cw AS c2,
         |    CAST(FLOOR(LN(CAST(p.n_occ AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      + 2 * CAST(FLOOR(LN(CAST(nt.n_tokens AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      - CAST(FLOOR(LN(CAST(bt.n_bigrams AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      - CAST(FLOOR(LN(CAST(u1.cw AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      - CAST(FLOOR(LN(CAST(u2.cw AS DOUBLE)) * 1048576.0) AS BIGINT) AS pmi_fp
         |  FROM allp p
         |  JOIN uni u1 ON u1.w = string_split(p.pair, ' ')[1]
         |  JOIN uni u2 ON u2.w = string_split(p.pair, ' ')[2]
         |  CROSS JOIN nt CROSS JOIN bt
         |  WHERE p.n_occ >= 5)
         |SELECT pair, n_occ, n_docs, c1, c2, pmi_fp,
         |       CAST(pmi_fp AS DOUBLE) / 1048576.0 AS pmi
         |FROM sc ORDER BY pmi_fp DESC, pair LIMIT 20""".stripMargin,

    "q188_pq_encode" -> pqOracle(
      """SELECT vec_id,
        |  string_agg(CAST(c AS VARCHAR), ',' ORDER BY sub) AS codes,
        |  CAST(SUM(d_fp) AS BIGINT) AS err_fp,
        |  CAST(SUM(d_fp) AS DOUBLE) / 1048576.0 AS err
        |FROM a2c GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    "q189_pq_audit" -> pqOracle(
      """SELECT sub, c AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(d_fp) AS BIGINT) AS inertia_fp,
        |  CAST(SUM(d_fp) AS DOUBLE) / 1048576.0 AS inertia
        |FROM a2c GROUP BY sub, c ORDER BY sub, cluster""".stripMargin),

    "q190_pq_adc_topk" -> pqOracle(
      extraCtes = s",\n$pqQueryLutCtes," + """
        |adc AS (SELECT l.qid, a.vec_id AS id, CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
        |        FROM a2c a JOIN lut l ON a.sub = l.sub AND a.c = l.c
        |        WHERE a.vec_id <> l.qid GROUP BY l.qid, a.vec_id)""".stripMargin,
      select = """SELECT qid, id AS vec_id, adc_fp,
        |  CAST(adc_fp AS DOUBLE) / 1048576.0 AS adc,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, id) AS INTEGER) AS rank
        |FROM adc QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin),

    "q195_ivf_pq_residual" -> {
      val distQ = foldSum(
        "list_transform(range(1, 65), i -> " +
          "(CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)])" +
          " * (CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)]))")
      val distLut = foldSum(
        "list_transform(range(1, 17), i -> " +
          "(q2.v[CAST(i AS INTEGER)] - cl.cents[cc.c + 1][CAST(i AS INTEGER)])" +
          " * (q2.v[CAST(i AS INTEGER)] - cl.cents[cc.c + 1][CAST(i AS INTEGER)]))")
      s"""WITH $coarseCtes,
         |resid AS (SELECT e.vec_id,
         |    list_transform(range(1, 65), i ->
         |      CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE)
         |        - kcl.cents[kc.cell + 1][CAST(i AS INTEGER)]) AS embedding
         |  FROM embeddings e JOIN kcell kc ON e.vec_id = kc.vec_id
         |  CROSS JOIN kcl),
         |${pqCtesFrom("resid")},
         |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |       WHERE vec_id < 3),
         |kqd AS (SELECT q.qid, cc.cell,
         |          CAST(FLOOR($distQ * 1048576.0) AS BIGINT) AS cd_fp
         |        FROM qs q CROSS JOIN kcl
         |        CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS cell) cc),
         |kroute AS (SELECT qid, cell FROM (
         |          SELECT qid, cell,
         |            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cd_fp, cell) AS r
         |          FROM kqd) WHERE r <= 2),
         |qres AS (SELECT r.qid, r.cell,
         |    list_transform(range(1, 65), i ->
         |      CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE)
         |        - kcl.cents[r.cell + 1][CAST(i AS INTEGER)]) AS rqv
         |  FROM kroute r JOIN qs q ON q.qid = r.qid CROSS JOIN kcl),
         |qrsv AS (SELECT qid, cell, s.sub,
         |    qres.rqv[s.sub*16+1 : s.sub*16+16] AS v
         |  FROM qres CROSS JOIN subs s),
         |rlut AS (SELECT q2.qid, q2.cell, q2.sub, cc.c,
         |    CAST(FLOOR($distLut * 1048576.0) AS BIGINT) AS d_fp
         |  FROM qrsv q2 JOIN cl ON q2.sub = cl.sub
         |  CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS c) cc),
         |cand AS (SELECT r.qid, kc.vec_id AS id, kc.cell
         |  FROM kcell kc JOIN kroute r ON kc.cell = r.cell
         |  WHERE kc.vec_id <> r.qid),
         |ncand AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
         |  FROM cand GROUP BY qid),
         |adc AS (SELECT cd.qid, a.vec_id AS id, CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
         |  FROM a2c a
         |  JOIN cand cd ON a.vec_id = cd.id
         |  JOIN rlut l ON l.qid = cd.qid AND l.cell = cd.cell
         |    AND l.sub = a.sub AND l.c = a.c
         |  GROUP BY cd.qid, a.vec_id)
         |SELECT f.qid, f.id AS vec_id, f.adc_fp,
         |  CAST(f.adc_fp AS DOUBLE) / 1048576.0 AS adc, f.rank, n.n_cand
         |FROM (SELECT qid, id, adc_fp,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, id) AS INTEGER) AS rank
         |      FROM adc) f JOIN ncand n USING (qid)
         |WHERE f.rank <= 5 ORDER BY f.qid, f.rank""".stripMargin
    },

    "q194_knn_pagerank" -> {
      val prRounds = (1 to 5).map { r =>
        s"""pr$r AS (SELECT n.id,
           |    CAST(157286 + (85 * COALESCE(s.in_fp, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, SUM(p.r // e.deg) AS in_fp
           |    FROM edeg e JOIN pr${r - 1} p ON p.id = e.src
           |    GROUP BY e.dst) s ON n.id = s.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH bucketed AS (
         |  SELECT vec_id AS id, embedding AS vec, ${bucketExpr("embedding", 4)} AS bucket,
         |         SQRT(${dotExpr("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |kpairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         ${dotExpr("a.vec", "b.vec")} / (a.nrm * b.nrm) AS c
         |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.id <> b.id),
         |kranked AS (
         |  SELECT id_a, id_b,
         |         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY c DESC, id_b) AS rn
         |  FROM kpairs),
         |edges AS (SELECT DISTINCT id_a AS src, id_b AS dst FROM kranked WHERE rn <= 3),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
         |edeg AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |pr0 AS (SELECT id, CAST(1048576 AS BIGINT) AS r FROM nodes),
         |$prRounds
         |SELECT id AS vec_id, r AS r_fp, CAST(r AS DOUBLE) / 1048576.0 AS rank
         |FROM pr5 ORDER BY vec_id""".stripMargin
    },

    "q193_pq_recall" -> {
      val distQ = foldSum(
        "list_transform(range(1, 65), i -> " +
          "(CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)])" +
          " * (CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)]))")
      s"""WITH $coarseCtes,
         |$pqCtes,
         |$pqQueryLutCtes,
         |truth AS (SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        ${foldSum("list_transform(range(1, 65), i -> " +
                   "(CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE))" +
                   " * (CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE) - CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE)))")},
         |        e.vec_id) AS r
         |    FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.qid)
         |  WHERE r <= 5),
         |adcpq AS (SELECT l.qid, a.vec_id AS id, CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
         |        FROM a2c a JOIN lut l ON a.sub = l.sub AND a.c = l.c
         |        WHERE a.vec_id <> l.qid GROUP BY l.qid, a.vec_id),
         |pqk AS (SELECT qid, id FROM (
         |        SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, id) AS r
         |        FROM adcpq) WHERE r <= 5),
         |kqd AS (SELECT q.qid, cc.cell,
         |          CAST(FLOOR($distQ * 1048576.0) AS BIGINT) AS cd_fp
         |        FROM qs q CROSS JOIN kcl
         |        CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS cell) cc),
         |kroute AS (SELECT qid, cell FROM (
         |          SELECT qid, cell,
         |            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cd_fp, cell) AS r
         |          FROM kqd) WHERE r <= 2),
         |cand AS (SELECT r.qid, kc.vec_id AS id
         |         FROM kcell kc JOIN kroute r ON kc.cell = r.cell
         |         WHERE kc.vec_id <> r.qid),
         |adcivf AS (SELECT cd.qid, a.vec_id AS id, CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
         |        FROM a2c a
         |        JOIN cand cd ON a.vec_id = cd.id
         |        JOIN lut l ON l.qid = cd.qid AND l.sub = a.sub AND l.c = a.c
         |        GROUP BY cd.qid, a.vec_id),
         |ivfk AS (SELECT qid, id FROM (
         |        SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, id) AS r
         |        FROM adcivf) WHERE r <= 5),
         |agg AS (SELECT t.qid, CAST(COUNT(*) AS BIGINT) AS k_eval,
         |        CAST(SUM(CASE WHEN p.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_pq,
         |        CAST(SUM(CASE WHEN v.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_ivf
         |        FROM truth t
         |        LEFT JOIN pqk p ON t.qid = p.qid AND t.vec_id = p.id
         |        LEFT JOIN ivfk v ON t.qid = v.qid AND t.vec_id = v.id
         |        GROUP BY t.qid)
         |SELECT qid, k_eval, n_hit_pq, n_hit_ivf,
         |  CAST(n_hit_pq AS DOUBLE) / k_eval AS recall_pq,
         |  CAST(n_hit_ivf AS DOUBLE) / k_eval AS recall_ivf
         |FROM agg ORDER BY qid""".stripMargin
    },

    "q192_ivf_pq_topk" -> {
      val distQ = foldSum(
        "list_transform(range(1, 65), i -> " +
          "(CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)])" +
          " * (CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)]))")
      s"""WITH $coarseCtes,
         |$pqCtes,
         |$pqQueryLutCtes,
         |kqd AS (SELECT q.qid, cc.cell,
         |          CAST(FLOOR($distQ * 1048576.0) AS BIGINT) AS cd_fp
         |        FROM qs q CROSS JOIN kcl
         |        CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS cell) cc),
         |kroute AS (SELECT qid, cell FROM (
         |          SELECT qid, cell,
         |            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cd_fp, cell) AS r
         |          FROM kqd) WHERE r <= 2),
         |cand AS (SELECT r.qid, kc.vec_id AS id
         |         FROM kcell kc JOIN kroute r ON kc.cell = r.cell
         |         WHERE kc.vec_id <> r.qid),
         |ncand AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
         |          FROM cand GROUP BY qid),
         |adc AS (SELECT cd.qid, a.vec_id AS id, CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
         |        FROM a2c a
         |        JOIN cand cd ON a.vec_id = cd.id
         |        JOIN lut l ON l.qid = cd.qid AND l.sub = a.sub AND l.c = a.c
         |        GROUP BY cd.qid, a.vec_id)
         |SELECT f.qid, f.id AS vec_id, f.adc_fp,
         |  CAST(f.adc_fp AS DOUBLE) / 1048576.0 AS adc, f.rank, n.n_cand
         |FROM (SELECT qid, id, adc_fp,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, id) AS INTEGER) AS rank
         |      FROM adc) f JOIN ncand n USING (qid)
         |WHERE f.rank <= 5 ORDER BY f.qid, f.rank""".stripMargin
    },

    "q229_ivfpq_takedown" -> {
      // q192's replay with the takedown mask: training sees the FULL
      // ingest set (frozen codebooks — deletion never retrains), the
      // candidate scan and n_cand see only survivors
      val distQ = foldSum(
        "list_transform(range(1, 65), i -> " +
          "(CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)])" +
          " * (CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)]))")
      s"""WITH $coarseCtes,
         |$pqCtes,
         |$pqQueryLutCtes,
         |kqd AS (SELECT q.qid, cc.cell,
         |          CAST(FLOOR($distQ * 1048576.0) AS BIGINT) AS cd_fp
         |        FROM qs q CROSS JOIN kcl
         |        CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS cell) cc),
         |kroute AS (SELECT qid, cell FROM (
         |          SELECT qid, cell,
         |            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cd_fp, cell) AS r
         |          FROM kqd) WHERE r <= 2),
         |cand AS (SELECT r.qid, kc.vec_id AS id
         |         FROM kcell kc JOIN kroute r ON kc.cell = r.cell
         |         WHERE kc.vec_id <> r.qid AND kc.vec_id % 9 <> 4),
         |ncand AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
         |          FROM cand GROUP BY qid),
         |adc AS (SELECT cd.qid, a.vec_id AS id, CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
         |        FROM a2c a
         |        JOIN cand cd ON a.vec_id = cd.id
         |        JOIN lut l ON l.qid = cd.qid AND l.sub = a.sub AND l.c = a.c
         |        GROUP BY cd.qid, a.vec_id)
         |SELECT f.qid, f.id AS vec_id, f.adc_fp,
         |  CAST(f.adc_fp AS DOUBLE) / 1048576.0 AS adc, f.rank, n.n_cand,
         |  CAST(0 AS BIGINT) AS n_diff
         |FROM (SELECT qid, id, adc_fp,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, id) AS INTEGER) AS rank
         |      FROM adc) f JOIN ncand n USING (qid)
         |WHERE f.rank <= 5 ORDER BY f.qid, f.rank""".stripMargin
    },

    "q201_ivf_pq_append" -> {
      // q192's search tail over a replay whose Lloyd fits see ONLY the
      // base subset while the assignment encodes the full corpus —
      // the frozen-codebook append contract
      val distQ = foldSum(
        "list_transform(range(1, 65), i -> " +
          "(CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)])" +
          " * (CAST(q.qv[CAST(i AS INTEGER)] AS DOUBLE) - kcl.cents[cc.cell + 1][CAST(i AS INTEGER)]))")
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE (vec_id % 5) <> 4),
         |${coarseCtesFrom("base", "embeddings")},
         |${pqCtesTrainAssign("base", "embeddings")},
         |$pqQueryLutCtes,
         |kqd AS (SELECT q.qid, cc.cell,
         |          CAST(FLOOR($distQ * 1048576.0) AS BIGINT) AS cd_fp
         |        FROM qs q CROSS JOIN kcl
         |        CROSS JOIN (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS cell) cc),
         |kroute AS (SELECT qid, cell FROM (
         |          SELECT qid, cell,
         |            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cd_fp, cell) AS r
         |          FROM kqd) WHERE r <= 2),
         |cand AS (SELECT r.qid, kc.vec_id AS id
         |         FROM kcell kc JOIN kroute r ON kc.cell = r.cell
         |         WHERE kc.vec_id <> r.qid),
         |ncand AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
         |          FROM cand GROUP BY qid),
         |adc AS (SELECT cd.qid, a.vec_id AS id, CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
         |        FROM a2c a
         |        JOIN cand cd ON a.vec_id = cd.id
         |        JOIN lut l ON l.qid = cd.qid AND l.sub = a.sub AND l.c = a.c
         |        GROUP BY cd.qid, a.vec_id)
         |SELECT f.qid, f.id AS vec_id, f.adc_fp,
         |  CAST(f.adc_fp AS DOUBLE) / 1048576.0 AS adc, f.rank, n.n_cand
         |FROM (SELECT qid, id, adc_fp,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_fp, id) AS INTEGER) AS rank
         |      FROM adc) f JOIN ncand n USING (qid)
         |WHERE f.rank <= 5 ORDER BY f.qid, f.rank""".stripMargin
    },

    "q211_ivf_rebalance" -> {
      val cd = "cl.cents[CAST(a.c AS INTEGER) + 1][CAST(i AS INTEGER)] - " +
        "cl.cents[CAST(b.c AS INTEGER) + 1][CAST(i AS INTEGER)]"
      // one rebalance level: the (vec_id, cell) frame `src` re-capped
      // into `post$n` — seed A = min id, seed B = farthest from A via
      // the code-pair table, nearer-seed assignment, fresh cell ids
      // from `newBase` (mirrors one ivfPqRebalance call exactly)
      // MATERIALIZED throughout: each level references its inputs
      // several times, and inline CTE expansion would re-run the
      // whole PQ-training replay once per reference (measured: the
      // two-level inline form never finished at sf0.01)
      // per-cell member→seed decode distance (one sum of code-pair
      // table entries per member)
      def dcte(n: Int, name: String, seedTab: String, seedCol: String,
               out: String): String =
        s"""$name AS MATERIALIZED (SELECT m.cell, m.vec_id, SUM(t.pd_fp) AS $out
           |       FROM mem$n m JOIN $seedTab s ON m.cell = s.cell
           |       JOIN mem$n ms ON ms.cell = m.cell AND ms.vec_id = s.$seedCol AND ms.sub = m.sub
           |       JOIN ctab t ON t.sub = m.sub AND t.c1 = m.c AND t.c2 = ms.c
           |       GROUP BY m.cell, m.vec_id)""".stripMargin
      // per-cell farthest member from the seed at positive distance
      // (ties → lowest id) — empty for decode-degenerate cells
      def farthest(n: Int, name: String, distTab: String, distCol: String,
                   out: String): String =
        s"""$name AS MATERIALIZED (SELECT cell, vec_id AS $out FROM (
           |    SELECT d.cell, d.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY d.cell ORDER BY d.$distCol DESC, d.vec_id) AS rn
           |    FROM $distTab d WHERE d.$distCol > 0) WHERE rn = 1)""".stripMargin
      def level(n: Int, src: String, newBase: String): String =
        s"""cens$n AS MATERIALIZED (SELECT cell, COUNT(*) AS n FROM $src GROUP BY cell),
           |hot$n AS MATERIALIZED (SELECT cell FROM cens$n, mx WHERE n > cap),
           |mem$n AS MATERIALIZED (SELECT k.cell, a.vec_id, a.sub, a.c FROM a2cm a
           |        JOIN $src k ON a.vec_id = k.vec_id
           |        WHERE k.cell IN (SELECT cell FROM hot$n)),
           |seed0$n AS MATERIALIZED (SELECT cell, MIN(vec_id) AS s0 FROM mem$n GROUP BY cell),
           |${dcte(n, s"d0$n", s"seed0$n", "s0", "d_0")},
           |${farthest(n, s"seedf$n", s"d0$n", "d_0", "sf")},
           |vant$n AS MATERIALIZED (SELECT s.cell, COALESCE(f.sf, s.s0) AS sv
           |  FROM seed0$n s LEFT JOIN seedf$n f ON s.cell = f.cell),
           |${dcte(n, s"dv$n", s"vant$n", "sv", "d_v")},
           |hist$n AS MATERIALIZED (SELECT cell, d_v, COUNT(*) AS cnt
           |  FROM dv$n GROUP BY cell, d_v),
           |tstat$n AS MATERIALIZED (SELECT cell, SUM(cnt) AS n, MAX(d_v) AS dmax
           |  FROM hist$n GROUP BY cell),
           |cum$n AS MATERIALIZED (SELECT cell, d_v,
           |    SUM(cnt) OVER (PARTITION BY cell ORDER BY d_v) AS cum
           |  FROM hist$n),
           |med0$n AS MATERIALIZED (SELECT c.cell, MIN(c.d_v) AS d0
           |  FROM cum$n c JOIN tstat$n t ON c.cell = t.cell
           |  WHERE c.cum >= (t.n + 1) // 2 GROUP BY c.cell),
           |pmax$n AS MATERIALIZED (SELECT h.cell, MAX(h.d_v) AS pm
           |  FROM hist$n h JOIN tstat$n t ON h.cell = t.cell
           |  WHERE h.d_v < t.dmax GROUP BY h.cell),
           |dmed$n AS MATERIALIZED (SELECT m0.cell,
           |    CASE WHEN h.cnt > (SELECT cap FROM mx) THEN NULL
           |         WHEN m0.d0 = t.dmax THEN p.pm
           |         ELSE m0.d0 END AS dmed
           |  FROM med0$n m0 JOIN tstat$n t ON m0.cell = t.cell
           |  JOIN hist$n h ON h.cell = m0.cell AND h.d_v = m0.d0
           |  LEFT JOIN pmax$n p ON m0.cell = p.cell),
           |imid$n AS MATERIALIZED (SELECT cell,
           |    (MIN(vec_id) + MAX(vec_id)) // 2 AS imid FROM mem$n GROUP BY cell),
           |deg$n AS MATERIALIZED (SELECT cell FROM hist$n
           |  GROUP BY cell HAVING COUNT(*) <= 1),
           |splitc$n AS MATERIALIZED (SELECT cell,
           |    $newBase + ROW_NUMBER() OVER (ORDER BY cell) - 1 AS new_cell
           |  FROM hot$n WHERE cell NOT IN (SELECT cell FROM deg$n)),
           |post$n AS MATERIALIZED (SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM $src
           |         WHERE cell NOT IN (SELECT cell FROM splitc$n)
           |         UNION ALL
           |         SELECT v.vec_id,
           |           CASE WHEN dm.dmed IS NOT NULL
           |             THEN (CASE WHEN v.d_v <= dm.dmed THEN sc.new_cell ELSE CAST(v.cell AS BIGINT) END)
           |             ELSE (CASE WHEN v.vec_id <= im.imid THEN sc.new_cell ELSE CAST(v.cell AS BIGINT) END)
           |           END
           |         FROM dv$n v JOIN dmed$n dm ON v.cell = dm.cell
           |         JOIN imid$n im ON v.cell = im.cell
           |         JOIN splitc$n sc ON sc.cell = v.cell)""".stripMargin
      s"""WITH emb AS (SELECT vec_id,
         |  CASE WHEN vec_id % 4 = 3
         |    THEN list_transform(range(1, 65), i ->
         |      CAST(CASE WHEN i <= 8
         |             THEN 2.5 + CAST(vec_id % 7 AS DOUBLE) * 0.5
         |             ELSE 2.5 END AS FLOAT))
         |    ELSE embedding END AS embedding
         |  FROM embeddings),
         |base AS (SELECT vec_id, embedding FROM emb WHERE vec_id % 4 <> 3),
         |${coarseCtesFrom("base", "emb")},
         |${pqCtesTrainAssign("base", "emb")},
         |mx AS MATERIALIZED (SELECT COUNT(*) // 5 AS cap FROM embeddings),
         |kcellm AS MATERIALIZED (SELECT vec_id, cell FROM kcell),
         |a2cm AS MATERIALIZED (SELECT vec_id, sub, c FROM a2c),
         |ctab AS MATERIALIZED (SELECT cl.sub, CAST(a.c AS INTEGER) AS c1, CAST(b.c AS INTEGER) AS c2,
         |  CAST(FLOOR(${foldSum(s"list_transform(range(1, 17), i -> ($cd) * ($cd))")} * 1048576.0) AS BIGINT) AS pd_fp
         |  FROM cl CROSS JOIN range(8) a(c) CROSS JOIN range(8) b(c)),
         |${level(1, "kcellm", "8")},
         |${level(2, "post1", "(SELECT 8 + COUNT(*) FROM splitc1)")},
         |censpost AS (SELECT cell, COUNT(*) AS n FROM post2 GROUP BY cell)
         |SELECT (SELECT COUNT(*) FROM post2) AS n_vecs,
         |  (SELECT COUNT(*) FROM cens1) AS n_cells_pre,
         |  (SELECT MAX(n) FROM cens1) AS max_occ_pre,
         |  (SELECT CAST(SUM(CASE WHEN n > (SELECT cap FROM mx) THEN 1 ELSE 0 END) AS BIGINT) FROM cens1) AS n_over_pre,
         |  (SELECT COUNT(*) FROM censpost) AS n_cells_post,
         |  (SELECT MAX(n) FROM censpost) AS max_occ_post,
         |  (SELECT CAST(SUM(CASE WHEN n > (SELECT cap FROM mx) THEN 1 ELSE 0 END) AS BIGINT) FROM censpost) AS n_over_post""".stripMargin
    },

    "q212_stream_dedup" ->
      ("WITH verified AS (\n" + minhashPairsSql + "\n),\n" +
       """sym AS (SELECT id_a AS d, id_b AS p FROM verified
         |        UNION ALL SELECT id_b AS d, id_a AS p FROM verified),
         |f AS (SELECT doc_id, doc_id % 5 AS batch FROM documents),
         |flagged AS (SELECT s.d AS doc_id FROM sym s
         |  JOIN f pf ON s.p = pf.doc_id
         |  JOIN f df ON s.d = df.doc_id
         |  WHERE pf.batch < df.batch
         |  GROUP BY s.d)
         |SELECT f.doc_id, f.batch,
         |  CAST(CASE WHEN fl.doc_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS dup_earlier
         |FROM f LEFT JOIN flagged fl ON f.doc_id = fl.doc_id
         |ORDER BY f.doc_id""".stripMargin),

    "q186_zipf_fit" ->
      s"""WITH toks AS (SELECT unnest($toksExpr) AS tok FROM documents),
         |counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
         |head AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 500),
         |ranked AS (SELECT
         |  CAST(FLOOR(LN(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) * 1024.0) AS BIGINT) AS x,
         |  CAST(FLOOR(LN(CAST(cnt AS DOUBLE)) * 1024.0) AS BIGINT) AS y
         |  FROM head),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
         |  CAST(SUM(y*y) AS BIGINT) AS syy FROM ranked)
         |SELECT n_terms,
         |  CAST(n_terms*sxy - sx*sy AS DOUBLE)
         |    / CAST(n_terms*sxx - sx*sx AS DOUBLE) AS slope,
         |  (CAST(n_terms*sxy - sx*sy AS DOUBLE) * CAST(n_terms*sxy - sx*sy AS DOUBLE))
         |    / (CAST(n_terms*sxx - sx*sx AS DOUBLE) * CAST(n_terms*syy - sy*sy AS DOUBLE)) AS r2,
         |  sx, sy, sxy, sxx
         |FROM m""".stripMargin,

    "q187_classifier_kappa" ->
      s"""WITH f AS (SELECT len($toksExpr) AS n_tok,
         |                  len(list_distinct($toksExpr)) AS n_dis
         |           FROM documents WHERE text IS NOT NULL),
         |l AS (SELECT CASE WHEN n_tok >= 40 THEN 1 ELSE 0 END AS a,
         |             CASE WHEN 2*n_dis >= n_tok THEN 1 ELSE 0 END AS b FROM f),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN a=1 AND b=1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |  CAST(SUM(CASE WHEN a=1 AND b=0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |  CAST(SUM(CASE WHEN a=0 AND b=1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |  CAST(SUM(CASE WHEN a=0 AND b=0 THEN 1 ELSE 0 END) AS BIGINT) AS n00 FROM l)
         |SELECT n, n11, n10, n01, n00,
         |  CASE WHEN n*n <> ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00))
         |    THEN CAST(n*(n11+n00) - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE)
         |      / CAST(n*n - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE)
         |  END AS kappa
         |FROM m""".stripMargin,

    "q178_bpe_train" -> bpeTrainOracle(pre = "",
      src = s"(SELECT $toksExpr AS w FROM documents)"),

    // q197: identical three-round replay over the md5-top-200 prefix
    // sample — the samp CTE replays Sampling.stratifiedTake's
    // (md5(key), key) rank order exactly
    "q197_bpe_train_sampled" -> bpeTrainOracle(
      pre = """samp AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |    FROM documents) WHERE rn <= 200),
        |""".stripMargin,
      src = s"(SELECT $toksExpr AS w FROM samp)"),

    "q172_curation_funnel" -> {
      val em = TextAnalysis.EmailRe
      val ip = TextAnalysis.Ipv4Re
      s"""WITH seeded AS (
         |  SELECT doc_id, source,
         |         text
         |         || CASE WHEN doc_id % 7 = 0
         |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |              ELSE '' END
         |         || CASE WHEN doc_id % 11 = 0
         |              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)
         |              ELSE '' END
         |         || CASE WHEN doc_id % 5 = 0 THEN chr(65533) ELSE '' END
         |         || CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END AS text
         |  FROM documents),
         |t AS (SELECT source, text, $toksExpr AS toks FROM seeded),
         |m AS (
         |  SELECT source, text,
         |         CAST(len(toks) AS INTEGER) AS n_tokens,
         |         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_token_len,
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS lex_diversity,
         |         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |           / length(text) AS punct_ratio
         |  FROM t),
         |f AS (
         |  SELECT source,
         |    ((CASE WHEN n_tokens < 5 OR n_tokens > 5000 THEN 1 ELSE 0 END
         |      + CASE WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN 1 ELSE 0 END
         |      + CASE WHEN lex_diversity < 0.3 THEN 1 ELSE 0 END
         |      + CASE WHEN punct_ratio > 0.2 THEN 1 ELSE 0 END) = 0) AS pass_q,
         |    (len(regexp_extract_all(text, '$em')) = 0
         |       AND len(regexp_extract_all(text, '$ip')) = 0) AS no_pii,
         |    (length(text) - length(translate(text, chr(65533), '')) = 0
         |       AND length(text) - length(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) = 0
         |       AND length(regexp_replace(text, '[^\\x20-\\x7E\\t\\n\\r]', '', 'g')) * 5 >= length(text) * 4) AS healthy
         |  FROM m)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |       CAST(SUM(CASE WHEN pass_q AND no_pii THEN 1 ELSE 0 END) AS BIGINT) AS n_no_pii,
         |       CAST(SUM(CASE WHEN pass_q AND no_pii AND healthy THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
         |       CAST(SUM(CASE WHEN pass_q AND no_pii AND healthy THEN 1 ELSE 0 END) AS DOUBLE)
         |         / COUNT(*) AS yield_rate
         |FROM f GROUP BY source ORDER BY source""".stripMargin
    },
  )

  /** q171 composes the four ALREADY-PROVEN family replays (q47,
    * q154, q75, q170 — embedded verbatim as subqueries, so the pair
    * semantics cannot drift from their individually gated forms) and
    * adds only the mask aggregation on top.
    */
  val oracles: Map[String, String] = baseOracles +
    ("q171_family_matrix" -> {
      // substitute AFTER stripMargin: the embedded family SQL contains
      // lines beginning with the `||` concat operator, which a second
      // stripMargin pass would truncate into invalid SQL
      """WITH mh AS (SELECT id_a, id_b FROM (%MH%)),
        |wn AS (SELECT id_a, id_b FROM (%WN%)),
        |ng AS (SELECT id_a, id_b FROM (%NG%)),
        |ed AS (SELECT LEAST(id_a, id_b) AS id_a, GREATEST(id_a, id_b) AS id_b
        |       FROM (%ED%)),
        |u AS (
        |  SELECT id_a, id_b, CAST(SUM(bit) AS BIGINT) AS mask FROM (
        |    SELECT id_a, id_b, 1 AS bit FROM mh
        |    UNION ALL SELECT id_a, id_b, 2 FROM wn
        |    UNION ALL SELECT id_a, id_b, 4 FROM ng
        |    UNION ALL SELECT id_a, id_b, 8 FROM ed)
        |  GROUP BY id_a, id_b)
        |SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       concat_ws('+',
        |         CASE WHEN mask & 1 > 0 THEN 'minhash' END,
        |         CASE WHEN mask & 2 > 0 THEN 'winnow' END,
        |         CASE WHEN mask & 4 > 0 THEN 'ngram' END,
        |         CASE WHEN mask & 8 > 0 THEN 'edit' END) AS families
        |FROM u GROUP BY mask ORDER BY mask""".stripMargin
        .replace("%MH%", baseOracles("q47_dedup_minhash"))
        .replace("%WN%", baseOracles("q154_winnow_matches"))
        .replace("%NG%", baseOracles("q75_dedup_ngram"))
        .replace("%ED%", baseOracles("q170_edit_verified"))
    }) +
    // q196 replays q192's exact search against the SAME deterministic
    // training — the at-rest layout changes WHERE the codes live, not
    // their values, so one oracle gates both (the q85/q103 pattern)
    ("q196_ivf_pq_at_rest" -> baseOracles("q192_ivf_pq_topk")) +
    // the stream-built indexes must answer bit-identically to their
    // batch-built twins (same split, same probe), so the batch
    // oracles gate them from scratch (the q231/q217 pattern)
    ("q238_stream_ivfpq" -> baseOracles("q201_ivf_pq_append")) +
    ("q239_stream_winnow" -> baseOracles("q230_winnow_at_rest")) +
    // q198: the hot-bucket star cap ACTIVE — seeded boilerplate corpus,
    // banding census, star+clique pairing, Jaccard verify, recursive
    // closure; the min-labeled cluster must hold all 200 injected docs
    ("q198_lsh_hot_star" -> {
      val boiler = "subscribe to our newsletter for updates terms of " +
        "service privacy policy all rights reserved contact our support team today"
      val seeded =
        s"""seeded AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id < 200 THEN '$boiler' ELSE text END AS text
           |  FROM documents),
           |""".stripMargin
      val bandedSelect =
        s"WITH $seeded${minhashBandedCteFrom("seeded")} SELECT band, bkey FROM banded"
      "WITH RECURSIVE verified AS (\n" +
        minhashPairsSqlFrom("seeded", seeded) + "\n),\n" +
      s"""cb AS (
         |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |         CAST(MAX(bn) AS BIGINT) AS max_bucket,
         |         CAST(SUM(CASE WHEN bn > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
         |  FROM (SELECT band, bkey, COUNT(*) AS bn
         |        FROM (%BANDED%) GROUP BY band, bkey)
         |  GROUP BY band),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM verified
         |  UNION ALL SELECT id_b, id_a FROM verified),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, lab) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
         |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
         |          FROM cl GROUP BY cluster_id),
         |summ AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM verified) AS n_pairs,
         |                CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |                MAX(sz) AS max_cluster FROM sizes),
         |hub AS (SELECT sz AS min_label_cluster_size FROM sizes
         |        WHERE cluster_id = (SELECT MIN(cluster_id) FROM sizes))
         |SELECT cb.band, cb.n_buckets, cb.max_bucket, cb.n_hot,
         |       s.n_pairs, s.n_clusters, s.max_cluster, h.min_label_cluster_size
         |FROM cb CROSS JOIN summ s CROSS JOIN hub h
         |ORDER BY band""".stripMargin
        // substituted AFTER stripMargin: the banded CTE contains `||`
        // concat continuation lines a second stripMargin pass would
        // truncate into bitwise-or (the q171 pattern)
        .replace("%BANDED%", bandedSelect)
    })
}
