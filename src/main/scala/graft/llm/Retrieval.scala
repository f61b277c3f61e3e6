package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Materialize
import graft.functions.GraftFunctions.md5Prefix60Col

/** Lexical (keyword) retrieval over a document corpus — the BM25-family
  * complement to the embedding-ANN operators in [[Similarity]]: a
  * training-data pipeline uses it for targeted corpus search,
  * benchmark-leak hunts, and quality probes where exact term match
  * beats cosine.
  *
  * Relational shape (the inverted index, as tables): token rows →
  * per-(doc, term) tf aggregation (shuffle keyed on doc), per-term
  * document frequencies for the query's terms only (tiny — broadcast),
  * score = per-doc sum of per-term contributions, window top-k. Work
  * is linear in corpus tokens; nothing all-pairs anywhere.
  *
  * Determinism across engines: the classic BM25 idf is `ln((N-df+0.5)/
  * (df+0.5))` — a transcendental whose last bits differ between libm
  * implementations. This variant keeps the SAME monotone ranking
  * inputs but rational: idf_odds = (N-df+0.5)/(df+0.5) (one IEEE
  * division — bit-portable), and sums per-term contributions in FIXED
  * POINT (floor(contrib·2²⁰) as BIGINT) so the cross-row addition
  * order cannot perturb low bits. The reported score is
  * score_fp / 2²⁰ — an exact power-of-two division.
  */
object Retrieval {

  /** Per-(doc, term) frequency table `(id, s, tf)` plus doc lengths
    * `(id, dl)` — the inverted-index build, reusable across queries
    * (persist/bucket by `s` at production scale).
    */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 1): DataFrame = {
    // ONE gram_counts kernel call per document (round 11): the
    // per-doc tf map is row-local, so the corpus-gram-volume
    // groupBy(id, s) exchange the shingle-row form paid becomes a
    // per-doc hash map inside the scan; exploding the map emits the
    // identical (id, s, tf) rows. The repartition only spreads
    // single-file local inputs.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val rows = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .select(col("id"),
        explode(call_function("gram_counts", col("text"), lit(n))).as("e"))
      .select(col("id"), col("e.s").as("s"), col("e.tf").as("tf"))
    if (n == 1) rows
    else rows.filter(size(split(col("s"), " ")) === n) // full grams only
  }

  /** Sparse TF-IDF cosine similarity join — the lexical near-duplicate
    * detector: weight every (doc, term) cell tf·idf, meet documents
    * through the inverted index (an equi-join on the term key — only
    * docs SHARING a term ever pair), and keep pairs whose cosine
    * clears `threshold`.
    *
    * Terms are word `n`-grams: with n ≥ 2 the term space is large and
    * document frequencies small, so the self-join is genuinely sparse;
    * `maxDf` drops hub terms (stop-gram removal) BEFORE weighting —
    * the knob that bounds per-term pair fan-out to maxDf², exactly the
    * q75 blocked-join posture (and the join is hinted shuffle_hash so
    * the corpus-sized weight table is never broadcast).
    *
    * Determinism: idf collapses to fixed point per term
    * (floor(ln(N/df)·2¹⁶) — the q98 precedent: one transcendental,
    * identical formula text in both engines), so weights, dots, and
    * norms are exact BIGINT sums in any order; the final cosine is
    * dot/(√n2a·√n2b) — three IEEE ops from exact integers. The 2¹⁶
    * scale keeps Σ(w²) under 2⁶³ for web-corpus N and kilotoken docs;
    * at larger scale drop the fixed point a few bits or sum DECIMAL.
    */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, maxDf: Int = 50,
                       threshold: Double = 0.5): DataFrame = {
    // tf feeds three consumers (df counts, doc count, weighting) and
    // w three more (norms + both join sides); column pruning makes
    // every consumer subplan differ, so without materialization the
    // shingle pipeline recomputes per branch (measured: 24 parquet
    // scans, 2.8 s at sf0.1 → 2 scans). localCheckpoint for the same
    // reasons as the LSH signatureAgg (ContextCleaner-reclaimed,
    // eager); at cluster scale these two frames are exactly what a
    // production pipeline persists as its standing inverted index.
    val tf = termFrequencies(docs, idCol, textCol, n).localCheckpoint()
    val nd = tf.agg(count_distinct(col("id")).as("n_docs"))
    val dfs = tf.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val w = tf.join(dfs, "s").crossJoin(broadcast(nd))
      .select(col("id"), col("s"),
        (col("tf") * floor(log(col("n_docs").cast("double") / col("df"))
          * lit(65536.0)).cast("long")).as("w_fp"))
      // (a repartition-by-s pin before this checkpoint was tried —
      // the blocks come back UnknownPartitioning, so the self-join
      // reshuffles anyway and the pin is pure extra exchange)
      .localCheckpoint()
    // |docs|-row frame consumed by TWO broadcast branches (id_a and
    // id_b); materialized so the weight scan + aggregation run once
    val norms = w.groupBy("id").agg(sum(col("w_fp") * col("w_fp")).as("n2"))
      .localCheckpoint()
    // Round-19 A/B (measured, REJECTED): grouping w by s once
    // (collect_list postings, df ≤ maxDf bounded) and emitting the
    // i<j pair products row-locally removes one of the self-join's two
    // s-exchanges and the hash-table build — but paired ABBA timed it
    // ~30% SLOWER (2.62-2.66 vs 1.88-2.21 s at sf0.1): the
    // ObjectHashAggregate collect_list (no codegen) plus the n² struct
    // allocation per term cost more than the extra exchange of this
    // narrow 3-column frame. The codegen'd shuffled-hash self-join
    // stays.
    val dots = w.as("a")
      .join(w.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.w_fp") * col("b.w_fp")).as("dot_fp"))
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("n2a")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("n2b")), "id_b")
      .withColumn("cosine", col("dot_fp").cast("double") /
        (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** BM25-style top-k — queries as DATA (`qid`, `term` rows): score
    * every doc containing at least one of a query's terms and keep its
    * k best (score desc, id asc — a total order). A retrieval pipeline
    * issues probes by the thousand, and the plan must not grow a
    * branch per query; a single query is a one-qid batch. One corpus
    * tf pass; the deduplicated query-term table ([[localQueryTerms]])
    * rides a broadcast hash join to it (only matching term rows survive
    * the probe), document frequency is computed once per DISTINCT term
    * (query-independent, the terms a literal filter) and rejoined, and
    * each query's candidates rank inside a window keyed on the query
    * id — parallelism scales with the batch. `k1`/`b` are the standard
    * BM25 knobs; both appear in the score as plain literal arithmetic,
    * and per-term contributions are floored to 2²⁰ fixed point and
    * summed as integers, so any engine replays the ranking
    * bit-for-bit.
    */
  def bm25TopKBatch(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the tf table feeds THREE consumers (doc lengths, query-term dfs,
    // the scoring join), so the plan scans the corpus once per branch.
    // Deliberately NOT cached: materializing the exploded token rows
    // was MEASURED SLOWER than re-running the codegen'd tokenize from
    // the compressed scan (0.83 s → 0.97 s, same host, sf0.1) —
    // recompute beats memory bandwidth here. At production scale the
    // equivalent decision is persisting tf as the standing bucketed
    // inverted index ACROSS queries, not caching it inside one.
    val tf = termFrequencies(docs, idCol, textCol)
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val g = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_tokens"))
    val qterms = localQueryTerms(queries)
    val terms = qterms.collect().map(_.getString(1)).distinct.toSeq
    val dft = tf.filter(col("s").isin(terms: _*))
      .groupBy("s").agg(count(lit(1)).as("df"))
    val denom = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    val contrib = col("idf") * (col("tf") * (lit(k1) + lit(1.0))) / denom
    val w = Window.partitionBy("qid").orderBy(col("score_fp").desc, col("id"))
    tf.join(broadcast(qterms), "s")
      .join(dl, "id")
      .join(broadcast(dft), "s")
      .crossJoin(broadcast(g))
      .withColumn("avgdl", col("tot_tokens").cast("double") / col("n_docs"))
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("fp", floor(contrib * lit(1048576.0)).cast("long"))
      .groupBy("qid", "id")
      .agg(sum("fp").as("score_fp"), count(lit(1)).as("n_terms_hit"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"),
        (col("score_fp").cast("double") / lit(1048576.0)).as("score"),
        col("n_terms_hit"), col("rank"))
  }

  /** A BM25 query batch's distinct (qid, s) rows as a local table. The
    * batch is request-sized and broadcast to the scan anyway, so it is
    * collected once: the query side then runs no shuffle stage (a
    * distributed distinct would cost two jobs per call).
    */
  private def localQueryTerms(queries: DataFrame): DataFrame = {
    val q = queries.select(col("qid"), col("term").as("s"))
    queries.sparkSession.createDataFrame(q.collect().distinct.toSeq.asJava, q.schema)
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval merge
    * (Cormack et al., SIGIR'09): each candidate list contributes
    * `1 / (k0 + rank)` per (query, doc), summed across lists; k0=60
    * is the near-universal default. Scores here are the exact
    * integer `⌊2²⁰ / (k0 + rank)⌋` — ranks are small integers, so
    * fusion needs no float arithmetic at all and any engine replays
    * the fused ORDER bit-for-bit (the reason RRF beats score-mixing
    * operationally: it never has to calibrate a BM25 score against a
    * cosine).
    *
    * Inputs are two ranked lists `(qid, id, rank)` (extra columns
    * ignored) — e.g. [[bm25TopKBatch]] and `Similarity.bruteTopKBatch`
    * / `ivfTopKBatch` output. Scale shape: a union of two
    * already-k-bounded frames (≤ 2k rows per query), one hash
    * aggregation on (qid, id), one window keyed on the query —
    * nothing here ever touches the corpus.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, k0: Int = 60): DataFrame = {
    require(k > 0 && k0 >= 0, s"need k > 0, k0 >= 0; got k=$k k0=$k0")
    val u = a.select(col("qid"), col("id"), col("rank"))
      .unionByName(b.select(col("qid"), col("id"), col("rank")))
    val w = Window.partitionBy("qid").orderBy(col("rrf_fp").desc, col("id"))
    u.withColumn("fp", expr(s"1048576L div (cast(rank as bigint) + ${k0}L)"))
      .groupBy("qid", "id")
      .agg(sum("fp").as("rrf_fp"), count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("rrf_fp"), col("n_lists"), col("rank"))
  }

  // ==================== at-rest BM25 postings index ====================
  //
  // The lexical third of the at-rest index triangle (near-dup LSH:
  // Dedup.lshIngestAtRest; ANN: Similarity.ivfPqIngest): the inverted
  // index persisted as term-bucketed parquet, maintained incrementally.
  // Unlike the other two, lexical statistics are ADDITIVE — document
  // frequency is recomputed exactly from the rows a probe matches, and
  // the global (n_docs, total tokens) denominators are per-batch delta
  // rows summed at probe time — so append and tombstone-delete are
  // DRIFT-FREE: a probe through any maintenance history is bit-equal
  // to a probe through a fresh one-shot ingest of the surviving corpus.
  // Compaction here is purely physical (purge tombstoned postings,
  // fold stats/doclens), never semantic.
  //
  // Layout under `dir` (column types as declared in [[bm25Schemas]];
  // partition columns pbucket INT, batch BIGINT):
  //   postings/pbucket=N/batch=B/  (s STRING, id BIGINT, tf BIGINT,
  //     dl BIGINT) — dl denormalized onto the posting row
  //     (impact-style) so scoring never joins the corpus-sized
  //     doc-length table
  //   doclens/batch=B/  (id BIGINT, dl BIGINT) — delete-time dl lookup
  //   stats/batch=B/    (n_docs BIGINT, tot_tokens BIGINT) — one delta
  //     row per batch
  //   tombstones/       (id BIGINT, dl BIGINT) — logical deletes, absent
  //     until the first delete (the AtRestStore takedown protocol)
  //   params/           (n_buckets INT)
  //
  // Document ids are stored as BIGINT whatever the caller's id type
  // (the writer casts), so every table keeps the declared layout.
  //
  // The `batch` partition dimension is physical provenance, never
  // semantics: no probe reads it (scores aggregate across batches),
  // but it is what makes the STREAMING ingest face replay-safe —
  // foreachBatch is at-least-once, and a re-run of micro-batch B
  // dynamic-partition-overwrites exactly its own batch=B partitions
  // in all three tables instead of double-appending postings and
  // double-counting the stats denominators (the CDC chunk-store
  // contract, [[graft.llm.Dedup.cdcAppendAtRest]]). Compaction folds
  // history to batch=0.
  //
  // Reference analogue: the reference persists its selector catalog as
  // planner metadata instead of re-deriving it per query
  // (gdalos_selector.py:11-65) and reuses at-rest overviews rather than
  // rebuilding (gdalos_trans.py:632-656) — pay layout once at ingest,
  // serve every probe from it.

  /** Declared schema of each store table, partition columns last. */
  private val bm25Schemas: Map[String, String] = Map(
    "postings" ->
      "s STRING, id BIGINT, tf BIGINT, dl BIGINT, pbucket INT, batch BIGINT",
    "doclens" -> "id BIGINT, dl BIGINT, batch BIGINT",
    "stats" -> "n_docs BIGINT, tot_tokens BIGINT, batch BIGINT",
    "tombstones" -> "id BIGINT, dl BIGINT",
    "params" -> "n_buckets INT")

  /** Read store table `t` as resolved by `snap`, on its declared schema:
    * inferring a parquet schema costs one Spark job per read. A missing
    * table still fails the read (path not found).
    */
  private def bm25Read(spark: org.apache.spark.sql.SparkSession,
                       snap: AtRestStore.Snapshot, t: String): DataFrame =
    spark.read.schema(bm25Schemas(t)).parquet(snap.path(t))

  private val bm25TombSchema = StructType.fromDDL(bm25Schemas("tombstones"))

  /** Column `i` of collected stats or tombstone rows, summed; skips
    * nulls as SQL sum does (an empty batch's delta row carries a null
    * tot_tokens).
    */
  private def total(rows: Array[Row], i: Int): Long =
    rows.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i)).sum

  /** Term→bucket route for the at-rest layout: first 15 hex chars of
    * md5 mod `nBuckets` — the [[Sampling.hashUniformCol]] integer core,
    * replayable on a probe's term list so bucket pruning needs no
    * stored vocabulary.
    */
  private def pbucketCol(s: Column, nBuckets: Int): Column =
    pmod(md5Prefix60Col(s), lit(nBuckets.toLong)).cast("int")

  /** Shared write body — ONE postings/doclens/stats encoder for the
    * ingest and append faces (the lshWriteAtRest pattern) so the two
    * can never drift bit-wise. Each call lands exactly one stats
    * delta row.
    */
  private def bm25WriteAtRest(docs: DataFrame, idCol: String,
                              textCol: String, dir: String, nBuckets: Int,
                              overwrite: Boolean, batchId: Long,
                              replaySafe: Boolean = false): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    // replaySafe (the streaming face): overwrite ONLY the partitions
    // this batch's data lands in — a foreachBatch re-run converges to
    // the same bytes instead of double-appending
    val mode = if (overwrite || replaySafe) "overwrite" else "append"
    def tp(t: String): String =
      AtRestStore.tablePath(docs.sparkSession, dir, t)
    def out(df: DataFrame, parts: Seq[String], path: String): Unit = {
      val w0 = df.write.mode(mode).partitionBy(parts: _*)
      val w = if (replaySafe && !overwrite)
        w0.option("partitionOverwriteMode", "dynamic") else w0
      w.parquet(path)
    }
    // tf feeds two consumers (dl, postings) — materialize once; the
    // frame is ingest-batch-sized and released once the writes are done
    val tf = termFrequencies(docs.withColumn(idCol, col(idCol).cast("bigint")),
      idCol, textCol).localCheckpoint()
    AtRestStore.fence(docs.sparkSession, dir) // review r18 pre-write fence
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    out(tf.join(dl, "id")
      .withColumn("pbucket", pbucketCol(col("s"), nBuckets))
      .select("pbucket", "s", "id", "tf", "dl")
      .withColumn("batch", lit(batchId)),
      Seq("pbucket", "batch"), tp("postings"))
    out(dl.withColumn("batch", lit(batchId)), Seq("batch"), tp("doclens"))
    out(dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_tokens"))
      .withColumn("batch", lit(batchId)), Seq("batch"), tp("stats"))
    Materialize.release(tf)
  }

  /** Build the at-rest index from scratch (overwrite). `nBuckets`
    * bounds probe I/O: a probe's terms hash to ≤ |terms| buckets, so
    * the postings scan prunes to that fraction of the index at
    * planning time. Size it so one bucket ≈ a few HDFS blocks at the
    * target corpus (default 16 suits the test fixtures; a 100 TB
    * corpus wants thousands).
    */
  def bm25IngestAtRest(docs: DataFrame, idCol: String, textCol: String,
                       dir: String, nBuckets: Int = 16): Unit =
    AtRestStore.withLease(docs.sparkSession, dir, "bm25Ingest") {
    bm25WriteAtRest(docs, idCol, textCol, dir, nBuckets,
      overwrite = true, batchId = 0L)
    bm25WriteParams(docs.sparkSession, dir, nBuckets)
  }

  /** Initialize an EMPTY store — params only, no corpus pass. The
    * seed face for [[graft.streaming.EventStream
    * .bm25IngestStream]] (the [[graft.llm.Dedup.cdcInitAtRest]]
    * pattern): documents then arrive exclusively as micro-batches,
    * whose Spark-assigned ids (0, 1, …) become the store's batch
    * partitions with nothing to collide with. Probing before the
    * first batch commits fails loud on the missing postings table —
    * an init'd store is a contract to ingest, not an empty corpus.
    */
  def bm25InitAtRest(spark: org.apache.spark.sql.SparkSession,
                     dir: String, nBuckets: Int = 16): Unit =
    AtRestStore.withLease(spark, dir, "bm25Init") {
    for (t <- Seq("postings", "doclens", "stats"))
      AtRestStore.dropTable(spark, dir, t)
    bm25WriteParams(spark, dir, nBuckets)
  }

  private def bm25WriteParams(spark: org.apache.spark.sql.SparkSession,
                              dir: String, nBuckets: Int): Unit = {
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite")
      .parquet(AtRestStore.tablePath(spark, dir, "params"))
    AtRestStore.tombstoneClear(spark, dir) // a re-ingest voids old takedowns
  }

  /** The store's bucket count, read from its params table (one job).
    * Writers and probes adopt it instead of taking one: terms routed
    * under a different count would land in, or be looked up in, the
    * wrong partitions (silent recall loss). Throws when the store has
    * no params table.
    */
  private def bm25Buckets(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Int =
    bm25Read(spark, AtRestStore.snapshot(spark, dir), "params")
      .head().getAs[Int]("n_buckets")

  /** Whether any batch has landed in the store: its stats table holds
    * a row (each ingest, append and micro-batch writes one).
    */
  private[graft] def bm25HasBatches(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Boolean = {
    val snap = AtRestStore.snapshot(spark, dir)
    snap.exists("stats") && !bm25Read(spark, snap, "stats").isEmpty
  }

  /** APPEND a document batch — signed once, bucketed under the STORED
    * bucket count, dynamic-partition-appended (only touched buckets
    * gain files) plus one stats delta row. Drift-free by construction
    * (see the family doc above). Caller contract: appended ids must be
    * fresh — a re-appended id double-counts its tf rows in every score.
    */
  def bm25AppendAtRest(newDocs: DataFrame, idCol: String, textCol: String,
                       dir: String): Unit =
    AtRestStore.withLease(newDocs.sparkSession, dir, "bm25Append") {
    val spark = newDocs.sparkSession
    val nB = bm25Buckets(spark, dir)
    // next ledger slot: one read of the batch-count-sized stats table
    val nextBatch = bm25Read(spark, AtRestStore.snapshot(spark, dir), "stats")
      .agg(coalesce(max(col("batch")), lit(-1L)))
      .head().getLong(0) + 1L
    bm25WriteAtRest(newDocs, idCol, textCol, dir, nB,
      overwrite = false, batchId = nextBatch)
  }

  /** Replay-safe APPEND of one STREAMING micro-batch: same encoder as
    * [[bm25AppendAtRest]], but the batch id is the caller's (Spark's
    * micro-batch sequence) and all three tables are written with
    * dynamic partition overwrite — re-running a committed (batchId,
    * data) pair replaces exactly its own partitions with identical
    * bytes, so foreachBatch's at-least-once becomes exactly-once at
    * rest. Package-visible so the replay guard is directly testable.
    */
  private[graft] def bm25AppendBatch(newDocs: DataFrame, idCol: String,
                                     textCol: String, dir: String,
                                     batchId: Long): Unit =
    AtRestStore.withLease(newDocs.sparkSession, dir, "bm25AppendBatch") {
    val nB = bm25Buckets(newDocs.sparkSession, dir)
    bm25WriteAtRest(newDocs, idCol, textCol, dir, nB,
      overwrite = false, batchId = batchId, replaySafe = true)
  }

  /** Logical DELETE — the takedown path (copyright removal,
    * post-hoc contamination): ids join the slim doclens table for
    * their lengths and append to the tombstone set
    * ([[AtRestStore.tombstoneAppend]]: a re-deleted id cannot
    * double-subtract from the denominators); nothing corpus-sized is
    * rewritten. Probes mask tombstoned postings and subtract
    * tombstoned (docs, tokens) from the global denominators, so BM25
    * idf and avgdl reflect the post-delete corpus EXACTLY.
    */
  def bm25DeleteAtRest(ids: DataFrame, idCol: String, dir: String): Unit =
    AtRestStore.withLease(ids.sparkSession, dir, "bm25Delete") {
    val spark = ids.sparkSession
    val snap = AtRestStore.snapshot(spark, dir)
    AtRestStore.tombstoneAppend(
      bm25Read(spark, snap, "doclens")
        .join(ids.select(col(idCol).cast("long").as("id")), "id")
        .select("id", "dl"),
      dir, gateTable = "doclens")
  }

  /** Physical COMPACTION — purge tombstoned rows from postings and
    * doclens (one pruned pass each, bucket partitioning preserved),
    * fold the stats deltas into a single row net of tombstones, and
    * truncate the tombstone set. Pure layout maintenance: a probe
    * before and after compaction is bit-identical (q218 gates this).
    * Staged through versioned sibling dirs and published by ONE
    * atomic manifest flip ([[AtRestStore.swapMany]]): no step
    * destroys data before its replacement is in place, a crash at
    * any point leaves a complete coherent copy of the store
    * resolvable, and — the part four sequential per-table swaps
    * could not give — a CONCURRENT probe sees all four tables
    * pre-flip or all four post-flip, never a mix (a probe straddling
    * a stats-only flip would subtract the tombstones from the
    * already-net stats twice; the round-17 concurrency spec pins
    * this).
    */
  def bm25CompactAtRest(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit =
    AtRestStore.withLease(spark, dir, "bm25Compact") {
    bm25Buckets(spark, dir) // loud missing-index failure
    val snap = AtRestStore.snapshot(spark, dir)
    val tomb = snap.tombstones(bm25TombSchema)
    // the probe's arithmetic: the set's totals enter as literals
    val (tDocs, tTok) = (tomb.rows.length.toLong, total(tomb.rows, 1))
    // history folds to batch=0 — the batch dimension is ingest
    // provenance, and compaction is the provenance horizon. The
    // tombstone truncation rides the SAME flip as the net stats fold
    // (they are two views of one fact and must change together).
    AtRestStore.purgeFlip(spark, dir, tomb, Seq(
      "postings" -> ((out: String) =>
        tomb.mask(bm25Read(spark, snap, "postings"))
          .select("pbucket", "s", "id", "tf", "dl")
          .withColumn("batch", lit(0L))
          .write.mode("overwrite").partitionBy("pbucket", "batch").parquet(out)),
      "doclens" -> ((out: String) =>
        tomb.mask(bm25Read(spark, snap, "doclens"))
          .select("id", "dl")
          .withColumn("batch", lit(0L))
          .write.mode("overwrite").partitionBy("batch").parquet(out)),
      "stats" -> ((out: String) =>
        bm25Read(spark, snap, "stats")
          .agg((sum("n_docs") - lit(tDocs)).as("n_docs"),
            (sum("tot_tokens") - lit(tTok)).as("tot_tokens"))
          .withColumn("batch", lit(0L))
          .write.mode("overwrite").partitionBy("batch").parquet(out))))
  }

  /** Probe the at-rest index with a query BATCH (`qid`, `term` rows) —
    * identical ranking arithmetic to [[bm25TopKBatch]] (rational idf,
    * floor-2²⁰ fixed-point contribution sums), but the corpus is never
    * tokenized: the probe reads the persisted postings of the batch's
    * terms only, so I/O prunes to the buckets those terms hash into
    * (the probed fraction shrinks as nBuckets grows), document
    * frequency is counted exactly from the matched rows, and the
    * global denominators are the stats deltas minus the tombstones.
    * Probe cost scales with the BATCH's term postings, not the corpus.
    *
    * Collected to the driver, each once and each bounded by contract:
    *  - params: one row, the bucket count;
    *  - stats: one delta row per batch, folded to one by compaction;
    *    their sums net of the tombstones enter the plan as the
    *    literals n_docs and tot_tokens;
    *  - tombstones: one read serves both the denominators and the
    *    mask, so the two cannot disagree (the takedown protocol of
    *    [[AtRestStore]]);
    *  - the query batch, deduplicated: it is broadcast to the scan
    *    anyway, and its terms and buckets become literal filters.
    * The postings scan, the df aggregate, the (qid, id) aggregation and
    * the rank window stay distributed: nothing whose size grows with
    * the corpus reaches the driver.
    *
    * Spark jobs per call: 10 on a store that holds tombstones, 9 on one
    * whose tombstone table is empty (as after compaction), 8 on one
    * without it — the params, tombstones and stats reads, then the
    * plan's own: the tombstone and batch broadcasts, the df
    * aggregate's shuffle and broadcast, the (qid, id) aggregate's and
    * the rank window's shuffles, the result.
    */
  def bm25ProbeAtRest(spark: org.apache.spark.sql.SparkSession, dir: String,
                      queries: DataFrame, k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val nB = bm25Buckets(spark, dir)
    // ONE snapshot for the three tables: the mask set, the stats
    // deltas, and the postings must belong to the same store
    // generation or a concurrent compaction flip could be
    // double-counted (see bm25CompactAtRest)
    val snap = AtRestStore.snapshot(spark, dir)
    val tomb = snap.tombstones(bm25TombSchema)
    val stats = bm25Read(spark, snap, "stats").select("n_docs", "tot_tokens")
      .collect()
    val nDocs = total(stats, 0) - tomb.rows.length
    val totTokens = total(stats, 1) - total(tomb.rows, 1)
    val qt = localQueryTerms(queries)
    // STATIC partition pruning: the batch's terms and their bucket set
    // are pushed as LITERAL filters — planning-time pruning, visible as
    // `pbucket IN (…)` in PartitionFilters (a term's postings all sit
    // in its own bucket, so the term filter alone decides the match)
    val routed = qt.select(col("s"), pbucketCol(col("s"), nB)).collect()
    val terms = routed.map(_.getString(0)).distinct
    val buckets = routed.map(_.getInt(1)).distinct.sorted
    // one postings row per matched (term, doc) — distinct terms only,
    // so df below is a plain count; the qid fan-out joins afterwards
    val scan = bm25Read(spark, snap, "postings")
      .filter(col("pbucket").isin(buckets.map(Int.box): _*) &&
        col("s").isin(terms: _*))
    val post = tomb.mask(scan)
    val dft = post.groupBy("s").agg(count(lit(1)).as("df"))
    val denom = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    val contrib = col("idf") * (col("tf") * (lit(k1) + lit(1.0))) / denom
    val w = Window.partitionBy("qid").orderBy(col("score_fp").desc, col("id"))
    post
      .join(broadcast(qt), "s")
      .join(broadcast(dft), "s")
      .withColumn("avgdl", lit(totTokens).cast("double") / lit(nDocs))
      .withColumn("idf",
        (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("fp", floor(contrib * lit(1048576.0)).cast("long"))
      .groupBy("qid", "id")
      .agg(sum("fp").as("score_fp"), count(lit(1)).as("n_terms_hit"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"),
        (col("score_fp").cast("double") / lit(1048576.0)).as("score"),
        col("n_terms_hit"), col("rank"))
  }
}
