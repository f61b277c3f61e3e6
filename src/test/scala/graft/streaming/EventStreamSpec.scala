package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.AtRestStore

class EventStreamSpec extends SparkSpec {
  import spark.implicits._
  import EventStream._

  private def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    Event(id, Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"), user, typ, v)

  private val fixture = Seq(
    ev(0, 5, 1, "click", 1.0), ev(1, 20, 2, "click", 2.0), ev(2, 59, 1, "error", 3.0),
    ev(3, 65, 1, "click", 4.0), ev(4, 90, 2, "click", 5.0))

  test("streaming tumbling counts equal the batch twin (one definition, two runners)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(fixture)
    val q = runToMemory(stream.toDF(), "evt_counts")
    try {
      q.processAllAvailable()
      val streamed = spark.table("evt_counts")
        .orderBy("window_start", "event_type")
        .select("window_start", "event_type", "n", "sum_value")
        .collect().toSeq
      val batch = tumblingCounts(fixture.toDF())
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamed == batch)
      // hand-check: hour 0 has 2 clicks + 1 error; hour 1 has 2 clicks
      assert(batch.map(r => (r.getString(1), r.getLong(2))) ==
        Seq(("click", 2L), ("error", 1L), ("click", 2L)))
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user totals across triggers") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = userTotals(stream.toDS()).writeStream
      .format("memory").queryName("user_totals").outputMode("update").start()
    try {
      stream.addData(fixture.take(3))
      q.processAllAvailable()
      stream.addData(fixture.drop(3)) // second trigger updates state
      q.processAllAvailable()
      val rows = spark.table("user_totals")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("t"))
        .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
      assert(rows == Seq((1L, 3L, 8.0), (2L, 2L, 7.0)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits threshold alerts exactly once (append)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = thresholdAlerts(stream.toDS(), threshold = 6.0).writeStream
      .format("memory").queryName("alerts").outputMode("append").start()
    try {
      stream.addData(fixture.take(2)) // user1: 1.0, user2: 2.0 — below
      q.processAllAvailable()
      assert(spark.table("alerts").count() == 0)
      stream.addData(fixture.drop(2)) // user1 → 8.0 crosses, user2 → 7.0 crosses
      q.processAllAvailable()
      val alerts = spark.table("alerts")
        .orderBy("user_id").as[SessionSummary].collect().toSeq
      assert(alerts.map(a => (a.user_id, a.total_value)) == Seq((1L, 8.0), (2L, 7.0)))
    } finally q.stop()
  }

  test("append mode + watermark finalizes closed windows only") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = tumblingCounts(stream.toDF(), every = "1 hour", watermark = "2 hours")
      .writeStream.format("memory").queryName("wm_counts").outputMode("append").start()
    try {
      stream.addData(fixture) // hours 0 and 1
      q.processAllAvailable()
      assert(spark.table("wm_counts").count() == 0) // nothing closed yet
      // an event far in the future advances the watermark past hour 1
      stream.addData(ev(99, 10 * 60, 9, "click", 0.5))
      q.processAllAvailable()
      val closed = spark.table("wm_counts").orderBy("window_start", "event_type")
        .select("event_type", "n").as[(String, Long)].collect().toSeq
      assert(closed == Seq(("click", 2L), ("error", 1L), ("click", 2L)))
    } finally q.stop()
  }

  test("transformWithState (v2 state API) agrees with mapGroupsWithState totals") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[Event]
    val q = userTotalsTws(stream.toDS()).writeStream
      .format("memory").queryName("tws_totals").outputMode("update").start()
    try {
      stream.addData(fixture.take(3))
      q.processAllAvailable()
      stream.addData(fixture.drop(3)) // state must survive the trigger boundary
      q.processAllAvailable()
      val rows = spark.table("tws_totals")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("t"))
        .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
      // identical to the mapGroupsWithState run in the test above
      assert(rows == Seq((1L, 3L, 8.0), (2L, 2L, 7.0)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("session windows: streaming sessions equal the batch twin; gap splits") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // user 1: events at :05 and :20 (one session), then :59+:65 — the
    // 39-min gap splits; :59→:65 merges again (6 min < 30)
    val stream = MemoryStream[Event]
    stream.addData(fixture)
    val q = sessionAgg(stream.toDF().select("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess")
        .orderBy("user_id", "session_start")
        .select("user_id", "session_start", "n", "sum_value").collect().toSeq
      val batch = sessionAgg(fixture.toDF().select("user_id", "ts", "value"))
        .orderBy("user_id", "session_start")
        .select("user_id", "session_start", "n", "sum_value").collect().toSeq
      assert(streamed == batch)
      assert(batch.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))) ==
        Seq((1L, 1L, 1.0), (1L, 2L, 7.0), (2L, 1L, 2.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("watermarked file-source stream plan builds (readStream surface)") {
    val src = readEventStream(spark, "/root/testdata/sf0.001")
    assert(src.isStreaming)
    val agg = tumblingCounts(src)
    assert(agg.schema.fieldNames.toSeq ==
      Seq("window_start", "event_type", "n", "sum_value"))
  }
  test("streaming exact dedup drops cross-batch duplicates within the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    final case class Doc(doc_id: Long, ts: Timestamp, text: String)
    val stream = MemoryStream[(Long, Timestamp, String)]
    val docs = stream.toDF().toDF("doc_id", "ts", "text")
    val q = EventStream.streamingDedup(docs, "text", "ts", watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:05:00")
      val t1 = Timestamp.valueOf("2024-01-01 00:10:00")
      stream.addData((1L, t0, "alpha"), (2L, t0, "beta"), (3L, t0, "alpha"))
      q.processAllAvailable()
      // duplicate arriving in a LATER micro-batch is still dropped
      stream.addData((4L, t1, "beta"), (5L, t1, "gamma"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("text").as[String].collect().sorted
      assert(out.toSeq == Seq("alpha", "beta", "gamma"))
    } finally q.stop()

    // batch twin: same contract without state
    val batch = EventStream.streamingDedup(
      Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
        .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:00"))),
      "text", "ts")
    assert(batch.count() == 2)
  }

  test("streaming LSH candidates equal the batch twin; state survives micro-batch seams") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = (m: Int) => Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // 1 and 3 are exact dups (every band collides); 2 is unrelated;
    // 5 arrives a LATER micro-batch and still collides with 1's buckets
    val fix = Seq(
      (1L, t(1), "the quick brown fox jumps over the lazy dog again and again"),
      (2L, t(2), "completely different words about spark shuffles and joins here"),
      (3L, t(3), "the quick brown fox jumps over the lazy dog again and again"))
    val late = Seq(
      (5L, t(10), "the quick brown fox jumps over the lazy dog again and again"))
    val stream = MemoryStream[(Long, Timestamp, String)]
    val q = EventStream.streamingLshCandidates(
        stream.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts")
      .writeStream.format("memory").queryName("lsh_cand")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      stream.addData(fix); q.processAllAvailable()
      stream.addData(late); q.processAllAvailable()
      val streamed = spark.table("lsh_cand")
        .select("doc_id", "first_id", "band", "bkey")
        .orderBy("doc_id", "band").collect().toSeq
      val batch = EventStream.streamingLshCandidates(
          (fix ++ late).toDF("doc_id", "ts", "text"), "doc_id", "text", "ts")
        .orderBy("doc_id", "band").collect().toSeq
      assert(streamed == batch)
      // exact dups collide in all 4 bands, each pairing back to doc 1
      val byDoc = streamed.groupBy(_.getAs[Long]("doc_id"))
      assert(byDoc(3L).size == 4 && byDoc(3L).forall(_.getAs[Long]("first_id") == 1L))
      assert(byDoc(5L).size == 4 && byDoc(5L).forall(_.getAs[Long]("first_id") == 1L))
      assert(!byDoc.contains(2L)) // the unrelated doc never collides
    } finally q.stop()
  }

  test("dedupBeforeIngest: streaming sink flags match the batch twin; quarantine appends everything") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val boiler = "subscribe to our newsletter for updates terms of " +
      "service privacy policy all rights reserved contact support now"
    val normalA = "the quick brown fox jumps over the lazy dog again and again"
    val normalB = "completely different words about raster pyramids and tile overviews"
    val normalC = "unrelated musing on catalyst plans and broadcast joins at scale"
    // batch 0 seeds the index; batches 1-3 stream in order. Doc 11
    // dups the seed, 21 dups a streamed-and-quarantined doc (12), 22
    // and 23 dup INSIDE one batch (same-batch blindness: unflagged),
    // 31 dups the quarantined 11's content chain via the seed.
    val seed = Seq((1L, normalA), (2L, normalB)).toDF("doc_id", "text")
    val batches = Seq(
      Seq((11L, normalA), (12L, normalC)),
      Seq((21L, normalC), (22L, boiler), (23L, boiler)),
      Seq((31L, normalA)))
    val dir = tempDir("stream_dedup_idx").toString
    val out = tempDir("stream_dedup_out").toString + "/flags"
    graft.llm.Dedup.lshIngestAtRest(seed, "doc_id", "text", dir)
    val stream = MemoryStream[(Long, String)]
    val q = EventStream.dedupBeforeIngestStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", dir, out)
    try {
      for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "dup_earlier")
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    // batch twin over the SAME corpus with batch ids (seed = batch 0)
    val all = (seed.collect().map(r => (r.getLong(0), r.getString(1), 0L)) ++
      batches.zipWithIndex.flatMap { case (b, i) =>
        b.map { case (id, tx) => (id, tx, i + 1L) } })
      .toSeq.toDF("doc_id", "text", "batch")
    val twin = EventStream.dedupBeforeIngestBatch(all, "doc_id", "text", "batch")
      .filter(col("batch") >= 1) // the seed never flows through the sink
      .select("doc_id", "dup_earlier")
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(streamed == twin, s"stream $streamed != twin $twin")
    assert(streamed == Seq((11L, 1), (12L, 0), (21L, 1), (22L, 0), (23L, 0), (31L, 1)),
      s"unexpected flags: $streamed")
    // quarantine: every streamed doc rests in the index (6 + 2 seed)
    assert(spark.read.parquet(AtRestStore.tablePath(spark, dir, "shingles")).count() == 8L)
  }

  test("stream-stream attribution join equals the batch twin; bounds inclusive") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val cFix = Seq(ev(100, 10, 1, "click", 0.0), ev(101, 30, 2, "click", 0.0))
    val vFix = Seq(ev(0, 0, 1, "view", 0.0), ev(1, 5, 1, "view", 0.0),
      ev(2, 12, 1, "view", 0.0),  // after the click — never attributed
      ev(3, 25, 2, "view", 0.0), ev(4, 19, 2, "view", 0.0)) // 19 is 11 min before — outside
    val q = EventStream.attributionJoin(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      clicks.addData(cFix)
      views.addData(vFix)
      q.processAllAvailable()
      val streamed = spark.table("attrib")
        .orderBy("click_id", "view_id").collect().toSeq
      val batch = EventStream.attributionJoin(cFix.toDF(), vFix.toDF())
        .orderBy("click_id", "view_id").collect().toSeq
      assert(streamed == batch)
      val pairs = batch.map(r => (r.getAs[Long]("click_id"),
        r.getAs[Long]("view_id"), r.getAs[Long]("gap_us")))
      // click@10 ← views @0 (gap exactly 10 min — inclusive edge) and @5;
      // click@30 ← view @25 only (the 11-min-old view is outside)
      assert(pairs == Seq((100L, 0L, 600000000L), (100L, 1L, 300000000L),
        (101L, 3L, 300000000L)))
    } finally q.stop()
  }

  test("cdcIngestStream: stream-built chunk store ≡ batch-built (ledger and store bit-equal)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (1 to 40).map(i => s"sentence number $i with some filler words").mkString(" ")
    val batches = Seq(
      Seq((1L, base), (2L, "tiny")),
      Seq((3L, base)), // content the store already holds
      Seq((4L, base + " plus a brand new unique tail here")))
    // stream-built store
    val sDir = tempDir("cdc_stream_store").toString
    graft.llm.Dedup.cdcInitAtRest(spark, sDir)
    val stream = MemoryStream[(Long, String)]
    val q = EventStream.cdcIngestStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", sDir)
    try {
      for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // batch-built twin through the same append face
    val bDir = tempDir("cdc_batch_store").toString
    graft.llm.Dedup.cdcInitAtRest(spark, bDir)
    for ((b, i) <- batches.zipWithIndex)
      graft.llm.Dedup.cdcAppendAtRest(b.toDF("doc_id", "text"),
        "doc_id", "text", bDir, batchId = i)
    def census(dir: String) =
      graft.llm.Dedup.cdcStoreCensus(spark, dir).orderBy("batch")
        .collect().map(_.toSeq).toSeq
    assert(census(sDir) == census(bDir), "stream ledger diverged from batch ledger")
    def store(dir: String) =
      spark.read.parquet(AtRestStore.tablePath(spark, dir, "chunks")).select("h", "len")
        .orderBy("h", "len").as[(Long, Int)].collect().toSeq
    assert(store(sDir) == store(bDir), "stream store contents diverged")
    // at-least-once replay: re-running a committed batch overwrites
    // its own partitions and changes NOTHING (ledger cannot
    // double-count, the store gains no rows)
    graft.llm.Dedup.cdcAppendAtRest(batches(1).toDF("doc_id", "text"),
      "doc_id", "text", bDir, batchId = 1)
    assert(census(bDir) == census(sDir), "replayed batch changed the ledger")
    assert(store(bDir) == store(sDir), "replayed batch changed the store")
  }

  test("dedupBeforeIngest replay: re-running a committed micro-batch changes nothing") {
    import spark.implicits._
    val normalA = "the quick brown fox jumps over the lazy dog again and again"
    val normalC = "unrelated musing on catalyst plans and broadcast joins at scale"
    val seed = Seq((1L, normalA), (2L, normalC)).toDF("doc_id", "text")
    val dir = tempDir("replay_dedup_idx").toString
    val out = tempDir("replay_dedup_out").toString + "/flags"
    graft.llm.Dedup.lshIngestAtRest(seed, "doc_id", "text", dir)
    val batch = Seq((11L, normalA), (12L, normalA), (13L, "something else entirely new"))
      .toDF("doc_id", "text")
    def state() = (
      spark.read.parquet(out).select("doc_id", "dup_earlier")
        .orderBy("doc_id").as[(Long, Int)].collect().toSeq,
      spark.read.parquet(AtRestStore.tablePath(spark, dir, "shingles")).count(),
      spark.read.parquet(AtRestStore.tablePath(spark, dir, "buckets")).count())
    EventStream.dedupIngestStep(batch, 0L, "doc_id", "text", dir, out)
    val first = state()
    // 11 and 12 dup the seed; their same-batch pairing stays unflagged
    assert(first._1 == Seq((11L, 1), (12L, 1), (13L, 0)), s"got ${first._1}")
    // the replay: rows already rest in the index — guards must hold
    // flags (no self-verify), shingles (no re-ingest), and output
    EventStream.dedupIngestStep(batch, 0L, "doc_id", "text", dir, out)
    assert(state() == first, s"replay drifted: ${state()} vs $first")
  }

  test("bm25IngestStream: stream-built index probes ≡ batch-built; replay changes nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = Seq(
      Seq((1L, "spark merge engine with spark joins"),
          (2L, "vector index layouts for retrieval")),
      Seq((3L, "merge rules and data movement"),
          (4L, "spark data pipelines index data")))
    val queries = Seq((1L, "spark"), (1L, "merge"), (2L, "data"))
      .toDF("qid", "term")
    def probe(dir: String) =
      graft.llm.Retrieval.bm25ProbeAtRest(spark, dir, queries, k = 5)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    // stream-built store
    val sDir = tempDir("bm25_stream_store").toString
    graft.llm.Retrieval.bm25InitAtRest(spark, sDir)
    val stream = MemoryStream[(Long, String)]
    val q = EventStream.bm25IngestStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", sDir)
    try {
      for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // batch-built twin: one-shot ingest of the union — additive
    // drift-free stats mean the ranking must be bit-equal
    val bDir = tempDir("bm25_batch_store").toString
    graft.llm.Retrieval.bm25IngestAtRest(batches.flatten.toDF("doc_id", "text"),
      "doc_id", "text", bDir)
    val fromStream = probe(sDir)
    assert(fromStream == probe(bDir), "stream-built ranking diverged from one-shot ingest")
    // at-least-once replay: re-running a committed micro-batch
    // overwrites exactly its own batch partitions — postings cannot
    // double-append, stats cannot double-count
    graft.llm.Retrieval.bm25AppendBatch(batches(1).toDF("doc_id", "text"),
      "doc_id", "text", sDir, batchId = 1L)
    assert(probe(sDir) == fromStream, "replayed micro-batch changed the ranking")
    val stats = spark.read.parquet(AtRestStore.tablePath(spark, sDir, "stats"))
      .agg(sum("n_docs")).head().getLong(0)
    assert(stats == 4L, s"stats double-counted after replay: $stats docs")
  }

  test("bm25IngestStream refuses a store that already holds batches; the store is untouched") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("bm25_stream_refuse").toString
    graft.llm.Retrieval.bm25IngestAtRest(Seq(
      (1L, "spark merge engine with spark joins"),
      (2L, "vector index layouts for retrieval")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val queries = Seq((1L, "spark"), (2L, "index")).toDF("qid", "term")
    def probe() = graft.llm.Retrieval.bm25ProbeAtRest(spark, dir, queries, k = 5)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val before = probe()
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((3L, "merge rules and data movement")))
    val e = intercept[IllegalStateException] {
      EventStream.bm25IngestStream(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", dir).stop()
    }
    assert(e.getMessage.contains("bm25InitAtRest"), e.getMessage)
    assert(before.nonEmpty && probe() == before)
  }

  test("ivfPqIngestStream: stream-built index answers ≡ batch-built; replay changes nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def vec(id: Long): Seq[Float] =
      (0 until 64).map(j => ((id * 31 + j * 7) % 17).toFloat / 17f)
    val batches = Seq(
      (0L to 19L).map(i => (i, vec(i))),  // micro-batch 0: trains
      (20L to 27L).map(i => (i, vec(i)))) // micro-batch 1: frozen append
    val sDir = tempDir("ivfpq_stream_store").toString
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.ivfPqIngestStream(
      stream.toDF().toDF("vec_id", "embedding"), sDir, coarseK = 4, m = 4, k = 4)
    try {
      for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // batch-built twin: same split through the batch lifecycle
    val bDir = tempDir("ivfpq_batch_store").toString
    graft.llm.Similarity.ivfPqIngest(batches(0).toDF("vec_id", "embedding"),
      bDir, coarseK = 4, m = 4, k = 4)
    graft.llm.Similarity.ivfPqAppend(batches(1).toDF("vec_id", "embedding"), bDir)
    val qs = Seq((0L, vec(0)), (25L, vec(25))).toDF("qid", "qvec")
    def probe(dir: String) =
      graft.llm.Similarity.ivfPqTopKAtRest(spark, dir, qs, topK = 3, nprobe = 2)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val fromStream = probe(sDir)
    assert(fromStream == probe(bDir),
      "stream-built IVF-PQ answers diverged from batch-built")
    // at-least-once replay: every id already rests in codes — the
    // anti-join dissolves the batch, nothing is double-encoded
    EventStream.ivfPqIngestStep(batches(1).toDF("vec_id", "embedding"),
      sDir, 4, 4, 4, "vec_id", "embedding")
    assert(probe(sDir) == fromStream, "replayed micro-batch changed the answers")
    val nCodes = spark.read.parquet(AtRestStore.tablePath(spark, sDir, "codes")).count()
    assert(nCodes == 28L * 4, s"codes table gained rows on replay: $nCodes")
  }

  test("winnowIngestStream: stream-built store probes ≡ batch-built; replay changes nothing") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val passage = "shared passage marker with plenty of identical characters " +
      "to produce winnowed fingerprints across this run of text"
    val batches = Seq(
      Seq((1L, passage + " first carrier document body"),
          (2L, "completely unrelated prose about catalyst plans and shuffles")),
      Seq((11L, passage + " second carrier with a different tail"),
          (12L, "another unrelated piece on parquet footers and page indexes")))
    val probeDocs = Seq(
      (21L, passage + " held out probe carrier"),
      (22L, "noise that shares no passage with anything above"))
    // stream-built store
    val sDir = tempDir("winnow_stream_store").toString
    val stream = MemoryStream[(Long, String)]
    val q = EventStream.winnowIngestStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", sDir)
    try {
      for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // batch-built twin
    val bDir = tempDir("winnow_batch_store").toString
    graft.llm.Dedup.winnowIngestAtRest(batches(0).toDF("doc_id", "text"),
      "doc_id", "text", bDir)
    graft.llm.Dedup.winnowAppendAtRest(batches(1).toDF("doc_id", "text"),
      "doc_id", "text", bDir)
    def probe(dir: String) =
      graft.llm.Dedup.winnowProbeAtRest(spark, dir,
          probeDocs.toDF("doc_id", "text"), "doc_id", "text")
        .orderBy("new_id", "base_id").collect().map(_.toSeq).toSeq
    val fromStream = probe(sDir)
    assert(fromStream == probe(bDir),
      "stream-built winnow matches diverged from batch-built")
    assert(fromStream.map(r => (r(0), r(1))).toSet == Set((21L, 1L), (21L, 11L)),
      s"probe should hit both carriers and nothing else: $fromStream")
    // at-least-once replay: ids already rest in fps — the anti-join
    // dissolves the batch, fingerprints are never duplicated
    val nFps = spark.read.parquet(AtRestStore.tablePath(spark, sDir, "fps")).count()
    EventStream.winnowIngestStep(batches(1).toDF("doc_id", "text"),
      "doc_id", "text", sDir)
    assert(probe(sDir) == fromStream, "replayed micro-batch changed the matches")
    assert(spark.read.parquet(AtRestStore.tablePath(spark, sDir, "fps")).count() == nFps,
      "fps table gained rows on replay")
  }

  test("feedStream: one micro-batch per condition, and no feed directory left behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def feeds(): Set[String] = tmp.list().filter(_.startsWith("graft_stream_feed")).toSet
    val before = feeds()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    var during = Set.empty[String]
    feedStream(spark.range(20).toDF("id"), "id LONG", Seq(col("id") < 12, col("id") >= 12)) {
      stream =>
        during = feeds() -- before
        stream.writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.add((id, b.as[Long].collect().sorted.toSeq)); ()
        }.start()
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq((0L, (0L until 12L).toSeq), (1L, (12L until 20L).toSeq)))
    assert(during.size == 1, s"expected one feed directory while streaming: $during")
    assert((feeds() -- before).isEmpty, s"feed directory left behind: ${feeds() -- before}")
  }
}
