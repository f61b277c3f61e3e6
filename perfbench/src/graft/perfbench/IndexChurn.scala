package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Retrieval
import graft.streaming.EventStream

/** Writes beside reads on the at-rest BM25 store. Set-up builds the
  * store through the streaming face; each iteration lands a drop of new
  * docs that the running stream commits, tombstones some docs, compacts
  * the store, then probes it with single queries, one at a time.
  *
  * The store is initialised empty and filled by the stream's first
  * micro-batch: the stream names its at-rest batches by micro-batch id,
  * starting at 0, which is the batch id a one-shot `bm25IngestAtRest`
  * writes, so the two cannot share a store.
  *
  * `bm25IngestStream` starts its query with the default trigger and
  * takes none, so the stream polls the feed between updates too, through
  * the timed dedup loops and probes. `streaming.poll_cpu_s` is the CPU
  * time its thread spends outside the update.
  */
final class IndexChurn(run: Run) extends Workload {
  import run.spark
  import spark.implicits._

  private val nDocs = if (run.small) 300 else 600
  private val addDocs = if (run.small) 20 else 50
  private val delDocs = if (run.small) 10 else 25
  private val nProbes = if (run.small) 1 else 4
  private val K = 10

  private var vocab: Gen.Vocab = _
  private var dir: File = _
  private var bm25Dir, feed: String = _
  private var stream: StreamingQuery = _
  private val liveDocs = mutable.LinkedHashMap[Long, String]()
  private val deleted = mutable.Set[Long]()
  private var drops = 0

  def setup(d: File): Unit = {
    dir = d
    vocab = new Gen.Vocab(run.seed, 3000)
    bm25Dir = new File(d, "bm25").getPath
    feed = new File(d, "doc_feed").getPath
    val r = Gen.rng(run.seed, 20)
    (0L until nDocs).foreach(id => liveDocs(id) = vocab.doc(r, 20, 60))
    Retrieval.bm25InitAtRest(spark, bm25Dir)
    publish(stage(liveDocs.toSeq.toDF("doc_id", "text")))
    stream = EventStream.bm25IngestStream(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(feed),
      "doc_id", "text", bm25Dir)
    stream.processAllAvailable()
  }

  /** Writes one parquet file outside the feed; [[publish]] then renames
    * it in, so the stream never sees a partial write.
    */
  private def stage(df: DataFrame): File = {
    val staging = new File(dir, s"staging$drops"); drops += 1
    df.coalesce(1).write.parquet(staging.getPath)
    staging.listFiles().filter(_.getName.endsWith(".parquet")).head
  }

  private def publish(f: File): Unit = {
    new File(feed).mkdirs()
    require(f.renameTo(new File(feed, s"${f.getParentFile.getName}_${f.getName}")))
  }

  override def close(): Unit = if (stream != null) stream.stop()

  // this iteration's producer side, made by `prepare` outside the clock
  private var staged: File = _
  private var gone: Seq[Long] = Nil
  private var terms: Seq[Seq[String]] = Nil

  private def streamCpuNs(): Long = {
    val mx = ManagementFactory.getThreadMXBean
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("stream execution thread"))
      .map(t => math.max(0L, mx.getThreadCpuTime(t.getId))).sum
  }
  private var cpuAtPrepare = 0L

  override def prepare(i: Int): Unit = {
    cpuAtPrepare = streamCpuNs()
    val r = Gen.rng(run.seed, 2000 + i)
    val first = nDocs.toLong + i.toLong * addDocs
    val newDocs = (first until first + addDocs).map(id => id -> vocab.doc(r, 20, 60))
    staged = stage(newDocs.toDF("doc_id", "text"))
    liveDocs ++= newDocs
    gone = r.ints(0, liveDocs.size).distinct().limit(delDocs).toArray
      .map(liveDocs.keysIterator.drop(_).next()).toSeq
    // one frequent and one rare term, so probes cost alike across seeds
    terms = Seq.fill(nProbes)(Seq(vocab.words(5 + r.nextInt(25)), vocab.words(100 + r.nextInt(500))))
  }

  def iteration(i: Int): Unit = {
    val tr = run.tracer
    val cpuBefore = streamCpuNs()
    run.op("update") {
      // the drop lands in the feed; the running stream commits it
      tr.call("streaming", "bm25IngestStream") {
        publish(staged)
        stream.processAllAvailable()
      }
      tr.call("llm", "bm25DeleteAtRest")(
        Retrieval.bm25DeleteAtRest(gone.toDF("doc_id"), "doc_id", bm25Dir))
      tr.call("llm", "bm25CompactAtRest")(Retrieval.bm25CompactAtRest(spark, bm25Dir))
    }
    val cpuAfter = streamCpuNs()
    gone.foreach(liveDocs.remove); deleted ++= gone
    run.check("llm", "store size after compaction") {
      run.extras("llm.store_mb_after_compact") = dirBytes(new File(bm25Dir)) / 1048576.0
      true
    }

    // reference: the in-memory ranking over the live docs, computed
    // once per iteration after the clock stops
    lazy val reference: Map[Long, Seq[Row]] = Retrieval.bm25TopKBatch(
        liveDocs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        terms.zipWithIndex.flatMap { case (ts, q) => ts.map(q.toLong -> _) }.toDF("qid", "term"), K)
      .select("qid", "id", "score", "n_terms_hit", "rank").collect().toSeq
      .groupBy(_.getLong(0)).withDefaultValue(Nil)
    for (q <- 0 until nProbes) {
      run.op("bm25_probe", interactive = true) {
        val rows = tr.act("llm", "bm25ProbeAtRest")(
          Retrieval.bm25ProbeAtRest(spark, bm25Dir, terms(q).map(q.toLong -> _).toDF("qid", "term"), K))(
          _.select("qid", "id", "score", "n_terms_hit", "rank").collect().toSeq)
        run.digests(s"bm25_probe$q") = run.sha(rows.map(_.toString).sorted.mkString)
        run.check("llm", s"probe $q: no tombstoned id, equal to bm25TopKBatch over the live set") {
          rows.forall(r => !deleted(r.getLong(1))) &&
            rows.sortBy(_.getInt(4)) == reference(q.toLong).sortBy(_.getInt(4))
        }
      }
    }
    run.extras("streaming.poll_cpu_s") = (cpuBefore - cpuAtPrepare + streamCpuNs() - cpuAfter) / 1e9
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) f.listFiles().map(dirBytes).sum else f.length()
}
