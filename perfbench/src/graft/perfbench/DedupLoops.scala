package graft.perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

/** The iterative LLM-data loops over a seeded corpus with planted
  * near-dup families (one hot family) and exact copies, and seeded
  * embeddings with clusters plus a degenerate pile: exact dedup,
  * MinHash-LSH → connected components, semantic prune, Lloyd
  * refinement and BPE training, every iteration on the same inputs.
  */
final class DedupLoops(run: Run) extends Workload {
  import run.spark
  import spark.implicits._

  private val nDocs = if (run.small) 600 else 1500
  private val hot = if (run.small) 30 else 75
  private val nVecs = if (run.small) 300 else 800
  private val pile = if (run.small) 20 else 60
  private val bpeRounds = 4

  private val lloydRounds = 1

  private var docsPath, embPath: String = _
  private var corpus: Gen.Corpus = _
  private var pileIds: Set[Long] = _

  def setup(dir: File): Unit = {
    val vocab = new Gen.Vocab(run.seed, 3000)
    corpus = Gen.corpus(run.seed, nDocs, hot, vocab)
    val (vecs, p) = Gen.embeddings(run.seed, nVecs, clusters = 16, pile = pile)
    pileIds = p
    docsPath = new File(dir, "docs.parquet").getPath
    embPath = new File(dir, "embeddings.parquet").getPath
    corpus.docs.toSeq.toDF("doc_id", "text").write.parquet(docsPath)
    vecs.toSeq.toDF("vec_id", "embedding").write.parquet(embPath)
  }

  def iteration(i: Int): Unit = {
    val tr = run.tracer
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)

    run.op("exact_dedup") {
      val groups = tr.act("llm", "exactDedup")(Dedup.exactDedup(docs, "doc_id", "text"))(
        _.filter($"n_copies" > 1).select("keep_id", "n_copies").as[(Long, Long)].collect().toSet)
      run.stableOutput("llm", "exact_dedup", groups.toSeq.sorted.toString) {
        groups == corpus.copyGroups.map(g => (g.min, g.size.toLong)).toSet
      }
    }

    run.op("near_dup") {
      val pairs = tr.call("llm", "minhashLsh")(
        Dedup.minhashLsh(docs, "doc_id", "text", numHashes = 16, bands = 4, threshold = 0.5))
      val labels = tr.act("llm", "connectedComponents")(
        Dedup.connectedComponents(pairs.select("id_a", "id_b")))(
        _.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap)
      run.stableOutput("llm", "near_dup", labels.toSeq.sorted.toString) {
        nearDupRecovered(labels)
      }
    }

    run.op("semantic_prune") {
      val rows = tr.act("llm", "semanticPrune")(
        Similarity.semanticPrune(emb.select("vec_id", "embedding"), k = 3, planes = 4,
          tau = 0.9, maxBucket = 64))(
        _.select("vec_id", "cluster_id", "cluster_size", "keep")
          .as[(Long, Long, Long, Boolean)].collect())
      run.stableOutput("llm", "semantic_prune", rows.sorted.toSeq.toString) {
        val sizes = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
        rows.map(_._1).distinct.length == nVecs && rows.length == nVecs &&
          rows.forall { case (v, c, n, keep) => keep == (v == c) && sizes(c) == n } &&
          rows.filter(r => pileIds(r._1)).map(_._2).distinct.length == 1
      }
    }

    run.op("lloyd_refine") {
      val rows = tr.act("llm", "lloydRefine")(Similarity.lloydRefine(emb, k = 8, rounds = lloydRounds))(
        _.select("cluster", "n", "inertia_fp").as[(Int, Long, Long)].collect())
      run.stableOutput("llm", "lloyd_refine", rows.sorted.toSeq.toString) {
        rows.map(_._2).sum == nVecs && rows.length <= 8 && rows.forall(_._3 >= 0)
      }
    }

    run.op("bpe_train") {
      val merges = tr.act("llm", "bpeTrain")(Dedup.bpeTrain(docs, "doc_id", "text", rounds = bpeRounds))(
        _.select("round", "lhs", "rhs", "pair_count").orderBy("round")
          .as[(Int, String, String, Long)].collect())
      run.stableOutput("llm", "bpe_train", merges.toSeq.toString) {
        merges.map(_._1).toSeq == (1 to bpeRounds) &&
          merges.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
      }
    }
  }

  /** MinHash-LSH is approximate, so recovery is exact on precision and
    * bounded on recall: no component joins two planted groups or holds
    * an unplanted doc, and at least 98% of planted docs sit in their
    * group's largest component.
    */
  private def nearDupRecovered(labels: Map[Long, Long]): Boolean = {
    val groups = corpus.nearDupGroups
    val groupOf = groups.zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
    val pure = labels.toSeq.groupBy(_._2).values.forall { members =>
      val gs = members.map(m => groupOf.get(m._1))
      !gs.contains(None) && gs.distinct.length == 1
    }
    val planted = groups.map(_.size).sum
    val found = groups.map { g =>
      g.toSeq.flatMap(labels.get).groupBy(identity).values.map(_.length).maxOption.getOrElse(0)
    }.sum
    if (!pure || found < 0.98 * planted)
      System.err.println(s"near_dup: pure $pure, $found of $planted planted docs recovered")
    pure && found >= 0.98 * planted
  }
}
