package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{EventQueries, LlmQueries, PlannerQueries, Relational, RasterQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query groups:
  *  - q01–q24 relational spine (Relational; q20 histogram median)
  *  - q25–q41, q56–q63, q65–q68, q73, q78, q80–q83, q87, q97, q101–q102, q104–q106 raster
  *    engine: trans pipeline, combine, overviews, catalog/mosaic/
  *    selector, LOS (incl. P.526 knife-edge diffraction q82 and
  *    Okumura-Hata loss q87), viewshed (sweep + exact + sector crops,
  *    single/multi-observer/3×3 grid fan-out q83), GeoTIFF
  *    round-trip, warp, rasterize, Horn slope stencil q97 + hillshade q101 + TRI/TPI/roughness q115, observers-as-table viewshed grid q102, REST path-loss backend vs in-process stub q104, catalog-routed spherical-aeqd geographic lifecycle q105, GPKG tile-container read q106, WMS remote-raster read vs in-process TMS stub q131, binary tile payloads,
  *    tile scan q216, sharded COG export q232/q243 + verify q244,
  *    grid export q245, viewshed r2 q246
  *    (RasterQueries)
  *  - q42–q52, q64, q69, q70, q75–q77, q79, q84–q86, q88–q91, q93–q96, q98–q100, q103, q107–q114, q116–q130,
  *    q132–q162, q165, q166, q168–q215, q217–q231 LLM-pipeline:
  *    text analysis + repetition + quality verdict, dedup (exact/
  *    prefix/minhash/simhash/ngram/embedding + cluster closure), ANN
  *    (brute/LSH/IVF, one batched many-query form each — a single
  *    query is a one-row batch; IVF at-rest partition pruning q103),
  *    multimodal, deterministic sampling, benchmark decontamination
  *    q89, PII scrub q90, per-source mixing table q91, int8
  *    embedding quantization q93, substring-dup stats q94, sequence
  *    packing q95, BM25 lexical retrieval q96, unigram LM score q98,
  *    group centroids q99, composed curation pipeline q100,
  *    tokenizer pair-merge counts q107, matryoshka truncation q108,
  *    vocabulary-coverage/OOV audit q109, training-sequence
  *    windowing q110, CCNet perplexity buckets q111, corpus
  *    duplicated-n-gram accounting q112, Bloom-filter membership
  *    pre-filter q113, per-doc duplicated-gram mass q114, sparse
  *    TF-IDF cosine join q116, fuzzy cross-corpus decontamination
  *    q117, normalization-aware dedup q118, perceptual image-hash
  *    dedup q119 (rows-only), temperature-scaled mixing q120,
  *    hashed-n-gram classifier scoring q121, corpus k-NN graph q122,
  *    SemDeDup semantic prune q123, count-min-sketch audit q124,
  *    HyperLogLog distinct q125, rank AUC q126, token-budget
  *    subsample q127, DSIR importance weights q128, curriculum
  *    interleave q129, token-entropy quality q130, bigram
  *    Stupid-Backoff LM on a held-out split q132, HTML boilerplate
  *    extraction q133, grouped exact length quantiles q134,
  *    dedup-aware content-hash split + leakage audit q135, LSH calibration report q136, paragraph-dedup mass q137, streaming-LSH ingest candidates q138 (stream≡batch),
  *    concat-chunk sequence accounting q139, sketch-pruned heavy
  *    hitters q140 (Misra-Gries candidates + exact verify), corpus
  *    snapshot diff q141, robust MAD length outliers q142, semantic
  *    cross-corpus decontamination q143, first-occurrence gram
  *    novelty q144, bucketed at-rest dedup layout q145 (exchange-free
  *    content groupBy), near-dup cluster-closed split q146,
  *    target-mixture reweighting q147, ANN recall audit q148,
  *    vocabulary coverage curve q149, embedding dimension audit q150,
  *    cross-source duplication matrix q151, power-of-two batch-shape
  *    histogram q152, deterministic upsampling materializer q153,
  *    winnowed MOSS fingerprint matches q154, contrastive triplet
  *    mining q155, per-source MinHash sketch overlap q156, dedup
  *    savings report q157, deterministic Lloyd k-means q158,
  *    classifier calibration buckets q159, chunk-stitch boundary
  *    reconstruction q160, quality-canonical dedup selection q161,
  *    Hamming-banded binary near-dup q162, distribution-drift PSI
  *    audit q165, encoding-health audit q166, tokenizer fertility q168, sorted-neighborhood pairs q169, edit-distance verified pairs q170, dedup family-overlap matrix q171, curation survival funnel q172, salted skew join/agg q173, exact-substring dup spans q174, batched BM25 q175, hybrid RRF fusion q176, directional containment pairs q177, BPE merge-table trainer q178, lang-ID confusion matrix q179, ANN nDCG audit q180, RAG chunk spans q181, bottom-k quantile sketch q182, boilerplate strip q183,
  *    lexicon tagging q184/q185, Zipf fit q186, classifier kappa q187,
  *    product quantization (encode q188, audit q189, ADC q190, IVF-PQ
  *    q192, recall q193, residual q195, at-rest q196, append q201,
  *    rotated q204), PMI collocations q191, kNN PageRank q194, BPE
  *    sampled/encode/at-rest q197/q203/q223, LSH hot star q198,
  *    Matryoshka q199, SQ8 q200, margin mining q202, JL distortion
  *    q205, soft-dedup weights q206, farthest-first q207, at-rest LSH
  *    q208–q210, IVF-PQ rebalance q211, stream dedup q212, viral
  *    substrings q213/q215, giant cluster q214, at-rest BM25
  *    q217/q218, weighted take q219, k-anonymity q220, trigram
  *    backoff q221, CDC chunks q222/q226/q227, banding S-curve q224,
  *    robust stats q225, LSH/IVF-PQ takedown q228/q229, at-rest
  *    winnowing q230, stream BM25 q231
  *    (LlmQueries)
  *  - q233–q237 driver-side planning + sidecar sinks (PlannerQueries):
  *    file-list expansion q233, job fan-out/ordering/slice/cap q234,
  *    .ovr de-dup + write-band rule + info sidecar q235, JSON/CZML
  *    sink round-trip q236, sampled extent transform q237
  *  - q238/q239 stream-fed IVF-PQ and winnowing at-rest indexes
  *    (LlmQueries + EventStream) — every at-rest index kind now has
  *    a streaming ingest face gated against its batch-built twin
  *  - q240–q242 CDC content store: bit-exact document reconstruction
  *    from payloads+manifests, takedown as manifest removal +
  *    refcounted chunk GC, and batch-partition history compaction
  *  - q53–q55, q71, q72, q74, q92, q163, q164, q167 events: JSON/string
  *    probes, streaming batch-twins, as-of join, range join, session
  *    windows, stream-stream attribution join q92, ordered
  *    conversion funnel q163, retention cohort matrix q164, burst
  *    detection q167 (EventQueries)
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The multi-way join probe (C1 aligned-raster-zip shape) over the
    * smallest fixture. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q11(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ RasterQueries.queries ++
      LlmQueries.queries ++ EventQueries.queries ++ PlannerQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ RasterQueries.oracles ++
      LlmQueries.oracles ++ EventQueries.oracles ++ PlannerQueries.oracles
}
