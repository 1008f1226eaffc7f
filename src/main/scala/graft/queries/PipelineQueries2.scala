package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{ConnectedComponents, Sessionize}
import graft.pipeline.{ArtifactStore, Bpe, Curation, Dedup, Ingest, Multimodal, Retrieval, Similarity, TextFunctions => TF}

/** Query-card defs p96+ (events, retrieval, manifests, index
  * lifecycle, audits) — part 3 of the round-15 split of the
  * 10k-line query file: verbatim moves with zero behavior change;
  * the wiring maps stay in [[PipelineQueries]] and resolve these
  * through the mutual package import. Same oracle portability
  * contract as the [[PipelineQueries]] header.
  */
object PipelineQueries2 {

  import PipelineQueries._

  /** Funnel time-to-convert quantiles (p103): exact nearest-rank
    * p25/p50/p75 of each stage transition's latency over converted
    * users, sharing p101's greedy chain
    * ([[graft.operators.Sessionize.funnelTiming]]).
    */
  def p103FunnelTiming(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.funnelTiming(Tables.events(s, dir),
      Seq("signup", "view", "click", "purchase"))

  /** Weekly retention cohorts (p102): users cohorted by first-event
    * epoch week, exact integer retention at each week offset
    * ([[graft.operators.Sessionize.retentionCohorts]]). The oracle
    * replays the bucketing, cohort min, and rate arithmetic.
    */
  def p102Retention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.retentionCohorts(Tables.events(s, dir))

  /** Event conversion funnel (p101): signup → view → click → purchase
    * in strict event-time order with earliest-completion semantics
    * ([[graft.operators.Sessionize.funnel]]); one row per stage with
    * the reached-user count and exact integer conversion rates. The
    * oracle replays the stage-wise min-after-previous chain.
    */
  def p101Funnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.funnel(Tables.events(s, dir),
      Seq("signup", "view", "click", "purchase"))

  /** Memorization risk per document (p105): duplicated-8-gram-window
    * fraction corpus-wide ([[Curation.memorizationRisk]]) — the
    * doc-level report over p78's gram machinery. The oracle replays
    * gram hashing, the corpus-wide occurrence counts, and the exact
    * fraction.
    */
  def p105MemorizationRisk(s: SparkSession, dir: String): DataFrame =
    Curation.memorizationRisk(t(s, dir, "documents"), "doc_id", "text",
      L = 8)

  /** Cross-corpus novelty (p111): every 10th document plays an
    * incoming batch scored against the REST of the corpus as the
    * reference ([[Curation.noveltyScore]]) — fraction of 8-token
    * windows not already present, the window-level admission signal.
    * The oracle replays gram hashing, the reference distinct set, and
    * the fraction.
    */
  def p111Novelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curation.noveltyScore(docs.filter(col("doc_id") % 10 === 7),
      docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", L = 8)
  }

  /** BM25 top-10 retrieval (p112): every 40th document's first four
    * tokens play a query batch against the full corpus through the
    * distributed inverted index ([[Retrieval.bm25TopK]]) — the
    * sparse-lexical sibling of the p05 dense top-k. The oracle refits
    * the index (postings, df over query terms, corpus stats) and
    * replays idf, length normalization, the per-term micro floors,
    * and the ranking window.
    */
  def p112Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    Retrieval.bm25TopK(docs, "doc_id", "text",
      queries, "query_id", "qtext", k = 10)
  }

  /** Classifier ROC-AUC (p113): exact Mann-Whitney AUC of the p81
    * Naive-Bayes scorer's margin against its own funnel training
    * labels ([[Curation.rocAuc]]) — the one-row separation
    * certificate a curation run reads before the classifier's
    * threshold gates a corpus. The oracle refits the classifier and
    * replays the U-statistic accumulation over score groups.
    */
  def p113Auc(s: SparkSession, dir: String): DataFrame =
    Curation.rocAuc(
      ArtifactStore.nbScored(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 500, profile = Curation.GateProfile.wordSalad),
      "llr_micro", "cls")

  /** CCNet perplexity partition (p114): per-language head/middle/tail
    * terciles by self-trained Kneser-Ney perplexity
    * ([[Curation.perplexityBuckets]]) — the Wenzek et al. 2020 bucket
    * assignment as a dataset-card rollup. The oracle replays the KN
    * scoring and the rank-based ntile.
    */
  def p114PplBuckets(s: SparkSession, dir: String): DataFrame =
    Curation.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text",
      "lang", vocabSize = 500)

  /** Per-domain caps (p115): RefinedWeb-style source balancing — keep
    * the top 15 documents per source by (p09 quality DESC, id),
    * reported as the per-source kept/dropped doc and token mass
    * ([[Curation.domainCap]]). The oracle replays the score, the
    * per-source ranking window, and the rollup.
    */
  def p115DomainCap(s: SparkSession, dir: String): DataFrame =
    Curation.domainCap(scoredDocs(t(s, dir, "documents")), "doc_id",
      "text", "source", cap = 15, col("score_micro"))

  /** PMI collocations (p116): top-100 adjacent-pair collocations by
    * pointwise mutual information at pair count ≥ 5
    * ([[Curation.pmiCollocations]]) — corpus phrase mining over the
    * p82 bigram machinery. The oracle replays the count tables and
    * the fixed-order PMI floor.
    */
  def p116Pmi(s: SparkSession, dir: String): DataFrame =
    Curation.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
      minCount = 5L, topK = 100)

  /** Logistic-regression quality classifier (p117): twelve rounds of
    * exact-integer full-batch gradient descent over 64 hashed binary
    * unigram features, funnel weak labels, unit learning rate
    * ([[Curation.logisticRegression]]) — the gradient-trained sibling
    * of p81, reaching ~0.89 label agreement vs the 0.64 base rate at
    * both sf0.001 and sf0.01 (hyperparameters picked by replaying the
    * exact integer trajectory offline). The oracle replays the whole
    * trajectory (residuals, gradients, floor-division weight updates)
    * iteration by iteration.
    */
  def p117LrClassifier(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.lrScored(t(s, dir, "documents"), "doc_id",
      "text", buckets = 64, iters = 12, lrDen = 1,
      profile = Curation.GateProfile.wordSalad)

  /** WordPiece merge training (p118): the BERT tokenizer's
    * likelihood-ratio merge rule run to pair exhaustion over the same
    * machinery as the p71 BPE trainer ([[Bpe.trainWordPiece]]) —
    * completing the tokenizer-family set (BPE p71/p75, unigram
    * p87/p88, WordPiece here). The oracle replays the whole
    * trajectory with the normalized winner rule, so a pass certifies
    * every merge decision AND its exact-integer score.
    */
  def p118Wordpiece(s: SparkSession, dir: String): DataFrame =
    ArtifactStore.wordPiece(t(s, dir, "documents"), "text", nMerges = 100)._1

  /** Hybrid retrieval (p119): the p112 BM25 top-10 fused with the
    * dense cosine top-10 over the SAME query ids (doc_id ↔ vec_id) by
    * reciprocal-rank fusion at k₀ = 60 ([[Retrieval.rrfFuse]]) — the
    * modern sparse+dense serving stack as one plan. The oracle
    * replays both retrievers AND the exact-integer fusion.
    */
  def p119HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val sparse = p112Bm25(s, dir)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Similarity.topK(emb,
        Retrieval.plantedSample(emb, "vec_id"), "vec_id", "embedding",
        k = 10)
      .select(col("query_id"), col("cand_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(sparse, dense, k0 = 60, topK = 10)
  }

  /** Pseudo-relevance-feedback retrieval (p120): the p112 queries run
    * twice through [[Retrieval.bm25Prf]] — pass 1's top-3 documents
    * donate their 5 highest-tf non-query terms, pass 2 retrieves with
    * the expanded queries. The oracle replays both passes and the
    * exact-integer expansion choice.
    */
  def p120Prf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    Retrieval.bm25Prf(docs, "doc_id", "text", queries, "query_id",
      "qtext", fbDocs = 3, fbTerms = 5, k = 10)
  }

  /** Residual IVF-PQ recall (p122): FAISS's actual IVFPQ encoding —
    * codes quantize the residual v − c(v), ADC compares query
    * residuals — measured against the raw-vector-coded [[p74IvfPq]]
    * composition on the CLUSTERED fixture, where the difference is
    * visible: a raw codebook wastes its entries re-describing cluster
    * centers, the residual codebook resolves within-cluster
    * neighbors ([[Similarity.ivfResidualPqTopK]]). Same config both
    * rows: nlist=8 coarse centroids (vec_id<8), codebook rows
    * (0, 8, 16, 24), m=4, k=10, nprobe=1. The oracle replays the
    * fixture, BOTH
    * pipelines (cells, residuals, codes, probes, ADC), the exact
    * truth, and the recall divisions.
    */
  def p122ResidualPq(s: SparkSession, dir: String): DataFrame = {
    // the synthetic fixture costs ~190 md5 calls per row and is
    // scanned ~4x by EACH of the four pipelines below (corpus side,
    // probe side, centroid collect, codebook collect) — materialize
    // it once for the duration of the card (measured 15s -> ~4s at
    // sf0.1).
    val emb = hierEmbeddings(s, dir)
    graft.core.Caching.withCached(emb) {
      val queries = emb.filter(col("vec_id") < 20)
      val exact = Similarity.topK(emb, queries, "vec_id", "embedding", 10)
        .select("query_id", "cand_id")
      // codebook rows: cluster 0's four prototype representatives
      // (0, 8, 16, 24) — residualized they span the prototype set
      val pqRows = col("vec_id") < 32 && col("vec_id") % 8 === 0
      def row(method: String, ann: DataFrame): DataFrame =
        ann.select("query_id", "cand_id")
          .join(exact, Seq("query_id", "cand_id"))
          .agg(count(lit(1)).as("n_hits"))
          .crossJoin(exact.agg(count(lit(1)).as("n_truth")))
          .select(lit(method).as("method"), col("n_hits"), col("n_truth"),
            floor((col("n_hits") * lit(1e6)) / col("n_truth")).cast("long")
              .as("recall_micro"))
      row("ivfpq_raw_hier",
        Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
          coarseFilter = col("vec_id") < 8, pqFilter = pqRows,
          m = 4, dim = 64, k = 10, nprobe = 1))
        .unionByName(row("ivfpq_residual_hier",
          Similarity.ivfResidualPqTopK(emb, queries, "vec_id", "embedding",
            coarseFilter = col("vec_id") < 8, pqFilter = pqRows,
            m = 4, dim = 64, k = 10, nprobe = 1)))
        .unionByName(row("ivfpq_residual_refine_hier",
          Similarity.ivfResidualPqRefineTopK(emb, queries, "vec_id",
            "embedding", coarseFilter = col("vec_id") < 8,
            pqFilter = pqRows, m = 4, dim = 64, k = 10, nprobe = 1,
            rerank = 30)))
    }
  }

  /** Entropy quality signals (p121): per-document character- and
    * token-level Shannon entropy in micro-floored integer nats
    * ([[Curation.entropyStats]]) — the gibberish/boilerplate band
    * filter. The oracle replays both distributions and the per-term
    * floors.
    */
  def p121Entropy(s: SparkSession, dir: String): DataFrame =
    Curation.entropyStats(t(s, dir, "documents"), "doc_id", "text")

  /** Count-min calibration (p127): a 4×64 count-min sketch over the
    * token stream, audited against exact counts for the top-30 tokens
    * ([[Curation.countMinCalibration]]) — fixed-memory heavy-hitter
    * counting with its collision overshoot made visible (est ≥ exact
    * is a hard invariant both sides check). The oracle rebuilds the
    * sketch from the same seeded hashes and replays the min-probe.
    */
  def p127CountMin(s: SparkSession, dir: String): DataFrame =
    Curation.countMinCalibration(t(s, dir, "documents"), "doc_id",
      "text", d = 4, w = 64, topK = 30)

  /** Query-likelihood retrieval (p129): the p112 queries ranked by
    * Dirichlet-smoothed language-model likelihood (μ=100, matched to
    * the ~60-token documents) — the LM member of the classic ranking
    * pair beside BM25 ([[Retrieval.qlTopK]]). The oracle refits the
    * collection statistics and replays the three floored score
    * components per candidate.
    */
  def p129Ql(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    Retrieval.qlTopK(docs, "doc_id", "text", queries, "query_id",
      "qtext", k = 10, mu = 100.0)
  }

  /** Retrieval-quality scorecard (p130): nDCG@10 / MRR / hit count of
    * all four rankers — BM25 (p112), query-likelihood (p129), PRF
    * (p120), RRF fusion (p119) — against the planted-prefix relevance
    * set ([[Retrieval.rankingScorecard]]): each query IS the first 4
    * tokens of its source document, so the known-relevant answer for
    * query q is document q itself. One row per method; a ranking
    * regression in any of the four pipelines moves its row. The
    * oracle replays all four rankers and the exact integer metric
    * arithmetic (nDCG discounts are driver-computed literals shared
    * with the Spark plan).
    */
  /** All five production rankings over the standard prefix-query
    * batch, built with ONE index and ONE candidate-hit
    * materialization (naively composing the five standalone queries
    * rebuilds the same index four times and the bm25 ranking twice —
    * that made p130 the slowest bench query before the sharing).
    * Only bm25f (weighted index) and prf pass 2 (expanded terms) need
    * further corpus passes; prf pass 1 at fbDocs=3 is exactly a
    * rank-filter of the shared bm25 top-10. Values are IDENTICAL to
    * the standalone p112/p132/p129/p120/p119 queries' — same
    * arithmetic, fewer rebuilds. Shared by the p130 scorecard and the
    * p136 significance test.
    */
  private[graft] def sharedRankings(s: SparkSession,
      dir: String): Seq[(String, DataFrame)] = {
    val docs = t(s, dir, "documents")
    val docToks = TF.tokens(col("text"))
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val index = Retrieval.bm25fIndex(docs, "doc_id", Seq(docToks -> 1L))
    val qT = Retrieval.queryTerms(queries, "query_id", "qtext")
    val qVocab = qT.select("tok").distinct()
    // ONE corpus tokenization for the whole card (r16): the five
    // rankers previously re-tokenized and re-exploded the corpus four
    // times (shared bm25/ql hits, prf pass 2, bm25f's two field
    // explodes). The positional postings serve every derived
    // candidate frame as a broadcast prune — row-identical per
    // [[Retrieval.positionalPostings]]'s commutation notes — and stay
    // doc_id-partitioned through the checkpoint, so the scoring
    // rollups still cross no exchange.
    val occ = Retrieval.positionalPostings(docs, "doc_id", docToks,
      prefixLen = 8).localCheckpoint()
    val hits = occ.join(broadcast(qVocab), Seq("tok"))
      .select(col("tok"), col("doc_id"), col("tf"))
    // bm25 feeds three consumers (its own row, prf pass 1, rrf) —
    // checkpoint it; the single-consumer rankers stay lazy over the
    // checkpointed occ.
    val bm = Retrieval.rankTopK(Retrieval.bm25ScoresFromHits(index,
      hits, qT, Retrieval.Bm25Params()), 10).localCheckpoint()
    val ql = Retrieval.qlRankFromHits(index, hits, qT, k = 10,
      mu = 100.0)
    val prf = Retrieval.prfFromOcc(occ, index, qT,
      bm.filter(col("rank") <= 3).select(col("query_id"), col("doc_id")),
      fbTerms = 5, k = 10, Retrieval.Bm25Params())
    // bm25f: p132's weighted fields partition the token sequence at
    // position 8, so tf̃ = 3·tf_pre + (tf − tf_pre) over occ, and the
    // weighted doclen/stats come from [[Retrieval.bm25fIndex]]. Same
    // hits rows, same tf̃, same doclen floors — values identical to
    // [[p132Bm25f]]'s.
    val fIndex = Retrieval.bm25fIndex(docs, "doc_id",
      Seq((slice(docToks, 1, 8), 3L),
        (slice(docToks, lit(9), size(docToks)), 1L)))
    val fHits = occ.join(broadcast(qVocab), Seq("tok"))
      .select(col("tok"), col("doc_id"),
        (lit(3L) * col("tf_pre") + (col("tf") - col("tf_pre")))
          .as("tf"))
    val bmf = Retrieval.rankTopK(Retrieval.bm25ScoresFromHits(fIndex,
      fHits, qT, Retrieval.Bm25Params()), 10)
    val emb = t(s, dir, "embeddings")
    val dense = Similarity.topK(emb,
        Retrieval.plantedSample(emb, "vec_id"), "vec_id", "embedding",
        k = 10)
      .select(col("query_id"), col("cand_id").as("doc_id"), col("rank"))
    val rrf = Retrieval.rrfFuse(
      bm.select(col("query_id"), col("doc_id"), col("rank")), dense,
      k0 = 60, topK = 10)
    Seq("bm25" -> bm, "bm25f" -> bmf, "ql" -> ql,
      "prf" -> prf, "rrf" -> rrf)
  }

  def p130RetrievalScorecard(s: SparkSession, dir: String): DataFrame =
    sharedRankings(s, dir)
      .map { case (m, df) =>
        Retrieval.rankingScorecard(df, m, topK = 10) }
      .reduce(_.unionByName(_))

  /** Ranking significance (p136): the paired sign-flip randomization
    * test ([[Retrieval.pairedSignificance]], 200 portable-hash
    * permutations) of bm25f — the p130 card's best ranker — against
    * each of bm25/ql/prf/rrf on per-query nDCG@10. The card that says
    * whether the fielded upgrade's win is statistically real or a
    * 13-query accident; every permutation replays in the oracle. One
    * row per comparison.
    */
  /** Classifier agreement (p139): Cohen's kappa between the NB (p81)
    * and LR (p117) quality classifiers over the same corpus
    * ([[Curation.classifierAgreement]]) — the chance-corrected
    * swap-safety check, one exact-integer row. The oracle refits BOTH
    * classifiers and replays the portable floor-division kappa.
    */
  def p139ClassifierAgreement(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nb = ArtifactStore.nbScored(docs, "doc_id", "text",
      vocabSize = 500, profile = Curation.GateProfile.wordSalad)
    val lr = ArtifactStore.lrScored(docs, "doc_id", "text",
      buckets = 64, iters = 12, lrDen = 1,
      profile = Curation.GateProfile.wordSalad)
    Curation.classifierAgreement(nb, "pred", lr, "pred", "doc_id")
  }

  /** Near-dup hub centrality (p138): integer-exact damped PageRank
    * ([[graft.operators.PageRank]], 8 rounds) over the p04 near-dup
    * graph (4-gram Jaccard ≥ 0.4, both directions) — high-centrality
    * documents are template/boilerplate hubs, the triage signal for
    * survivor choice before a dedup cut; isolated docs hold exactly
    * the 150000 teleport mass. The oracle replays the exhaustive pair
    * scan and all 8 materialized rounds of the integer recurrence.
    */
  def p138PagerankHubs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = ArtifactStore.ngramJaccardPairs(docs, "doc_id", "text", k = 4,
        threshold = 0.4, maxShingleFreqFrac = Some(0.1))
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs
        .select(col("doc_b").as("src"), col("doc_a").as("dst")))
    graft.operators.PageRank.pagerank(edges,
        docs.select(col("doc_id").as("node")), iters = 8)
      .select(col("node").as("doc_id"), col("pr").as("pr_micro"))
  }

  /** Epoch schedule (p153): the data-constrained scaling card
    * ([[Curation.epochSchedule]]) — a 4× corpus budget split
    * uniformly across sources, per-source epochs demanded, tokens
    * deliverable under the 4-epoch repetition ceiling, and the
    * deficit to re-allocate. Exact integers; the oracle replays the
    * in-plan totals and every division.
    */
  def p153EpochSchedule(s: SparkSession, dir: String): DataFrame =
    Curation.epochSchedule(t(s, dir, "documents"), "source", "text",
      budgetNumer = 4L, budgetDenom = 1L, capEpochs = 4L)

  /** Near-dup cohesion cores (p154): k-core peeling
    * ([[graft.operators.KCore]], 6 simultaneous rounds — fixpoint on
    * this graph, asserted by KCoreSpec) of the p04/p138 near-dup
    * graph at k = 2 and 3. A node surviving the 3-core sits in a
    * densely MUTUAL template family (≥3 in-core near-copies — safe to
    * collapse aggressively); a node the 2-core already strips is
    * pendant/star periphery that deserves review before a cut — the
    * cohesion cut-depth card next to p141's triangle view. One row
    * per (k, surviving doc): (k, doc_id, core_deg). The pair
    * detector's checkpointed output feeds both peels, so the
    * exhaustive-scan replay cost is paid once; the oracle replays
    * every peel round as a materialized CTE.
    */
  def p154KCore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = ArtifactStore.ngramJaccardPairs(docs, "doc_id", "text", k = 4,
        threshold = 0.4, maxShingleFreqFrac = Some(0.1))
      .select(col("doc_a"), col("doc_b"))
    Seq(2L, 3L).map { kk =>
      graft.operators.KCore.core(pairs, "doc_a", "doc_b",
          k = kk.toInt, rounds = 6)
        .select(lit(kk).as("k"), col("node").as("doc_id"),
          col("core_deg"))
    }.reduce(_.unionByName(_))
  }

  /** Exact PR-AUC (p155): average precision of the NB quality
    * classifier's LLR ranking against the funnel labels
    * ([[Curation.averagePrecision]]) — the class-imbalance-honest
    * twin of p113's ROC-AUC, read against the prevalence baseline
    * that rides the same row. Same scored frame as p113, so the two
    * cards disagree exactly when negatives dominate — the regime a
    * crawl-quality gate lives in. The oracle refits the classifier
    * and replays the descending score-group accumulation with the
    * identical floor-then-sum integer terms.
    */
  def p155PrAuc(s: SparkSession, dir: String): DataFrame =
    Curation.averagePrecision(
      ArtifactStore.nbScored(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 500, profile = Curation.GateProfile.wordSalad),
      "llr_micro", "cls")

  /** Dedup → retrieval impact (p156): the p130 ranking card computed
    * TWICE — once over the full corpus, once after the min-id
    * near-dup cut (p04 pairs closed by CC, the p151 decision set) —
    * against the SAME planted-prefix query set. The before/after card
    * answers the question every curation team argues about: does
    * deduplicating the corpus help or hurt retrieval quality? (Near
    * copies crowd the top-k, so cutting them usually lifts MRR — and
    * a query whose own source doc was dropped shows the cost side.)
    * Both variants rebuild the BM25 index from scratch (corpus stats
    * nd/avgdl/df legitimately shift under the cut — that shift IS the
    * measured effect); queries come from the FULL corpus so the
    * denominator is comparable. The oracle replays the closure, both
    * index builds, and both scorecards.
    */
  def p156DedupRetrievalImpact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val dropped = ArtifactStore.dedupDecisions(docs, "doc_id", "text",
        k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
      .filter(col("keep") === 0).select(col("node").as("doc_id"))
    // one postings build serves both cards (the deduped index is the
    // full one with dropped docs anti-joined — bit-identical, see
    // [[Retrieval.bm25DedupImpactCards]])
    Retrieval.bm25DedupImpactCards(docs, "doc_id", "text", queries,
      "query_id", "qtext", dropped, k = 10)
  }

  /** Classifier operating points (p157): precision / recall / F1 of
    * the NB quality classifier at five LLR thresholds
    * ([[Curation.classifierOperatingPoints]]) — the card that turns
    * p113/p155's threshold-free rankings into the cut a production
    * gate actually deploys. Exact confusion integers, F1 in its
    * direct `2tp div (2tp+fp+fn)` form. The oracle refits the
    * classifier and replays every threshold's counts.
    */
  def p157OperatingPoints(s: SparkSession, dir: String): DataFrame =
    Curation.classifierOperatingPoints(
      ArtifactStore.nbScored(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 500, profile = Curation.GateProfile.wordSalad),
      "llr_micro", "cls",
      // the corpus LLR mass spans ~[-0.8M, 13.6M] (median ~4M): these
      // five cuts trace the whole precision/recall tradeoff curve
      thresholds = Seq(0L, 2000000L, 4000000L, 6000000L, 10000000L))

  /** Within-doc repetition signals (p158): the Gopher §A1.2 half of
    * the quality battery ([[Curation.repetitionSignals]]) — per
    * document, the top-2-gram character fraction and the
    * duplicated-3-gram character COVERAGE fraction, the signals that
    * catch boilerplate/loop documents the word-count gates pass.
    * (Gopher audits dup n-grams up to n = 10; the short synthetic
    * documents hold ZERO duplicated 5-grams, so n = 3 is the largest
    * n this corpus actually exercises — the operator takes any n.)
    * The oracle replays the positional grams, the (count DESC, gram)
    * argmax, and the distinct-position coverage sum.
    */
  def p158Repetition(s: SparkSession, dir: String): DataFrame =
    Curation.repetitionSignals(t(s, dir, "documents"), "doc_id", "text",
      topN = 2, dupN = 3)

  /** Split repair (p159): the FIX for the leakage p152 audits — every
    * near-dup cluster is routed whole to the split of its cluster
    * head (the min-id member, which IS the component id), so no
    * cluster can straddle train/valid/test after the move
    * (PipelineSpec asserts the zero-straddle invariant). Output is
    * the migration matrix: (from_split, to_split, n_docs) over the
    * clustered docs — off-diagonal rows are the docs that MUST move
    * to close the leak, the cost a data lead signs off on. Scale
    * shape: beyond the detector + closure this is two broadcast-sized
    * joins against the split projection, keyed on node/component.
    */
  def p159SplitRepair(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val split = docs.select(col("doc_id"),
      (TF.hash60(concat(lit("split"), col("doc_id").cast("string")))
        % 100).as("h"))
      .select(col("doc_id"),
        when(col("h") < 80, "train").when(col("h") < 90, "valid")
          .otherwise("test").as("split"))
    val cc = ArtifactStore.dedupDecisions(docs, "doc_id", "text",
      k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    cc.join(split.select(col("doc_id").as("node"),
        col("split").as("from_split")), Seq("node"))
      .join(split.select(col("doc_id").as("component"),
        col("split").as("to_split")), Seq("component"))
      .groupBy("from_split", "to_split")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Global shard manifest (p160): the whole corpus in one
    * deterministic hash-shuffled order, cut into 4096-token training
    * shards by the two-level distributed prefix sum
    * ([[Curation.globalShardManifest]]) — the step that turns a curated
    * corpus into the ordered shard files a trainer streams. The
    * oracle replays the flat `SUM OVER (ORDER BY h, doc_id)`
    * placement, which the bucketed scan regroups associatively.
    */
  def p160ShardManifest(s: SparkSession, dir: String): DataFrame =
    Curation.globalShardManifest(t(s, dir, "documents"), "doc_id",
      "text", shardToks = 4096L)

  /** BM25 hard negatives (p161): the p112 query batch mined for
    * contrastive training pairs ([[Retrieval.bm25HardNegatives]]) —
    * top-5 lexical matches per query with the planted positive
    * (query_id = source doc) anti-joined away BEFORE the ranking
    * window, so each query yields five true negatives. The oracle
    * replays the full BM25 chain, the positive removal, and the
    * re-ranking.
    */
  def p161HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    Retrieval.bm25HardNegatives(docs, "doc_id", "text",
      queries, "query_id", "qtext",
      positives = queries.select(col("query_id"),
        col("query_id").as("doc_id")),
      k = 5)
  }

  /** Mixture-interleave manifest (p163): the corpus laid out by
    * stride-scheduled virtual time ([[Curation.mixtureInterleave]])
    * under the p50 temperature weights (α = 0.5, T5-style), cut into
    * 4096-token shards — the last mile between mixture weights and
    * shard files: every prefix of the order holds the target domain
    * mix within O(1) documents, so the trainer sees the mixture at
    * every read-ahead scale. The oracle replays the weight formula,
    * the flat per-domain ROW_NUMBER, the integer virtual times, and
    * the flat global token window, all equal to the two-level scans
    * by associativity.
    */
  def p163MixInterleave(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = p50TempMix(s, dir)
      .select(col("source"), col("p_micro").as("weight_micro"))
    Curation.mixtureInterleave(docs, "doc_id", "text", "source", w,
      shardToks = 4096L)
  }

  /** Learning-to-rank head (p173): the trained consumer that closes
    * the retrieval loop — the pipeline's own artifacts (planted
    * positives = the self-retrieval fixture, hard negatives = every
    * other BM25 top-10 candidate, p161's recipe) train a pointwise
    * logistic combination of the engine's ranking features (BM25,
    * proximity, phrase containment; [[graft.pipeline.Ltr]], the p117
    * integer-GD discipline), and the card scores base BM25 vs the
    * trained re-ranker on the p130 MRR/nDCG scorecard. On this corpus
    * the learner discovers the phrase-containment signal (large
    * positive w3) and roughly 2.5×'s the planted-relevance MRR —
    * proof the mined training data actually trains something that
    * moves the eval harness. The oracle replays feature extraction,
    * all twelve GD rounds (materialized weight CTEs), the re-rank,
    * and both scorecard rows.
    */
  def p173LtrRerank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val feats = graft.pipeline.Ltr.rankFeatures(docs, "doc_id", "text",
      queries, "query_id", "qtext", k = 10)
    graft.core.Caching.withCached(feats) {
      val w = graft.pipeline.Ltr.ltrWeights(feats, iters = 12,
        lrNum = 50L)
      Retrieval.rankingScorecard(
          feats.select(col("query_id"), col("rank"), col("doc_id")),
          "bm25", topK = 10)
        .unionByName(Retrieval.rankingScorecard(
          graft.pipeline.Ltr.rerank(feats, w), "ltr_trained",
          topK = 10))
    }
  }

  /** Incremental manifest append (p172): two thirds of the corpus
    * build a p163 mixture manifest; the remaining third arrives as an
    * admitted delta batch and is APPENDED ([[Curation.mixtureAppend]])
    * — per-domain stride sequences resume from the persisted counts,
    * delta tokens are laid after the persisted token mass, and not
    * one existing row is recomputed (the batch twin of the streaming
    * stride scheduler's state continuity; StreamingSpec pins the
    * equivalence, this query pins the arithmetic). The output is the
    * full post-append manifest; the oracle replays the base build,
    * the resumed counters, and the delta placement, so any
    * perturbation of an existing row or misplacement of a delta row
    * hash-mismatches.
    */
  def p172ManifestAppend(s: SparkSession, dir: String): DataFrame =
    appendFixture(s, dir)._2

  /** The shared p172/p174 append fixture: base manifest over
    * doc_id % 3 != 0, the remaining third appended
    * ([[Curation.mixtureAppend]]). Returns (delta docs, the full
    * post-append manifest).
    *
    * The base manifest is MATERIALIZED (localCheckpoint) before the
    * append references it — in production an append reads a
    * PERSISTED manifest, never a live recomputation, and without the
    * bracket the base build's plan is inlined into both the
    * resumed-state aggregate and the union, which is where p172's
    * 198-shuffle lineage came from (round-14 review nit #3). Output rows are byte-identical; the plan
    * fingerprint now measures what the append actually costs on top
    * of a stored manifest — the O(Δ) claim.
    */
  private[queries] def appendFixture(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val w = p50TempMix(s, dir)
      .select(col("source"), col("p_micro").as("weight_micro"))
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val existing = Curation.mixtureInterleave(base, "doc_id", "text",
      "source", w, shardToks = 4096L)
      .localCheckpoint(true)
    (delta, Curation.mixtureAppend(existing, delta, "doc_id", "text",
      "source", w, shardToks = 4096L))
  }

  /** Document chunking (p176): the RAG-ingestion / long-document
    * splitting primitive ([[Curation.chunkDocuments]] — 32-token
    * windows every 24 tokens, 25% overlap) with full provenance.
    * Zero-exchange projection; the oracle replays the window-start
    * rule, the slices, and the tail-length arithmetic.
    */
  def p176DocChunks(s: SparkSession, dir: String): DataFrame =
    Curation.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
      chunkToks = 32, strideToks = 24)

  /** LSH band-bucket skew audit (p179): the no-silent-caps card next
    * to p02 — per band, the bucket-population shape and exactly how
    * many candidate rows [[Dedup.LshBucketCap]]'s star-edge guard
    * would replace at the default cap. The oracle replays signatures,
    * band keys, and both pair sums, so the guard's accounting is
    * certified, not just logged. `n_oversized` = 0 at these SFs — the
    * binding case is exercised by the planted-cluster property tests.
    */
  def p179LshBucketAudit(s: SparkSession, dir: String): DataFrame =
    Dedup.lshBucketAudit(t(s, dir, "documents"), "doc_id", "text",
      k = 3, numHashes = 12, bands = 6)

  /** Serving-index export (p178): the IVF-PQ hand-off the ANN module
    * header promises made REAL ([[Similarity.exportServingIndex]]) —
    * coarse centroids, PQ codebook, and the compressed corpus
    * (cell + m codes per vector, the p74 config) written as parquet
    * artifacts, read back, and certified: per artifact, row count
    * and an order-free integer checksum with floats entering as
    * exact micro floors. The oracle recomputes centroid membership,
    * cell assignment, and every PQ code from the source table, so a
    * missing vector, a perturbed float, or a swapped code in the
    * exported artifacts hash-mismatches — the certificate a serving
    * node validates before loading the index.
    */
  /** The p177 long-document fixture: every document is prefixed with
    * its partner document's tokens (partner of doc `i` is doc
    * `(i+1) % N`), each token followed by six inert filler tokens.
    * The result is the regime Dai & Callan's MaxP claim is about,
    * built deterministically:
    *
    *  - at the DOCUMENT level, bag-of-words BM25 cannot tell scattered
    *    from contiguous: for the query planted from doc `m`, the doc
    *    that carries `m`'s text as interleaved padding matches every
    *    query term at the SAME term frequency — a FALSE POSITIVE
    *    competing head-on with the true document;
    *  - at the CHUNK level the padding is fragmented (a 32-token
    *    window holds at most five of the scattered tokens), while the
    *    true document's relevant span is contiguous inside one chunk —
    *    MaxP recovers the ranking the whole-document scores lost.
    *
    * Shape: one document-sized equi-join (partner id is modular
    * arithmetic over the in-plan corpus count) + per-row projections;
    * mirrored literally in the oracle.
    */
  private[graft] def longDocFixture(base: DataFrame): DataFrame = {
    val n = broadcast(base.agg(count(lit(1)).as("__n_docs")))
    val pad = array_join(
      transform(TF.tokens(col("text")),
        x => concat(x, lit(" xfillerx xfillerx xfillerx xfillerx" +
          " xfillerx xfillerx"))),
      " ")
    val partner = base.crossJoin(n)
      .select(
        pmod(col("doc_id") - 1 + col("__n_docs"), col("__n_docs"))
          .as("__target"),
        pad.as("__pad"))
    base.join(partner, col("doc_id") === col("__target"))
      .select(col("doc_id"),
        concat(col("__pad"), lit(" "), col("text")).as("text"))
  }

  /** Incremental serving-index append (p181): the exported IVF-PQ
    * artifacts absorb a DELTA batch in place
    * ([[Similarity.appendServingIndex]]) — new vectors (a rotated,
    * id-shifted tenth of the corpus, deterministic and
    * oracle-replayable) are coded against the FROZEN centroids and
    * codebook read back from the directory, and only O(Δ) new code
    * rows land in `codes/`; committed bytes are never rewritten and
    * nothing retrains. The card is [[Similarity.certifyServingIndex]]
    * over the EXTENDED directory: the oracle recomputes all three
    * artifact checksums from the source table plus the replayed delta,
    * so a lost delta row, a drifted code, or a disturbed base byte
    * hash-mismatches. The spec additionally pins that appending equals
    * a full re-export over (corpus ∪ delta) with the frozen quantizer,
    * and that the served top-k from the extended artifacts equals the
    * in-memory index over the union.
    */
  def p181IndexAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val tmp = scratchDir(s, dir, "serving_append")
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, tmp)
    val mx = broadcast(emb.agg((max(col("vec_id")) + 1L).as("__base")))
    val delta = emb.crossJoin(mx)
      .select((col("vec_id") + col("__base")).as("vec_id"),
        Similarity.rotateVec(col("embedding"), 64, "p181").as("embedding"))
      .filter(col("vec_id") % 10 === 3)
    Similarity.appendServingIndex(s, tmp, delta, "vec_id", "embedding",
      m = 4, dim = 64)
    Similarity.certifyServingIndex(s, tmp)
  }

  /** Dedup AT INGEST against frozen index artifacts (p182): the
    * near-dup lifecycle's serving story, the dedup twin of p178's
    * ANN hand-off — [[Dedup.exportDedupIndex]] freezes the admitted
    * corpus's LSH band table and minhash signatures as parquet
    * artifacts (signatures, ~10⁻³ of corpus bytes — never the text),
    * and an arriving batch is answered FROM THE ARTIFACTS ALONE:
    * band-key equi-join for candidates, signature-agreement count
    * for the verdict. The delta is deterministic and
    * oracle-replayable: ids shifted past the in-plan max; of the
    * original ids ≡ 1, 4, 7 (mod 10) — exact copies ('copy', full
    * 12/12 agreement), first-half truncations ('trunc', partial
    * agreement), and synthetic novel text ('novel', n_agree ~ 0).
    * The oracle replays the signatures, the band join WITH the
    * export-side bucket cap, the agreement count, and the best-match
    * argmax, so candidate generation and verdicts are certified end
    * to end. CLI twin `stream-ingest-dedup` answers arriving
    * micro-batches against the same artifacts.
    */
  def p182IngestDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tmp = scratchDir(s, dir, "dedup_index")
    Dedup.exportDedupIndex(docs, "doc_id", "text", k = 3,
      numHashes = 12, bands = 6, tmp)
    val mx = broadcast(docs.agg((max(col("doc_id")) + 1L).as("__base")))
    val toks = TF.tokens(col("text"))
    val half = floor((size(toks) + lit(1)) / lit(2)).cast("int")
    val idStr = col("doc_id").cast("string")
    val deltaText = when(col("doc_id") % 10 === 1, col("text"))
      .when(col("doc_id") % 10 === 4,
        array_join(slice(toks, lit(1), half), " "))
      .otherwise(concat(lit("zqa"), idStr, lit(" zqb"), idStr,
        lit(" zqc"), idStr, lit(" zqd"), idStr))
    val kind = when(col("doc_id") % 10 === 1, lit("copy"))
      .when(col("doc_id") % 10 === 4, lit("trunc"))
      .otherwise(lit("novel"))
    val delta = docs.crossJoin(mx)
      .filter(col("doc_id") % 10 === 1 || col("doc_id") % 10 === 4 ||
        col("doc_id") % 10 === 7)
      .select((col("doc_id") + col("__base")).as("doc_id"),
        col("doc_id").as("orig"), kind.as("kind"),
        deltaText.as("text"))
    val verdict = Dedup.ingestDedupCheck(s, tmp, delta, "doc_id",
      "text", k = 3, numHashes = 12, bands = 6, minAgree = 8)
    verdict.join(delta.select(col("doc_id"), col("orig"), col("kind")),
        "doc_id")
      .select(col("doc_id"), col("orig"), col("kind"), col("n_agree"),
        col("match_doc"), col("is_dup"))
  }

  /** Serving-index DELETE lifecycle (p183): tombstone → serve-around
    * → compact — how a frozen ANN index honors a takedown without
    * rewriting committed bytes, then reclaims them. Export (the p178
    * artifacts), tombstone a deterministic slice (vec_id ≡ 2 mod 9,
    * excluding centroid/codebook rows so the frozen quantizer is
    * untouched), certify the EXTENDED directory (pre phase: the codes
    * checksum is UNCHANGED — a logical delete rewrites nothing — and
    * the tombstone relation itself is certified), then
    * [[Similarity.compactServingIndex]] and certify again (post
    * phase: codes shrink by exactly the tombstoned rows, the
    * tombstone relation is gone). The oracle recomputes both phases
    * from the source table — cell assignments and PQ codes for the
    * full corpus (pre) and the surviving corpus (post) — so a
    * compact that loses a live row, resurrects a deleted one, or
    * perturbs a surviving code hash-mismatches. The spec pins that
    * serving from the tombstoned directory equals the in-memory
    * index over the surviving corpus bit for bit, and that
    * compaction leaves served answers unchanged.
    */
  def p183IndexDelete(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val tmp = scratchDir(s, dir, "serving_delete")
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, tmp)
    Similarity.tombstoneServingIndex(s, tmp,
      emb.filter(col("vec_id") % 9 === 2 && col("vec_id") % 25 =!= 0 &&
        col("vec_id") >= 8).select(col("vec_id")), "vec_id")
    val pre = Similarity.certifyServingIndex(s, tmp)
      .withColumn("phase", lit("pre")).localCheckpoint()
    Similarity.compactServingIndex(s, tmp)
    val post = Similarity.certifyServingIndex(s, tmp)
      .withColumn("phase", lit("post"))
    pre.unionByName(post)
      .select(col("phase"), col("artifact"), col("n_rows"),
        col("checksum"))
  }

  /** Incremental dedup-index append (p184): the near-dup gate's
    * index absorbs a day's admits in place — base index exported over
    * doc_id % 3 ≠ 0, the % 3 = 0 batch appended via
    * [[Dedup.appendDedupIndex]] (O(Δ) new files in `bands/` and
    * `sigs/`, committed bytes never rewritten, append deliberately
    * uncapped with [[Dedup.compactDedupIndex]] as the LSM re-cap),
    * then the EXTENDED directory certified:
    * [[Dedup.certifyDedupIndex]] emits per-artifact row counts and
    * order-free integer checksums, and the oracle recomputes both
    * relations from the source corpus — base band rows capped by
    * base-only bucket counts (exactly what the export wrote), delta
    * band rows uncapped (exactly what the append wrote), signatures
    * for every admitted doc. A lost delta row, a drifted signature,
    * or a base row disturbed by the append hash-mismatches. The spec
    * pins that the appended index catches duplicates of DELTA
    * documents, that append equals a fresh full export on an
    * uncongested corpus, and that compaction collapses a planted
    * oversized bucket to its representative.
    */
  def p184DedupAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tmp = scratchDir(s, dir, "dedup_append")
    Dedup.exportDedupIndex(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", k = 3, numHashes = 12, bands = 6, tmp)
    Dedup.appendDedupIndex(s, tmp, docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", k = 3, numHashes = 12, bands = 6)
    Dedup.certifyDedupIndex(s, tmp)
  }

  /** Decontamination at ingest (p185): the deployment shape of p25 —
    * the benchmark's k-gram hash postings frozen once per eval
    * release ([[Curation.exportEvalIndex]]: 8-byte hashes, never eval
    * text) and every arriving batch gated against the artifact
    * ([[Curation.ingestContaminationCheck]]): per document the
    * worst-hit benchmark doc, its shared-k-gram count, and the
    * verdict at minShared — clean docs included with n_shared = 0, so
    * the output is a complete admission record. The eval postings
    * broadcast (benchmark sets are small by construction); the only
    * exchanges are hit-row aggregations. The oracle replays the
    * posting join, the per-pair counts, and the worst-hit argmax.
    * CLI twin `stream-decontaminate` gates arriving micro-batches
    * from the same artifact.
    */
  def p185IngestDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tmp = scratchDir(s, dir, "eval_index")
    Curation.exportEvalIndex(docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", k = 3, tmp)
    Curation.ingestContaminationCheck(s, tmp,
      docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
      k = 3, minShared = 2)
  }

  /** Serving-index CRUD lifecycle composite (p186): export → append
    * → delete → compact on ONE directory, certified after every
    * phase — the interaction coverage the standalone cards can't
    * give (p181 appends to a fresh export; p183 deletes from one;
    * here the tombstoned rows are removed from a directory that ALSO
    * holds appended delta files, and compaction must preserve the
    * delta while reclaiming the doomed base rows). Phases:
    * 1_export (the p178 artifacts), 2_append (the p181 delta, coded
    * against the frozen quantizer), 3_delete (tombstones over base
    * ids — codes checksum must equal phase 2's: a logical delete
    * rewrites nothing), 4_compact (codes = base ∪ delta minus the
    * doomed rows; tombstones gone). The oracle recomputes every
    * phase from the source table and the replayed delta.
    */
  def p186IndexLifecycle(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val tmp = scratchDir(s, dir, "serving_lifecycle")
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, tmp)
    val c1 = Similarity.certifyServingIndex(s, tmp)
      .withColumn("phase", lit("1_export")).localCheckpoint()
    val mx = broadcast(emb.agg((max(col("vec_id")) + 1L).as("__base")))
    val delta = emb.crossJoin(mx)
      .select((col("vec_id") + col("__base")).as("vec_id"),
        Similarity.rotateVec(col("embedding"), 64, "p186")
          .as("embedding"))
      .filter(col("vec_id") % 10 === 3)
    Similarity.appendServingIndex(s, tmp, delta, "vec_id", "embedding",
      m = 4, dim = 64)
    val c2 = Similarity.certifyServingIndex(s, tmp)
      .withColumn("phase", lit("2_append")).localCheckpoint()
    Similarity.tombstoneServingIndex(s, tmp,
      emb.filter(col("vec_id") % 9 === 2 && col("vec_id") % 25 =!= 0 &&
        col("vec_id") >= 8).select(col("vec_id")), "vec_id")
    val c3 = Similarity.certifyServingIndex(s, tmp)
      .withColumn("phase", lit("3_delete")).localCheckpoint()
    Similarity.compactServingIndex(s, tmp)
    val c4 = Similarity.certifyServingIndex(s, tmp)
      .withColumn("phase", lit("4_compact"))
    c1.unionByName(c2).unionByName(c3).unionByName(c4)
      .select(col("phase"), col("artifact"), col("n_rows"),
        col("checksum"))
  }

  /** Ingest ADMISSION PIPELINE (p187): the three gates a
    * training-data pipeline runs on every arriving batch, composed
    * into ONE admission record — near-dup against the frozen dedup
    * index (p182's gate), benchmark contamination against the frozen
    * eval postings (p185's gate), and the quality funnel (the
    * p61/p64/p09 gate expressions under the p81/p84 corpus profile)
    * — with one verdict per document under reject precedence
    * dup > contaminated > low-quality > admit. The base corpus
    * (doc_id % 7 ≠ 2) builds both frozen artifacts; the arrival
    * batch (doc_id % 7 = 2) flows through all three gates off its
    * own single scan (each gate broadcasts its frozen side). The
    * oracle replays every gate — capped band join, posting join,
    * all three quality gates — and the verdict precedence, so the
    * one-stop admission table is certified end to end.
    */
  def p187AdmissionPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs.filter(col("doc_id") % 7 =!= 2)
    val arrivals = docs.filter(col("doc_id") % 7 === 2)
    val dTmp = scratchDir(s, dir, "adm_dedup")
    val eTmp = scratchDir(s, dir, "adm_eval")
    Dedup.exportDedupIndex(base, "doc_id", "text", k = 3,
      numHashes = 12, bands = 6, dTmp)
    Curation.exportEvalIndex(base.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", k = 3, eTmp)
    val dup = Dedup.ingestDedupCheck(s, dTmp, arrivals, "doc_id",
      "text", k = 3, numHashes = 12, bands = 6, minAgree = 8)
      .select(col("doc_id"), col("n_agree"), col("is_dup"))
    val cont = Curation.ingestContaminationCheck(s, eTmp, arrivals,
      "doc_id", "text", k = 3, minShared = 2)
      .select(col("doc_id"), col("n_shared"), col("is_contaminated"))
    val qual = Curation.funnelLabels(arrivals, "doc_id", "text",
      profile = Curation.GateProfile.wordSalad)
      .select(col("doc_id"), col("cls"))
    dup.join(cont, "doc_id").join(qual, "doc_id")
      .select(col("doc_id"), col("n_agree"), col("n_shared"),
        col("cls").as("quality_keep"),
        when(col("is_dup") === 1, "reject_dup")
          .when(col("is_contaminated") === 1, "reject_contaminated")
          .when(col("cls") === 0, "reject_quality")
          .otherwise("admit").as("verdict"))
  }

  /** Image ingest gate from frozen artifacts (p188): the MULTIMODAL
    * member of the ingest-gate family — the admitted corpus's
    * perceptual dHashes frozen as a banded Hamming index
    * ([[Dedup.exportHammingIndex]]: 64-bit hashes + segment bands,
    * never payload bytes), and an arriving image batch gated against
    * it ([[Dedup.ingestHammingCheck]]). The fixture is p77's
    * real-codec plant flipped into an ingest story: the ADMITTED side
    * is every even doc's 9×8 pattern through the REAL PNG writer; the
    * ARRIVING side is the odd docs' re-encodes of the SAME patterns
    * through the REAL JPEG writer — an arrival is flagged iff the
    * decoder genuinely recovers the raster from both codecs, and its
    * match is exactly its partner (distinct patterns sit ~32 bits
    * apart). The oracle is therefore the closed-form partner list:
    * odd doc n matches even doc n−1 when it exists — a stubbed
    * decode, a broken band join, or a hash drift breaks the compare.
    */
  def p188ImageIngestGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    def src(parity: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === parity)
      .select(col("doc_id"), floor(col("doc_id") / 2).cast("long"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Long)]
    val admitted = Multimodal.encodePattern(src(0), "png")
    val arrivals = Multimodal.encodePattern(src(1), "jpg")
    val tmp = scratchDir(s, dir, "image_index")
    val aH = Multimodal.dHash(admitted.map(e =>
      Multimodal.MediaRow(e.media_id, e.png, "image/*"))).toDF()
    Dedup.exportHammingIndex(aH, "media_id", "dhash", bits = 64,
      segments = 4, tmp)
    val bH = Multimodal.dHash(arrivals.map(e =>
      Multimodal.MediaRow(e.media_id, e.png, "image/*"))).toDF()
    Dedup.ingestHammingCheck(s, tmp, bH, "media_id", "dhash",
      bits = 64, segments = 4, maxHamming = 3)
  }

  def p178IndexExport(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val tmp = scratchDir(s, dir, "serving_index")
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, tmp)
    Similarity.certifyServingIndex(s, tmp)
  }

  /** Drifted sibling of [[clusteredEmbeddings]] for the p189 card:
    * the same 32-cluster two-level closed form with a DIFFERENT
    * center salt per stage — an arriving distribution the frozen
    * quantizer was never trained on (centers land elsewhere in the
    * ±1000 cube). A quarter of the corpus per stage
    * (`vec_id % 4 = stage`), ids shifted past the base mass, cluster
    * and noise derived from the SHIFTED id so the oracle rebuilds
    * identical vectors from the id alone.
    */
  private[queries] def driftedEmbeddings(s: SparkSession, dir: String,
      stage: Int): DataFrame =
    t(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .filter(pmod(col("vec_id"), lit(4)) === stage)
      .select((col("vec_id") + lit(stage * 1000000L)).as("vec_id"))
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)), d =>
          ((TF.hash60(concat(lit(s"dc$stage"),
              pmod(col("vec_id"), lit(32)).cast("string"),
              lit("_"), d.cast("string"))) % 2001 - 1000)
            + (TF.hash60(concat(lit(s"dn$stage"),
              col("vec_id").cast("string"),
              lit("_"), d.cast("string"))) % 21 - 10))
            .cast("float")).as("embedding"))

  /** Quantizer-drift card (p189): the operational signal a FROZEN
    * serving index uses to schedule re-training — the question
    * p178/p181/p183/p186 leave open. [[Similarity.appendServingIndex]]
    * deliberately never re-trains (stored codes stay valid), so as
    * appended mass drifts away from the training distribution its
    * codes degrade. The card measures that degradation from the
    * SERVED artifacts at growing delta fractions: export over the
    * clustered fixture, then two appends of drift-shifted quarters
    * ([[driftedEmbeddings]] — same structure, different centers), and
    * per (stage, mass) one row with
    *
    *  - `recon_err`: mean squared reconstruction error of the mass's
    *    stored codes against its true vectors (per-vector floor, so
    *    the distributed sum is order-free integer math) — FAISS's
    *    re-train criterion, stable at any SF;
    *  - `recall_micro`: served ADC recall@3 against the exact
    *    ranking over the union (the asked-for view; raw-PQ code ties
    *    resolve by id, which is exactly the discrimination loss the
    *    drifted mass suffers first);
    *  - `retrain_recommended`: 1 when the mass's reconstruction
    *    error exceeds 4× the export-time base error — drifted
    *    appends trip it, base mass never does.
    *
    * Scale shape: the artifacts serve every measurement (centroids/
    * codebook fold into literals; codes scan cell-pruned); exact
    * truth is one broadcast-join scan per mass; nothing all-pairs.
    */
  def p189QuantizerDrift(s: SparkSession, dir: String): DataFrame = {
    // the closed-form fixtures are ~130 md5 calls per row and feed
    // every export/append/measurement below — materialize each once
    val base = clusteredEmbeddings(s, dir).localCheckpoint(true)
    val tmp = scratchDir(s, dir, "quantizer_drift")
    // 32 codebook entries — one per base cluster — so the trained
    // quantizer is TIGHT on its training distribution (base recon
    // error ~ the ±10 jitter mass) and the drifted mass's stale-code
    // error stands out by orders of magnitude; with 8 entries the
    // base error is itself center-sized and drift disappears into it
    Similarity.exportServingIndex(base, "vec_id", "embedding",
      coarseFilter = col("vec_id") < 32, pqFilter = col("vec_id") < 32,
      m = 4, dim = 64, tmp)
    val d1 = driftedEmbeddings(s, dir, 1).localCheckpoint(true)
    val d2 = driftedEmbeddings(s, dir, 2).localCheckpoint(true)
    def measure(stage: String, mass: String, union: DataFrame,
        massDf: DataFrame, queries: DataFrame): DataFrame = {
      val served = Similarity.ivfPqTopKFromArtifacts(s, tmp, queries,
          "vec_id", "embedding", m = 4, dim = 64, k = 3, nprobe = 2)
        .select(col("query_id"), col("cand_id"))
      val exact = Similarity.topK(union, queries, "vec_id",
          "embedding", 3)
        .select(col("query_id"), col("cand_id"))
      val recall = served.join(exact, Seq("query_id", "cand_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(exact.agg(count(lit(1)).as("n_truth")))
      val err = Similarity.reconstructionError(s, tmp, massDf,
        "vec_id", "embedding", m = 4, dim = 64)
      recall.crossJoin(err)
        .select(lit(stage).as("stage"), lit(mass).as("mass"),
          col("n_vecs"), col("recon_err"), col("n_hits"),
          col("n_truth"),
          floor(col("n_hits") * lit(1e6) / col("n_truth"))
            .cast("long").as("recall_micro"))
    }
    val baseQ = base.filter(col("vec_id") < 16)
    val deltaQ = d1.filter(col("vec_id") < 1000064L)
    val s0 = measure("0_export", "base", base, base, baseQ)
      .localCheckpoint()
    Similarity.appendServingIndex(s, tmp, d1, "vec_id", "embedding",
      m = 4, dim = 64)
    val u1 = base.unionByName(d1)
    // the two per-stage masses are measured against the SAME frozen
    // artifacts with no mutual ordering — materialize them
    // concurrently (guide §2.6) instead of serializing two multi-job
    // measurement pipelines
    val Seq(s1b, s1d) = graft.core.Caching.checkpointAllParallel(Seq(
      measure("1_append25", "base", u1, base, baseQ),
      measure("1_append25", "delta", u1, d1, deltaQ)))
    Similarity.appendServingIndex(s, tmp, d2, "vec_id", "embedding",
      m = 4, dim = 64)
    val u2 = u1.unionByName(d2)
    val Seq(s2b, s2d) = graft.core.Caching.checkpointAllParallel(Seq(
      measure("2_append50", "base", u2, base, baseQ),
      measure("2_append50", "delta", u2, d1.unionByName(d2),
        deltaQ)))
    val rows = s0.unionByName(s1b).unionByName(s1d).unionByName(s2b)
      .unionByName(s2d)
    val ref = broadcast(s0.select(col("recon_err").as("__ref")))
    rows.crossJoin(ref)
      .select(col("stage"), col("mass"), col("n_vecs"),
        col("recon_err"), col("n_hits"), col("n_truth"),
        col("recall_micro"),
        (col("recon_err") > col("__ref") * lit(4L)).cast("long")
          .as("retrain_recommended"))
  }

  /** Passage retrieval card (p177): the MaxP evidence-aggregation
    * pattern (Dai & Callan 2019) over p176's chunks — documents
    * ranked by their BEST chunk's BM25 score versus whole-document
    * BM25, both scored on the planted self-retrieval relevance
    * through the p130 scorecard. The chunk index scores 32-token
    * passages, so a short query's match isn't diluted by document
    * length — the reason RAG stacks retrieve passages and aggregate
    * to documents.
    *
    * The corpus is the LONG-DOCUMENT fixture Dai & Callan's claim is
    * actually about ([[longDocFixture]]): each document carries its
    * partner's tokens scattered through inert filler before its own
    * contiguous text, so whole-document bag-of-words BM25 faces a
    * built-in false positive per query (scattered matches score like
    * contiguous ones) while the chunk index sees the padding
    * fragmented across windows. Queries are the first EIGHT tokens of
    * the unpadded text (not the 4-token [[Retrieval.plantedQueries]]
    * standard): an 8-term span is distinctive enough for
    * self-retrieval to be feasible at 5000 documents, and its
    * interleaved echo spans 50 positions — wider than one 32-token
    * window — so no distractor chunk can contain the whole span.
    * Measured: chunk_maxp beats doc_bm25 on every scorecard metric at
    * BOTH SFs (MRR ~18× / hits 61 vs 7 of 125 at sf0.01; MRR ~3.6× /
    * hits 14 vs 5 at sf0.1) — the separation the r12 short-document
    * card honestly couldn't show. Chunk ids pack
    * (doc, seq) as doc_id·10⁴ + seq
    * with an in-plan overflow guard (a 10⁴-chunk document is a
    * ~240k-token outlier a pipeline should reject loudly). The
    * oracle replays the padding, chunking, BOTH index builds, the
    * MaxP rollup, and both scorecard rows.
    */
  def p177PassageRetrieval(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    // the padded fixture is a self-join that shuffles the 7×-padded
    // text (SortMergeJoin — correct shape at scale), and SIX subtrees
    // below consume it (doc hits, doc lengths, doc stats, chunk hits,
    // chunk lengths, chunk stats): cache-bracket it for the duration
    // of the card so the join runs once (guide §7.2 duplicated
    // subtrees; measured ~119 MB of padded-text shuffle per
    // re-evaluation). The bracket closes deterministically — the
    // inner rankings checkpoint eagerly against the cached fixture.
    val docs = longDocFixture(base)
    graft.core.Caching.withCached(docs)(
      p177Body(s, dir, base, docs))
  }

  private def p177Body(s: SparkSession, dir: String, base: DataFrame,
      docs: DataFrame): DataFrame = {
    val queries = Retrieval.plantedSample(base, "doc_id")
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TF.tokens(col("text")), 1, 8)).as("qtext"))
    // tokens-path chunk index: the chunker hands over token ARRAYS
    // (chunk_toks) and the index consumes them directly —
    // re-tokenizing the re-joined chunk_text is a per-row identity
    // round trip (whitespace split of a whitespace join) that cost a
    // concat_ws + two splits per chunk (guide §1.2 step 2)
    val chunks = Curation.chunkDocumentsToks(docs, "doc_id", "text",
      chunkToks = 32, strideToks = 24)
      .select(
        when(col("chunk_seq") >= 10000L,
          raise_error(concat(lit("p177: document "),
            col("doc_id").cast("string"),
            lit(" exceeds 10^4 chunks — widen the chunk-id packing"))))
          .otherwise(col("doc_id") * 10000L + col("chunk_seq"))
          .as("chunk_id"),
        col("chunk_toks"))
    val docRank = Retrieval.bm25TopK(docs, "doc_id", "text", queries,
      "query_id", "qtext", k = 10)
    // the passage pool is WIDER than the final doc ranking (30 chunks
    // -> top-10 docs): overlapping windows mean one document can
    // occupy several top slots, and a 10-chunk pool can crowd the
    // relevant document out entirely before the MaxP rollup dedupes
    val chunkRank = Retrieval.bm25fTopK(chunks, "chunk_id",
      Seq(col("chunk_toks") -> 1L), queries, "query_id", "qtext", k = 30)
    val maxp = chunkRank
      .select(col("query_id"),
        call_function("div", col("doc_id"), lit(10000L)).as("doc_id"),
        col("score_micro"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("score_micro")).as("best_micro"))
      .withColumn("rank", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("best_micro").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"))
    Retrieval.rankingScorecard(docRank, "doc_bm25", topK = 10)
      .unionByName(
        Retrieval.rankingScorecard(maxp, "chunk_maxp", topK = 10))
  }

  /** Release diff card (p175): the change log between two corpus
    * releases ([[Curation.releaseDiff]] — per (source, status ∈
    * added/removed/modified/unchanged), doc counts and token mass
    * both sides). Release 2 is derived deterministically from the
    * corpus: every doc_id % 7 == 2 removed, % 7 == 3 gets its text
    * amended, and % 7 == 4 additionally ships a NEW document (id
    * offset past the in-plan max id, so new ids never collide with
    * real ones at any corpus size). One full-outer id join + rollup;
    * "modified" keys on the
    * content fingerprint, so a whitespace-only change doesn't count.
    * The oracle replays release construction, the fingerprint
    * comparison, and the rollup.
    */
  /** Release sign-off composite (p180): the ONE long-format table a
    * release manager reads before committing a corpus release — every
    * row is (section, item, metric, value):
    *
    *  - `dedup_impact`: p107's cluster-size buckets (what min-id
    *    canonicalization removes),
    *  - `threshold_sweep`: qualifying pair counts at the p125
    *    thresholds (how sensitive the cut is),
    *  - `source_dup`: p151's per-source dup triage,
    *  - `retrieval`: p156's full-vs-deduped BM25 scorecard (what the
    *    cut costs/buys downstream),
    *  - `release_diff`: p175's version change log.
    *
    * The sharing discipline (p130's): the expensive near-dup PAIR set
    * and its transitive-closure DECISIONS materialize exactly ONCE
    * and feed the first four sections — standalone, those queries
    * each rebuild both. Values are bit-identical to the standalone
    * cards; the oracle certifies that by replaying each section
    * through the standalone oracles, melted to the same long format.
    */
  def p180ReleaseSignoff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def melt(df: DataFrame, section: String,
        item: org.apache.spark.sql.Column,
        metrics: Seq[String]): DataFrame =
      df.select(lit(section).as("section"),
          item.cast("string").as("item"),
          explode(map(metrics.flatMap(m =>
            Seq(lit(m), col(m).cast("long"))): _*)).as(Seq("metric", "value")))
    val pairs0 = ArtifactStore.ngramJaccardPairs(docs, "doc_id", "text", k = 4,
      threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    val parts = graft.core.Caching.withCachedMulti(pairs0) {
      val dec0 = ArtifactStore.dedupDecisions(docs, "doc_id", "text",
        k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
      graft.core.Caching.withCachedMulti(dec0) {
        val toks = docs.select(col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("n_toks"))
        // p107's bucket rollup, off the shared decisions
        val impact = dec0.join(toks, col("node") === col("doc_id"))
          .groupBy(col("component"))
          .agg(count(lit(1)).as("cluster_size"),
            sum(when(col("keep") === 0, col("n_toks")).otherwise(0L))
              .as("toks_removed"))
          .withColumn("bucket",
            when(col("cluster_size") === 2, "2")
              .when(col("cluster_size") <= 4, "3-4")
              .when(col("cluster_size") <= 8, "5-8")
              .otherwise("9+"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("cluster_size")).as("n_docs"),
            sum(col("cluster_size") - 1).as("n_docs_removed"),
            sum(col("toks_removed")).as("toks_removed"))
        // pair counts at the p125 thresholds, off the shared pairs
        val sweep = Seq(40, 90, 96, 98).map { tPct =>
          pairs0.filter(col("jaccard_micro") >= tPct * 10000L)
            .agg(count(lit(1)).as("n_pairs"))
            .select(lit(tPct.toLong).as("threshold_pct"), col("n_pairs"))
        }.reduce(_.unionByName(_))
        // p151's per-source triage, off the shared decisions
        val bySource = docs.select(col("doc_id"), col("source"),
            size(TF.tokens(col("text"))).cast("long").as("n_toks"))
          .join(dec0.select(col("node").as("doc_id"), col("keep")),
            Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep").isNotNull, 1L).otherwise(0L))
              .as("n_clustered"),
            sum(when(col("keep") === 0, 1L).otherwise(0L)).as("n_dropped"),
            sum(when(col("keep") === 0, col("n_toks")).otherwise(0L))
              .as("toks_dropped"))
          .withColumn("dup_rate_micro", call_function("div",
            col("n_clustered") * lit(1000000L), col("n_docs")))
        // p156's retrieval impact, drop set off the shared decisions;
        // one postings build serves both cards (see
        // [[Retrieval.bm25DedupImpactCards]])
        val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
        val dropped = dec0.filter(col("keep") === 0)
          .select(col("node").as("doc_id"))
        val retrieval = Retrieval.bm25DedupImpactCards(docs, "doc_id",
          "text", queries, "query_id", "qtext", dropped, k = 10)
        Seq(
          melt(impact, "dedup_impact", col("bucket"),
            Seq("n_clusters", "n_docs", "n_docs_removed", "toks_removed")),
          melt(sweep, "threshold_sweep", col("threshold_pct"),
            Seq("n_pairs")),
          melt(bySource, "source_dup", col("source"),
            Seq("n_docs", "n_clustered", "n_dropped", "toks_dropped",
              "dup_rate_micro")),
          melt(retrieval, "retrieval", col("method"),
            Seq("n_queries", "n_hits", "mrr_micro", "ndcg_micro")))
      }
    }
    val releaseDiff = melt(p175ReleaseDiff(s, dir), "release_diff",
      concat(col("source"), lit("|"), col("status")),
      Seq("n_docs", "n_toks_old", "n_toks_new"))
    (parts :+ releaseDiff).reduce(_.unionByName(_))
  }

  def p175ReleaseDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // new-document ids sit PAST the in-plan max(doc_id) (single-row
    // broadcast): a fixed +10^6 offset would collide with real ids at
    // corpora of a million documents, duplicating full-outer join keys
    val mx = broadcast(docs.agg(max(col("doc_id")).as("__max_id")))
    val rel2 = docs.filter(col("doc_id") % 7 =!= 2)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" release2 amendment")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 4).crossJoin(mx)
        .select(col("doc_id") + col("__max_id") + lit(1L), col("source"),
          concat(col("text"), lit(" brand new document")).as("text"))
        .toDF("doc_id", "source", "text"))
    Curation.releaseDiff(docs, rel2, "doc_id", "text", "source")
  }

  /** Incremental shard-file release (p174): the end of the
    * incremental-release chain (bloom admission p47 → manifest append
    * p172 → THIS): the base corpus is materialized as ordered shard
    * files, the appended delta extends the directory through
    * [[graft.pipeline.Shards.writeAppend]] — dynamic partition
    * overwrite rewrites ONLY the chunks at or past the delta's first
    * chunk, so an appended release costs O(Δ + one boundary chunk),
    * never a corpus rewrite — and the whole directory is read back
    * and certified exactly as p171 certifies a full write (per-shard
    * counts, the order-covering checksum, the physical-order
    * inversion audit pinned at 0). The oracle replays the append
    * manifest and the checksum rollup from the source parquet, so a
    * stale boundary chunk, a lost base row, or a misplaced delta row
    * hash-mismatches.
    */
  def p174ShardAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (delta, appended) = appendFixture(s, dir)
    val tmp = scratchDir(s, dir, "shard_append")
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    // the committed base release...
    graft.pipeline.Shards.write(base, "doc_id", "text",
      appended.join(base.select("doc_id"), Seq("doc_id"), "left_semi"),
      tmp)
    // ...extended in place by the delta batch
    graft.pipeline.Shards.writeAppend(docs, "doc_id", "text", appended,
      appended.join(delta.select("doc_id"), Seq("doc_id"), "left_semi"),
      tmp)
    graft.pipeline.Shards.certify(s, tmp)
  }

  /** Shard mixture audit (p165): the QA card over the p163 manifest —
    * per (shard, domain): document and token counts, the shard's
    * observed domain share, the target share from the same p50
    * weights, and the absolute deviation, all in integer micro. The
    * card that PROVES the stride interleave delivers the mixture at
    * shard granularity (not just in a spec): deviations stay O(1/shard
    * size) on every full shard. One rollup exchange over the manifest;
    * the oracle replays manifest + rollup + the integer share
    * arithmetic.
    */
  def p165ShardMix(s: SparkSession, dir: String): DataFrame = {
    val manifest = p163MixInterleave(s, dir)
    val w = p50TempMix(s, dir)
      .select(col("source"), col("p_micro").as("w"))
    val totalW = w.agg(sum(col("w")).as("tw"))
    // ONE manifest pass: the per-(shard, source) rollup is computed
    // first and the shard totals derive from IT (counts are additive
    // over sources), so the whole mixture-interleave subtree is no
    // longer evaluated twice — r15 measure-first: the duplicated
    // manifest plan was most of this card's depth. shardTotals stays
    // shard-count-sized (unbounded at 100 TB), so it joins co-keyed
    // on chunk_idx with an explicit merge hint (never broadcast,
    // whatever the planner estimates at test SF); the domain-sized
    // weight frames do broadcast.
    val perShardSource = manifest
      .groupBy(col("chunk_idx"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
    val shardTotals = perShardSource.groupBy("chunk_idx")
      .agg(sum(col("n_docs")).as("shard_docs"))
    perShardSource
      .join(shardTotals.hint("merge"), Seq("chunk_idx"))
      .join(broadcast(w), Seq("source"))
      .crossJoin(broadcast(totalW))
      .select(col("chunk_idx"), col("source"), col("n_docs"),
        col("n_toks"),
        expr("n_docs * 1000000 div shard_docs").as("share_micro"),
        expr("w * 1000000 div tw").as("target_micro"),
        abs(expr("n_docs * 1000000 div shard_docs")
          - expr("w * 1000000 div tw")).as("abs_dev_micro"))
  }

  /** kNN label probe (p169): the standard embedding-quality
    * evaluation — leave-self-out 10-NN cosine classification over the
    * labeled embeddings, majority vote (ties to the smaller label),
    * per-class accuracy in integer micro. The first consumer of the
    * embeddings table's `label` column: a collapsing embedding space
    * shows up here as falling probe accuracy long before any
    * downstream model does.
    *
    * Scale shape: the probe is an EVALUATION CARD, so it needs
    * neither exhaustive truth nor a corpus-fraction query set — the
    * query side is an absolute ~256-row budget
    * ([[Retrieval.plantedSample]], stride in-plan from the corpus
    * count) and neighbors come through the IVF cell index
    * ([[Similarity.ivfTopKWith]], ~32 budget-strided seed centroids,
    * nprobe 2): assignment is N·C broadcast work and probing
    * shuffles on cell ids, so probe cost grows linearly with the
    * corpus where the old broadcast brute-force scan grew as N²/20
    * and its query broadcast grew with N (the p108 downgrade class).
    * The oracle replays assignment, probing, scoring, voting, and
    * the tie rule.
    */
  def p169KnnProbe(s: SparkSession, dir: String): DataFrame =
    knnProbeOver(t(s, dir, "embeddings"))

  /** The 10-NN vote-and-score chain shared by p169 (raw vectors) and
    * p170 (quantized vectors swapped in upstream).
    */
  private[queries] def knnProbeOver(emb: DataFrame): DataFrame = {
    val queries = Retrieval.plantedSample(emb, "vec_id", budget = 256)
    val cents = Retrieval.plantedSample(emb, "vec_id", budget = 32)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))
    val nn = Similarity.ivfTopKWith(emb, queries, "vec_id", "embedding",
      cents, k = 10, nprobe = 2)
    val pred = nn
      .join(emb.select(col("vec_id").as("cand_id"),
        col("label").as("nl")), Seq("cand_id"))
      .groupBy(col("query_id"), col("nl"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("votes"), (-col("nl")).as("negl"))).as("m"))
      .select(col("query_id"), (-col("m.negl")).as("pred"))
    pred
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), Seq("query_id"))
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("true_label"), col("n_queries"), col("n_correct"),
        expr("n_correct * 1000000 div n_queries").as("accuracy_micro"))
  }

  /** Quantization probe (p170): the p169 kNN label probe run on RAW
    * float vectors and on their int8 quantizations side by side — the
    * evaluation every compressed vector store needs: how much probe
    * accuracy does 4× memory/IO compression cost? Cosine is computed
    * DIRECTLY on the integer vectors (the per-vector scale cancels in
    * cosine, and |q| ≤ 127 is float-exact in both engines, so no
    * dequantization doubles enter the comparison). One row per
    * (method, class). The oracle replays quantization (floor —
    * engine-portable, unlike round), both scoring chains, and the
    * vote rule.
    */
  def p170QuantizationProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val int8 = emb.select(col("vec_id"),
      transform(
        Similarity.quantize(col("embedding"),
          Similarity.quantScale(col("embedding"))),
        x => x.cast("float")).as("embedding"),
      col("label"))
    knnProbeOver(emb).select(lit("raw").as("method"), col("*"))
      .unionByName(
        knnProbeOver(int8).select(lit("int8").as("method"), col("*")))
  }

  /** k-anonymity audit (p168): the re-identification-risk card a
    * privacy review runs BESIDE the PII scrubs (p38/p95 remove direct
    * identifiers; this measures the QUASI-identifier — Sweeney's
    * k-anonymity over each user's behavioral signature, the sorted
    * set of event types they emit). For every anonymity level k:
    * how many distinct signatures and users sit in classes of exactly
    * k users — the k=1 row is the population a linkage attack
    * re-identifies outright. Two map-side-combined exchanges (user
    * rollup, signature rollup) plus a k-sized rollup; signatures move
    * as strings of type names, never raw events. The oracle replays
    * the sorted-distinct signature and both rollups.
    */
  def p168KAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(concat_ws("|",
        sort_array(collect_set(col("event_type")))).as("sig"))
      .groupBy(col("sig")).agg(count(lit(1)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_signatures"),
        sum(col("k")).as("n_users"))

  /** JSONL round-trip (p167): export the documents table as
    * newline-delimited JSON ([[graft.pipeline.Jsonl]] — the corpus
    * interchange format every public release ships in), read it back
    * with an explicit schema, and aggregate per source — certifying
    * that text (with whatever quotes/newlines/unicode it carries)
    * survives JSON escaping bit-exactly, the same way q27 certifies
    * the CSV surface. The oracle aggregates the original parquet, so
    * any escaping loss hash-mismatches; zero malformed rows is
    * asserted in-plan (a corrupt line would change n_docs).
    */
  /** Scratch export dir keyed on a hash of the FULL corpus path plus
    * the Spark application id: two corpora sharing the same digits
    * (or two concurrent runs on the same SF) must not overwrite each
    * other's export mid-read. Driver-side path derivation only — no
    * query result ever sees it.
    */
  private[queries] val scratchNonce = new java.util.concurrent.atomic.AtomicLong()

  /** Per-INVOCATION scratch path: (tag, corpus dir, application) name
    * the workload; the nonce isolates concurrent or repeated
    * invocations of the same query inside one application (parallel
    * test/bench runs would otherwise interleave overwrite-while-read
    * on a shared /tmp path).
    */
  private[queries] def scratchDir(s: SparkSession, dir: String,
      tag: String): String = {
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
    s"/tmp/graft_${tag}_${dirKey}_" + s.sparkContext.applicationId +
      s"_n${scratchNonce.getAndIncrement()}"
  }

  /** Shard-file materialization (p171): the corpus WRITTEN as actual
    * training shards in p160's manifest order
    * ([[graft.pipeline.Shards.write]] — one JSONL directory per
    * 4096-token chunk, rows physically sorted by manifested offset),
    * then read back and certified: per shard, doc/token counts and
    * the order-covering checksum Σ hash60(fingerprint:chunk_off)
    * mod 2²⁸ recomputed FROM THE FILES, plus the physical-order
    * inversion count (structurally zero for a faithful write,
    * asserted by the oracle's literal). The oracle recomputes every
    * quantity from the source parquet, so any loss of membership,
    * content, offset, or row order in the written shards
    * hash-mismatches — the last mile between p160's manifest and the
    * files a trainer streams, certified the way p167 certifies the
    * flat JSONL surface.
    */
  def p171ShardFiles(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val man = Curation.globalShardManifest(docs, "doc_id", "text",
      shardToks = 4096L)
    val tmp = scratchDir(s, dir, "shard_files")
    graft.pipeline.Shards.write(docs, "doc_id", "text", man, tmp)
    graft.pipeline.Shards.certify(s, tmp)
  }

  def p167JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir(s, dir, "jsonl_roundtrip")
    graft.pipeline.Jsonl.write(
      t(s, dir, "documents").select(col("doc_id"), col("text"),
        col("lang"), col("source")), tmp)
    graft.pipeline.Jsonl.read(s, tmp,
        "doc_id LONG, text STRING, lang STRING, source STRING")
      .filter(col("_corrupt").isNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(size(TF.tokens(col("text"))).cast("long")).as("n_toks"))
  }

  /** Epoch decorrelation audit (p166): shared ordered-adjacent pairs
    * between the three epoch-salted shuffle orders
    * ([[Curation.epochDecorrelation]]) — proof the per-epoch reshuffle
    * actually decorrelates local data order (expected ~1 shared pair
    * by the birthday bound; a spike means every epoch replays the same
    * gradient neighborhoods). The oracle replays flat ROW_NUMBER +
    * LEAD per epoch and the pair intersections.
    */
  def p166EpochDecorrelation(s: SparkSession, dir: String): DataFrame =
    Curation.epochDecorrelation(t(s, dir, "documents"), "doc_id",
      epochs = 3)

  /** Contrastive crop pairs (p164): two deterministic pseudo-random
    * token crops per document ([[Curation.contrastiveCrops]],
    * Contriever's independent cropping) — the (anchor, positive)
    * training pairs beside p161's hard negatives, with the interval
    * overlap as the pair-difficulty signal. Zero-exchange per-row
    * projection; the oracle replays the hash draws, both slices, and
    * the interval arithmetic.
    */
  def p164CropPairs(s: SparkSession, dir: String): DataFrame =
    Curation.contrastiveCrops(t(s, dir, "documents"), "doc_id", "text",
      minToks = 8)

  /** Distinct-n diversity card (p162): per source, the distinct-1/2/3
    * positional n-gram ratios ([[Curation.distinctNgramCard]]) — the
    * Li et al. 2016 diversity metric as a per-source card; the
    * template-mill signal that survives when each individual document
    * looks fine. The oracle replays the gram explode and both counts
    * per order.
    */
  def p162DistinctN(s: SparkSession, dir: String): DataFrame =
    Curation.distinctNgramCard(t(s, dir, "documents"), "source",
      "text", ns = Seq(1, 2, 3))

  /** Source dup rates (p151): which sources are template mills —
    * per source, how many docs sit in a near-dup cluster (p04 pairs
    * closed by CC) and how many a min-id cut would drop, with the
    * dup token mass. The triage card that points the crawler team at
    * the polluted feed instead of the whole corpus. Exact integers;
    * the oracle replays the closure and the per-source rollup.
    */
  def p151SourceDupRates(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cc = ArtifactStore.dedupDecisions(docs, "doc_id", "text",
      k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    docs.select(col("doc_id"), col("source"),
        size(TF.tokens(col("text"))).cast("long").as("n_toks"))
      .join(cc.select(col("node").as("doc_id"), col("keep")),
        Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep").isNotNull, 1L).otherwise(0L))
          .as("n_clustered"),
        sum(when(col("keep") === 0, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("keep") === 0, col("n_toks")).otherwise(0L))
          .as("toks_dropped"))
      .withColumn("dup_rate_micro", call_function("div",
        col("n_clustered") * lit(1000000L), col("n_docs")))
  }

  /** Split leakage (p152): the dedup-before-split audit — near-dup
    * clusters (p04 pairs closed by CC) crossed with the p16
    * train/valid/test hash split; a cluster straddling two splits
    * leaks training text into evaluation. Reports, per split pair,
    * the straddling pair count, plus the cluster-level summary row
    * (`splits = 'ANY'`). The check every pretraining pipeline runs
    * AFTER splitting and BEFORE training. Exact integers; the oracle
    * replays the closure, the split hash, and both rollups.
    */
  def p152SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = ArtifactStore.ngramJaccardPairs(docs, "doc_id", "text", k = 4,
        threshold = 0.4, maxShingleFreqFrac = Some(0.1))
      .select(col("doc_a"), col("doc_b"))
    val split = docs.select(col("doc_id"),
      (TF.hash60(concat(lit("split"), col("doc_id").cast("string")))
        % 100).as("h"))
      .select(col("doc_id"),
        when(col("h") < 80, "train").when(col("h") < 90, "valid")
          .otherwise("test").as("split"))
    val sp = pairs
      .join(split.select(col("doc_id").as("doc_a"),
        col("split").as("sa")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"),
        col("split").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("s1"),
        greatest(col("sa"), col("sb")).as("s2"))
    val byPair = sp.groupBy("s1", "s2")
      .agg(count(lit(1)).as("n"))
      .select(concat(col("s1"), lit("|"), col("s2")).as("bucket"),
        col("n"))
    val cc = ArtifactStore.dedupDecisions(docs, "doc_id", "text",
      k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    val summary = cc.join(split.select(col("doc_id").as("node"),
        col("split")), Seq("node"))
      .groupBy("component")
      .agg(countDistinct(col("split")).as("n_splits"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(when(col("n_splits") > 1, 1L).otherwise(0L))
          .as("n_straddling"))
    byPair.unionByName(summary.select(explode(array(
        struct(lit("clusters_total").as("bucket"),
          col("n_clusters").as("n")),
        struct(lit("clusters_straddling").as("bucket"),
          col("n_straddling").as("n")))).as("r"))
      .select(col("r.bucket"), col("r.n")))
  }

  /** Rate spikes (p150): robust event-rate anomaly detection over the
    * ingest telemetry ([[graft.operators.Sessionize.rateSpikes]]) —
    * hourly counts per event type flagged beyond median + 3·MAD of
    * that type's history, both medians exact inverted-CDF order
    * statistics. The monitor that catches a scraper gone hot or a
    * retry storm before it poisons the corpus. The oracle replays the
    * hourly counts, both medians, and the flag.
    */
  def p150RateSpikes(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.rateSpikes(Tables.events(s, dir), "ts",
      "event_type")

  /** Survivor policies (p149): close the p04 near-dup pairs into
    * clusters and compare the three survivor rules side by side
    * ([[Dedup.survivorPolicyCard]]) — min-id (reproducible default),
    * keep-longest (text-preserving), keep-best-quality
    * (training-value) — reporting dropped docs, token mass removed,
    * survivor quality mass, and how many clusters change survivor vs
    * min-id. The decision card before committing a dedup cut. The
    * oracle replays the closure, the three per-cluster argmaxes, and
    * every rollup.
    */
  def p149SurvivorPolicies(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = ArtifactStore.ngramJaccardPairs(docs, "doc_id", "text", k = 4,
      threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    Dedup.survivorPolicyCard(scoredDocs(docs), "doc_id", "n_toks",
      "score_micro", pairs)
  }

  /** HDR quantiles (p148): the quantile member of the audited-sketch
    * triad ([[Curation.hdrQuantileCalibration]], p=3 → ≤12.5%
    * relative error) — doc-length p50/p90/p99 from HdrHistogram-style
    * log buckets beside the exact inverted-CDF percentiles, with
    * `est ≥ exact` a hard invariant. Fully integer (comparison-chain
    * log2, exact shifts); the oracle replays buckets, cumulative
    * sums, and thresholds.
    */
  def p148HdrQuantiles(s: SparkSession, dir: String): DataFrame =
    Curation.hdrQuantileCalibration(t(s, dir, "documents"), "doc_id",
      "text")

  /** Vocabulary growth (p147): the Heaps-law card — types, token
    * occurrences, and type/token ratio over hash-nested random
    * subcorpora at 1..16 sixteenths ([[Curation.vocabGrowth]]) — the
    * curve that sizes a tokenizer vocabulary and flags saturated
    * template corpora. The oracle replays the bucket hash, the
    * per-token min bucket, and every checkpoint sum.
    */
  def p147VocabGrowth(s: SparkSession, dir: String): DataFrame =
    Curation.vocabGrowth(t(s, dir, "documents"), "doc_id", "text")

  /** Bootstrap CI (p146): Efron percentile confidence interval for
    * BM25's MRR on the planted relevance
    * ([[Retrieval.bootstrapMrrCi]], 200 portable-hash resamples) —
    * the error bar that says how much to trust a 13-query scorecard
    * number, companion to the p136 significance test. The oracle
    * replays every resample draw and both order statistics.
    */
  def p146BootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val ranked = Retrieval.bm25TopK(docs, "doc_id", "text", queries,
      "query_id", "qtext", k = 10)
    Retrieval.bootstrapMrrCi(ranked, queries.select(col("query_id")),
      "bm25", nBoot = 200, salt = "boot")
  }

  /** Packing efficiency (p145): per-source chunk bill of
    * concat-and-chunk packing vs naive pad-per-doc at 2048 tokens
    * ([[Curation.packingEfficiency]]) — the audit card that turns the
    * p32 packing choice into a number (saved chunks = saved GPU
    * hours). Exact integer ceilings and the portable floor-division.
    */
  def p145PackingEfficiency(s: SparkSession, dir: String): DataFrame =
    Curation.packingEfficiency(t(s, dir, "documents"), "source", "text",
      chunkToks = 2048L)

  /** PMI query expansion (p144): BM25 with each query term's top-PMI
    * right-collocate added at half weight
    * ([[Retrieval.bm25PlainAndPmiExpanded]], expansion source = the p116
    * top-100 collocation table), graded beside flat BM25 on the
    * planted-prefix relevance set — the scorecard answer to "does
    * automatic thesaurus expansion help or hurt on this corpus". One
    * row per method. On the synthetic corpus the card shows the
    * CLASSIC query-drift failure (the reason IR moved from thesaurus
    * expansion to weighted PRF): min-count-5 PMI favors RARE pairs,
    * so expansion terms carry far higher idf than the common prefix
    * terms they ride along with, and documents holding the collocate
    * leapfrog the source doc (MRR 0.136 → 0 at sf0.01, source docs
    * landing at ranks 17–216) — a regression in either direction
    * moves the card, which is the point. The oracle replays the PMI
    * table, the top-1 collocate window, the weighted score, and both
    * scorecards.
    */
  def p144PmiExpansion(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val coll = Curation.pmiCollocations(docs, "doc_id", "text",
      minCount = 5L, topK = 100)
    // ONE pruned candidate-hit frame feeds both rankers (the lazy
    // composition re-tokenized the corpus per ranker; the r15 interim
    // shared the FULL postings build — now neither ranker ever builds
    // full-vocabulary postings, guide §2.3/§2.4)
    val shared = Retrieval.bm25PlainAndPmiExpanded(docs, "doc_id",
      "text", queries, "query_id", "qtext", coll, k = 10)
    Retrieval.rankingScorecard(shared(0), "bm25", 10)
      .unionByName(Retrieval.rankingScorecard(shared(1), "bm25_pmi", 10))
  }

  /** Feature selection (p143): per-token χ² association between token
    * presence and the funnel label ([[Curation.chiSquareFeatures]],
    * wordSalad profile as p81/p117/p139), top-50 — which surface
    * features the weak labels key on, and the order a trimmed-vocab
    * classifier should admit tokens in. Pure rational arithmetic (no
    * libm): cells and both χ² factors exact int64, one fixed-order
    * IEEE double ratio at the end. The oracle replays the funnel, the
    * presence counts, and the same op order.
    */
  def p143ChiSquare(s: SparkSession, dir: String): DataFrame =
    Curation.chiSquareFeatures(t(s, dir, "documents"), "doc_id", "text",
      topK = 50, profile = Curation.GateProfile.wordSalad)

  /** Detector agreement (p142): Adjusted Rand Index
    * ([[graft.operators.RandIndex]]) between the two text near-dup
    * detectors' dedup partitions — 4-gram-Jaccard connected
    * components (p37) vs SimHash components (p03 pairs closed the
    * same way), with every unclustered doc a singleton. The
    * partition-level answer to "would swapping detectors change the
    * dedup decisions", chance-corrected; ARI 10⁶ = identical
    * partitions, 0 = chance. The oracle replays both exhaustive pair
    * scans, both recursive closures, and the exact pair-count sums.
    */
  def p142DetectorAgreement(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ids = docs.select(col("doc_id"))
    def partition(pairs: DataFrame): DataFrame = {
      val cc = graft.operators.ConnectedComponents.components(
        pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      ids.join(cc, ids("doc_id") === cc("node"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster"))
    }
    val pa = partition(ArtifactStore.ngramJaccardPairs(docs, "doc_id", "text",
      k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1)))
    val pb = partition(ArtifactStore.simhashPairs(docs, "doc_id", "text",
      bits = 64, segments = 4, maxHamming = 2))
    graft.operators.RandIndex.adjustedRand(pa, "doc_id", "cluster",
      pb, "doc_id", "cluster")
  }

  /** Near-dup clique structure (p141): degree-ordered triangle
    * counting ([[graft.operators.Triangles]]) over the p04/p138
    * near-dup graph — a high-triangle neighborhood is a mutual-copy
    * template family (every member resembles every other: safe to
    * collapse to one survivor), a zero-triangle star is one hub doc
    * with many unrelated partial overlaps (the shape to review before
    * a cut). One row per non-isolated doc: (doc_id, degree,
    * tri_count). The oracle replays the exhaustive pair scan, the
    * (degree, id) orientation, and the wedge-close joins.
    */
  def p141Triangles(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = ArtifactStore.ngramJaccardPairs(docs, "doc_id", "text", k = 4,
      threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    graft.operators.Triangles.perNode(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("degree"), col("tri_count"))
  }

  /** Clustering quality (p140): the elbow card — exact-integer
    * inertia, mean simplified silhouette, and occupied-cell count for
    * three k-means fits of the embedding corpus at k ≈ n/50, n/25,
    * n/10 ([[Similarity.clusterQualityCard]], 2 Lloyd rounds each) —
    * the card a curator reads before committing a semantic-dedup or
    * domain-clustering k. The oracle refits all three k-means chains
    * and replays the integer metrics bit-for-bit.
    */
  def p140ClusterQuality(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterQualityCard(t(s, dir, "embeddings"), "vec_id",
      "embedding", moduli = Seq(50, 25, 10), iters = 2)

  /** WordPiece encode (p137): tokenize the corpus with the p118
    * WordPiece-trained merge table — completing the train+encode
    * matrix across all three tokenizer families (BPE p71/p75, unigram
    * p87/p88, WordPiece p118/p137). Encoding is the same broadcast
    * dictionary join as BPE's ([[Bpe.encodeWith]]), against the
    * [[ArtifactStore.wordPiece]]-registered artifact (trained
    * once per session, never per consumer); the oracle replays
    * the training trajectory with the likelihood-ratio winner and
    * joins the final segmentation back to every word position.
    */
  def p137WordpieceEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (_, vocab) = ArtifactStore.wordPiece(docs, "text", nMerges = 100)
    Bpe.encodeWith(docs, "doc_id", "text", vocab)
  }

  def p136Significance(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val qIds = Retrieval.plantedSample(docs, "doc_id")
      .select(col("doc_id").as("query_id"))
    val ranked = sharedRankings(s, dir).toMap
    // Each per-query nDCG frame is |Q| rows of two integers; pin each
    // ONCE (localCheckpoint) before the four comparison branches.
    // Lazily composed, the union re-evaluated `base`'s whole bm25f
    // index build once PER BRANCH (4x) and the prf/rrf subtrees once
    // per use — measured 20.4s -> the ranker work exactly once
    // (guide §7.2: duplicated subtrees; §5: checkpoint tiny reused
    // frames). Values are unchanged: same frames, computed once.
    val methods = ranked.keys.toSeq
    val metric = methods.zip(graft.core.Caching.checkpointAllParallel(
      methods.map(m =>
        Retrieval.perQueryNdcg(ranked(m), qIds, topK = 10)))).toMap
    val base = metric("bm25f")
      .select(col("query_id"), col("m").as("m_a"))
    Seq("bm25", "ql", "prf", "rrf").map { meth =>
      val other = metric(meth)
        .select(col("query_id"), col("m").as("m_b"))
      Retrieval.pairedSignificance(base.join(other, Seq("query_id")),
        s"bm25f_vs_$meth", nPerms = 200, salt = "sig")
    }.reduce(_.unionByName(_))
  }

  /** Search snippets (p133): for each query's BM25 top-3 documents,
    * the 8-token window holding the most query-term occurrences
    * ([[Retrieval.snippets]]) — the display stage of the search
    * stack, and the purely positional consumer of the token sequence
    * (start positions, a range-frame window count, an integer
    * argmax). The oracle replays the candidate prune, the positional
    * match join, the window count, and the tie-broken argmax.
    */
  def p133Snippets(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val ranked = Retrieval.bm25TopK(docs, "doc_id", "text", queries,
      "query_id", "qtext", k = 10)
    Retrieval.snippets(docs, "doc_id", "text", ranked, queries,
      "query_id", "qtext", topDocs = 3, windowTokens = 8)
  }

  /** Proximity-boosted retrieval (p134): the p112 BM25 top-10
    * re-ranked with the pairwise term-proximity factor
    * ([[Retrieval.proximityRerank]]) — `10⁶ div (minPairDist + 4)`
    * for the closest pair of DISTINCT matched query terms, added to
    * the bm25 score; adjacent phrase-like occurrences float to the
    * top without requiring a verbatim phrase (the soft sibling of
    * p131's exact-phrase boost). The oracle replays the positional
    * pair scan and the integer combination.
    */
  def p134Proximity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    Retrieval.proximityRerank(docs, "doc_id", "text", queries,
      "query_id", "qtext", k = 10, k0 = 4)
  }

  /** Spell suggestion (p135): deterministic misspellings (second
    * character deleted from every 5th-by-hash frequent token) repaired
    * against the corpus vocabulary by exact Levenshtein over
    * char-bigram-index candidates ([[Retrieval.spellSuggest]]) — the
    * "did you mean" stage. The oracle rebuilds the probes, the bigram
    * index, and the tie-broken argmin with its own levenshtein.
    */
  def p135SpellSuggest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val probes = docs.select(explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 20 && length(col("tok")) >= 4 &&
        TF.hash60(col("tok")) % 5 === 0)
      .select(concat(substring(col("tok"), 1, 1),
        expr("substring(tok, 3)")).as("probe"))
      .distinct()
    Retrieval.spellSuggest(docs, "doc_id", "text", probes, "probe",
      minCount = 5, maxDist = 2)
  }

  /** Fielded BM25F retrieval (p132): the p112 queries ranked with the
    * simple-BM25F weighted-field index ([[Retrieval.bm25fIndex]]) —
    * title = the first 8 tokens at weight 3, body = the rest at
    * weight 1. The prefix queries live in the title region, so
    * up-weighting it sharpens the source-doc ranking (visible in the
    * p130 card's bm25f row). The oracle rebuilds the weighted
    * postings/lengths and replays the shared scoring formula.
    */
  def p132Bm25f(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = TF.tokens(col("text"))
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    Retrieval.bm25fTopK(docs, "doc_id",
      Seq((slice(toks, 1, 8), 3L),
        (slice(toks, lit(9), size(toks)), 1L)),
      queries, "query_id", "qtext", k = 10)
  }

  /** Phrase-boosted retrieval (p131): the p112 BM25 candidates
    * re-ranked with exact-phrase containment first
    * ([[Retrieval.phraseRerank]]) — each query is a verbatim 4-token
    * prefix of its source document, so the source doc (and any doc
    * quoting the same 4-gram) carries `phrase_hit = 1` and jumps the
    * bag-of-words ranking. The oracle replays the BM25 chain, the
    * 4-gram hash containment, and the re-rank window.
    */
  def p131PhraseRerank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    Retrieval.phraseRerank(docs, "doc_id", "text", queries, "query_id",
      "qtext", k = 10)
  }

  /** HyperLogLog calibration (p128): per-source 64-register HLL over
    * the 3-gram hash stream beside the exact distinct count
    * ([[Curation.hllCalibration]]) — constant-memory cardinality with
    * its error audited in place. The harmonic mean is an EXACT
    * integer sum (2⁵⁵-scaled), ρ comes from a comparison chain (no
    * floating log₂), so the oracle rebuilds the identical registers
    * and estimate.
    */
  def p128Hll(s: SparkSession, dir: String): DataFrame =
    Curation.hllCalibration(t(s, dir, "documents"), "doc_id", "text",
      "source", k = 3)

  /** Domain drift (p126): per-source KL divergence of the smoothed
    * unigram distribution from the corpus-wide mixture in integer
    * nano-nats ([[Curation.domainDrift]]) — the card that ranks
    * domains by vocabulary distinctiveness, the signal behind domain
    * weighting and snapshot drift monitors. The oracle replays the
    * count tables, the shared smoothing, and the per-term nano
    * floors.
    */
  def p126DomainDrift(s: SparkSession, dir: String): DataFrame =
    Curation.domainDrift(t(s, dir, "documents"), "doc_id", "text",
      "source")

  /** Dedup threshold sweep (p125): the tuning card a curation run
    * reads BEFORE committing a near-dup threshold — for J ∈ {0.40,
    * 0.90, 0.96, 0.98} (the planted pairs cluster above 0.88, so the
    * high band is where this corpus's curve bends), the surviving
    * pair count, cluster count, and
    * doc/token mass min-id canonicalization would remove. The
    * expensive work happens ONCE: the exact-scored pair set at the
    * loosest threshold (p04's proven-prune configuration) feeds every
    * row; per threshold only a filter + star-contraction closure over
    * the (tiny) qualifying edge set runs. The oracle replays the
    * exhaustive pair scan and FOUR recursive-CTE closures.
    */
  def p125DedupSweep(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = ArtifactStore.ngramJaccardPairs(docs, "doc_id", "text", k = 4,
      threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    val toks = docs.select(col("doc_id"),
      size(TF.tokens(col("text"))).cast("long").as("n_toks"))
    def row(tPct: Int): DataFrame = {
      val keep = pairs.filter(col("jaccard_micro") >= tPct * 10000L)
      val dec = ConnectedComponents.dedupDecisions(
        keep.select(col("doc_a").as("u"), col("doc_b").as("v")))
      dec.join(toks, col("node") === col("doc_id"))
        .agg(count(lit(1)).as("n_docs_in_clusters"),
          sum(col("keep")).as("n_clusters"),
          sum(when(col("keep") === 0, 1L).otherwise(0L))
            .as("n_docs_removed"),
          sum(when(col("keep") === 0, col("n_toks")).otherwise(0L))
            .as("toks_removed"))
        .crossJoin(broadcast(keep.agg(count(lit(1)).as("n_pairs"))))
        .select(lit(tPct.toLong).as("threshold_pct"), col("n_pairs"),
          col("n_clusters"), col("n_docs_in_clusters"),
          col("n_docs_removed"), col("toks_removed"))
    }
    Seq(40, 90, 96, 98).map(row).reduce(_.unionByName(_))
  }

  /** Classifier calibration (p124): the reliability diagram for the
    * p117 logistic-regression scorer — fixed 0.4-logit margin buckets,
    * the predicted probability at each bucket center vs the empirical
    * positive rate inside it ([[Curation.calibrationReport]]). The
    * check before classifier margins become SAMPLING WEIGHTS rather
    * than an argmax. The oracle refits the classifier trajectory and
    * replays the bucketing, the single sigmoid per bucket, and the
    * exact rates.
    */
  def p124Calibration(s: SparkSession, dir: String): DataFrame =
    Curation.calibrationReport(
      ArtifactStore.lrScored(t(s, dir, "documents"), "doc_id",
        "text", buckets = 64, iters = 12, lrDen = 1,
        profile = Curation.GateProfile.wordSalad),
      "z_micro", "cls", bucketMicro = 400000L)

  /** Document feature store (p123): ONE wide row per document joining
    * every per-doc quality signal the engine computes — composite
    * score, predicted language, repetition fractions, char/token
    * entropy, KN perplexity, memorization risk — the materialized
    * feature table a curation run writes once and every downstream
    * policy (gates, caps, mixtures, curricula) reads instead of
    * re-deriving its own signals. Each branch keeps its own optimal
    * plan (broadcast model tables, gram-hash shuffles, zero-exchange
    * projections); the assembly is doc-id equi-joins that AQE
    * co-plans. The oracle composes the component replays as CTEs, so
    * a pass re-certifies every signal AND the join.
    */
  def p123DocFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(scoredDocs(docs).select(col("doc_id"),
        col("n_toks").cast("long").as("n_toks"), col("score_micro")),
        Seq("doc_id"))
      .join(p08LangId(s, dir).select(col("doc_id"), col("lang_pred")),
        Seq("doc_id"))
      .join(p20Repetition(s, dir).select(col("doc_id"),
        col("dup_3gram_frac"), col("top_word_frac")), Seq("doc_id"))
      .join(Curation.entropyStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("chars_entropy_micro"),
          col("toks_entropy_micro")), Seq("doc_id"))
      .join(Curation.knBigramLogLoss(docs, "doc_id", "text",
          vocabSize = 500)
        .select(col("doc_id"), col("avg_nll_micro")), Seq("doc_id"))
      .join(Curation.memorizationRisk(docs, "doc_id", "text", L = 8)
        .select(col("doc_id"),
          col("dup_frac_micro").as("mem_risk_micro")), Seq("doc_id"))
  }

  /** Iterated DoReMi (p110): the p92 update applied once more —
    * round-1 weights become capped acceptance rates, the corpus
    * resamples deterministically, the KN reference refits, and
    * round-2 weights land next to round 1
    * ([[Curation.domainMixIterate]]). The oracle replays BOTH refits
    * and the resample in one statement via the prefixed CTE chain.
    */
  def p110DomainMixIter(s: SparkSession, dir: String): DataFrame =
    Curation.domainMixIterate(t(s, dir, "documents"), "doc_id", "text",
      "source", vocabSize = 500)

  /** Zipf fit (p109): least-squares slope/intercept/R² of
    * ln(freq) vs ln(rank) over the top-500 vocabulary — the
    * dataset-card statistic that flags synthetic or templated corpora
    * (natural language sits near slope −1; this 31-token fixture will
    * not, which is exactly the point of reporting it). Determinism:
    * the log points are floored to MILLI-nat integers first, all
    * sums are exact int64 (bounds chosen so n·Σxy stays < 2⁶³), and
    * the slope/intercept/R² divisions are single IEEE double ops on
    * identical integers — no cross-row double accumulation anywhere.
    */
  def p109ZipfFit(s: SparkSession, dir: String): DataFrame =
    Curation.zipfFit(t(s, dir, "documents"), "text", topK = 500)

  /** LSH recall sweep (p108): banded-candidate recall vs the
    * exhaustive Jaccard truth at thresholds 30–70%
    * ([[Dedup.lshRecallSweep]]) — the measured curve behind the
    * 1−(1−J^r)^b theory that picks (bands, rows) before a production
    * dedup. The oracle replays signatures, banding, truth, and the
    * per-threshold division.
    */
  def p108LshRecallSweep(s: SparkSession, dir: String): DataFrame =
    // calibration runs on an ABSOLUTE-budget sample (≈256 docs at any
    // SF): the truth side is a brute-force pair scan, so a fixed
    // fraction would grow quadratically with the corpus while the
    // bounded sample keeps truth cost constant; content-keyed
    // (independent-MinHash) striding keeps near-dup pairs together at
    // rate ∝ J/m — the pairs whose recall the sweep exists to measure
    Dedup.lshRecallSweep(
      Dedup.boundedCalibrationSample(t(s, dir, "documents"), "doc_id",
        "text", k = 3, budgetDocs = 256),
      "doc_id", "text", k = 3, numHashes = 12, bands = 6,
      thresholdsPct = Seq(30, 40, 50, 60, 70))

  /** Dedup impact card (p107): the dataset-card rollup of the p37
    * clustering — per cluster-size bucket (2, 3-4, 5-8, 9+), how many
    * clusters exist, how many documents they hold, how many docs and
    * how many TOKENS min-id canonicalization removes. The number a
    * curation run reports before committing the dedup ("X% of tokens
    * were near-duplicate mass"). Rides the p37 pair join + the
    * logarithmic star contraction; the token counts join on the
    * cluster members only.
    */
  def p107DedupImpact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dec = ArtifactStore.dedupDecisions(docs, "doc_id", "text",
      k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    val toks = docs.select(col("doc_id"),
      size(TF.tokens(col("text"))).cast("long").as("n_toks"))
    val per = dec.join(toks, col("node") === col("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("keep") === 0, col("n_toks")).otherwise(0L))
          .as("toks_removed"))
    per.withColumn("bucket",
        when(col("cluster_size") === 2, "2")
          .when(col("cluster_size") <= 4, "3-4")
          .when(col("cluster_size") <= 8, "5-8")
          .otherwise("9+"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("cluster_size") - 1).as("n_docs_removed"),
        sum(col("toks_removed")).as("toks_removed"))
  }

  /** Embedding-free near-dup at scale (p106): the IVF probe path
    * over p100's derived vectors — every 10th document plays the
    * incoming batch, probes 3 of the hashed-vector corpus cells, and
    * emits corpus neighbors at cosine ≥ 0.5. The full text→vector→
    * cell-bounded-pair chain with no embedding model and no
    * all-pairs scan; the streaming twin runs the identical plan per
    * micro-batch with per-ROW vector construction.
    */
  def p106TextNearDup(s: SparkSession, dir: String): DataFrame = {
    val TFx = graft.pipeline.TextFunctions
    // spread the md5-heavy shingle-vector projection (see p100) — the
    // centroid collect and the probe side otherwise evaluate it on
    // the one-file scan's single task
    val vecs = Similarity.hashedDocVectors(
      t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
        "doc_id", TFx.shingles(TFx.tokens(col("text")), 3), dim = 128)
      .filter(Similarity.l2norm(col("embedding")) > 0)
    Similarity.ivfProbePairs(vecs.filter(col("doc_id") % 10 === 7), vecs,
      "doc_id", "embedding", centroidFilter = col("doc_id") % 25 === 0,
      nprobe = 3, thresholdMicro = 500000L)
  }

  /** b-bit minhash calibration (p104): p02's index and verify, but
    * each pair also carries the Jaccard ESTIMATE from 2-bit truncated
    * minhashes and its absolute error vs the exact value
    * ([[Dedup.bbitMinhashEstimate]]) — 30× sketch compression audited
    * in place. The oracle replays the signatures, the banded
    * candidates, the truncated match count, and the collision-floor
    * correction.
    */
  def p104BbitMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.bbitMinhashEstimate(t(s, dir, "documents"), "doc_id", "text",
      k = 3, numHashes = 12, bands = 6, b = 2, threshold = 0.5)

  /** Embedding-free near-dup (p100): feature-hashed 128-dim document
    * vectors over word 3-SHINGLES ([[Similarity.hashedDocVectors]] —
    * exact integer signed counts; unigram features would be useless
    * on this 31-token shared vocabulary, where median pairwise
    * token-set Jaccard is 0.63) scored pairwise by cosine at ≥ 0.5 —
    * semantic-ish dedup over the documents table with NO embedding
    * model, the p07 twin on derived vectors. The threshold cleanly
    * separates the planted near-dups (all ≥ 0.9) from the background
    * (p99 ≈ 0.21). Zero-norm (shorter than one shingle) docs are
    * excluded before any division. Brute force at this SF; the
    * vectors are an ordinary embedding column, so the banded/LSH/IVF
    * family is the scale path.
    */
  def p100HashedNearDup(s: SparkSession, dir: String): DataFrame = {
    val TFx = graft.pipeline.TextFunctions
    // spread the md5-heavy shingle-vector projection BELOW both sides
    // (the broadcast build side formerly computed it on the one-file
    // scan's single task — a measured 3.6s single-thread stage)
    val v = Similarity.hashedDocVectors(
      t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism),
      "doc_id", TFx.shingles(TFx.tokens(col("text")), 3), dim = 128)
    // the explicit stream-side repartition ALSO pins the quadratic
    // pair-join's parallelism: the vector frame is ~2 MB, so without
    // it AQE coalesces the exchange to one partition and the O(N²)
    // dot stage runs single-task (measured 9.4 s on one core)
    val a = v
      .select(col("doc_id").as("doc_a"), col("embedding").as("ea"),
        Similarity.l2norm(col("embedding")).as("na"))
      .filter(col("na") > 0)
      .repartition(s.sparkContext.defaultParallelism)
    val b = v.select(col("doc_id").as("doc_b"), col("embedding").as("eb"),
        Similarity.l2norm(col("embedding")).as("nb"))
      .filter(col("nb") > 0)
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("sim", Similarity.dotOverNorms(col("ea"), col("eb"),
        col("na"), col("nb")))
      .filter(col("sim") >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        floor(col("sim") * 1e6).cast("long").as("sim_micro"))
  }

  /** Tokenizer fertility scorecard (p99): chars-per-token by
    * (tokenizer, language) for the whitespace splitter, the BPE-ish
    * regex pre-tokenizer, and the TRAINED unigram tokenizer (p87's
    * vocab via the p88 dictionary join) — the standard fertility
    * audit run before committing a tokenizer to a corpus mix (a
    * tokenizer that fragments one language inflates its effective
    * cost). Exact integer arithmetic: `chars·1e6 div tokens`. The
    * oracle replays the full unigram train for its row family.
    */
  def p99TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def base(name: String,
        tokCount: org.apache.spark.sql.Column): DataFrame =
      docs.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(tokCount.cast("long")).as("n_tokens"))
        .select(lit(name).as("tokenizer"), col("lang"), col("n_docs"),
          col("n_chars"), col("n_tokens"),
          expr("(n_chars * 1000000) div n_tokens").as("fertility_micro"))
    val ws = base("whitespace",
      size(graft.pipeline.TextFunctions.tokens(col("text"))))
    val bp = base("bpe_pre",
      size(graft.pipeline.TextFunctions.bpeTokens(col("text"))))
    val seg = graft.pipeline.Unigram.train(docs, "text", vocabSize = 60,
      maxLen = 4, iters = 2)
    val uniTok = docs
      .select(col("lang"),
        explode(graft.pipeline.TextFunctions.tokens(col("text")))
          .as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(seg.select(col("word"),
        size(col("pieces")).cast("long").as("np"))), Seq("word"))
      .groupBy(col("lang")).agg(sum(col("np")).as("n_tokens"))
    val uni = docs.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .join(uniTok, Seq("lang"))
      .select(lit("unigram").as("tokenizer"), col("lang"), col("n_docs"),
        col("n_chars"), col("n_tokens"),
        expr("(n_chars * 1000000) div n_tokens").as("fertility_micro"))
    ws.unionByName(bp).unionByName(uni)
  }

  /** Tokenized-shard offset index (p98): the Megatron-style `.idx`
    * beside p86's manifest — per document its shard, in-shard
    * position, and exact token offset under end-to-end layout with
    * one EOS per doc. Same deterministic shard order as p31/p86, so
    * a pass certifies index ≡ manifest layout.
    */
  def p98ShardOffsets(s: SparkSession, dir: String): DataFrame =
    Curation.shardOffsets(t(s, dir, "documents"), "doc_id", "text",
      nShards = 8)

  /** Rotated PQ (p97): p49's full compressed scan over vectors
    * re-expressed through the deterministic signed permutation
    * ([[Similarity.rotateVec]]) — each subspace quantizes a
    * hash-random subset of the original dims instead of a contiguous
    * block, the zero-cost member of the OPQ rotation family. The
    * oracle applies the identical literal permutation and replays the
    * same ADC chain; the scorecard row measures recall against the
    * UNROTATED exact truth (valid because the transform is exactly
    * orthogonal). On the i.i.d. synthetic fixture the row lands at
    * PARITY with p49 by construction — uniform coordinates have no
    * energy concentration to redistribute (same cap as p73's recall
    * note); the operator earns its keep on learned embeddings.
    */
  def p97RotPq(s: SparkSession, dir: String): DataFrame =
    p97RotPqOn(t(s, dir, "embeddings"))
  private[queries] def p97RotPqOn(emb: DataFrame): DataFrame = {
    val rot = emb.select(col("vec_id"),
      Similarity.rotateVec(col("embedding"), 64, "q97").as("embedding"))
    Similarity.pqTopK(rot, rot.filter(col("vec_id") < 20), "vec_id",
      "embedding", m = 4, dim = 64, centroidFilter = col("vec_id") < 8,
      k = 5)
  }

  /** Ingest-time embedding near-dup, batch view
    * ([[Similarity.ivfProbePairs]] — the vector analogue of
    * stream-neardup-verified): every 10th vector plays the incoming
    * batch (vec_id % 10 = 7), probes 3 of the 20 corpus cells, and
    * every corpus neighbor at cosine ≥ 0.2 emits. The streaming twin
    * ([[graft.streaming.StreamingJobs.embeddingNearDup]]) runs the
    * SAME plan per micro-batch — the incoming side is stateless by
    * construction (plan-time-folded centroid scores, no groupBy).
    */
  def p76EmbedIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfProbePairs(emb.filter(col("vec_id") % 10 === 7), emb,
      "vec_id", "embedding", centroidFilter = col("vec_id") % 25 === 0,
      nprobe = 3, thresholdMicro = 200000L)
  }

  /** Stratified sample: exactly 10 docs per source in portable-hash
    * order — the seedless draw any engine reproduces row-for-row.
    */
  def p23StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(t(s, dir, "documents"), "source", "doc_id",
        quota = 10)
      .select(col("doc_id"), col("source"), col("rank"))

  /** Token-budget mix: each source sampled down to a 700-token budget
    * by the exact cumulative-window rule.
    */
  def p24TokenBudget(s: SparkSession, dir: String): DataFrame =
    Curation.tokenBudgetMix(t(s, dir, "documents"), "source", "doc_id",
        "text", budget = 700L)
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_toks"))

  /** Benchmark decontamination: every 20th doc plays the eval set;
    * report train docs sharing >= 2 distinct word 3-shingles with any
    * benchmark doc.
    */
  def p25Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curation.contaminationPairs(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", k = 3, minShared = 2)
  }

  /** Int8 embedding quantization: per-vector symmetric scale +
    * quantized-vector checksums (sum/min/max — scalars so the oracle
    * compare avoids array-rendering differences).
    */
  def p18Quantize(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("scale", Similarity.quantScale(col("embedding")))
      .withColumn("q", Similarity.quantize(col("embedding"), col("scale")))
    e.select(
      col("vec_id"),
      floor(col("scale") * 1e6).cast("long").as("scale_micro"),
      aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
      array_min(col("q")).as("q_min"),
      array_max(col("q")).as("q_max"))
  }

}
