package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{ConnectedComponents, Sessionize}
import graft.pipeline.{Bpe, ClassifierStore, Curation, Dedup, DedupStore, Ingest, Multimodal, Retrieval, Similarity, TextFunctions => TF}

/** Beyond-reference data-pipeline queries (dedup, similarity search,
  * text analysis, multimodal, event sessionization) over the driver's
  * `documents` / `embeddings` / `events` tables, each hash-checked
  * against a DuckDB oracle.
  *
  * Portability rules that make the oracles exact:
  *  - all hashing goes through [[TF.hash60]] (md5-hex-derived 60-bit
  *    ints — reproducible in any engine; no xxhash/murmur);
  *  - similarity doubles are computed with identical-op-order HOFs and
  *    emitted as `floor(x*1e6)` bigints;
  *  - LSH candidate generation is deterministic (hash-derived seeds /
  *    hyperplanes), and its oracles are *exhaustive* SQL — so the check
  *    also proves the LSH found every qualifying pair at this SF.
  */
object PipelineQueries {

  import PipelineQueries2._

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  // ---------------------------------------------------------------- dedup

  /** Exact dedup: hash-groupBy on normalized text. */
  def p01ExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")

  /** MinHash + LSH near-dup pairs (12 hashes, 6 bands × 2 rows,
    * verified Jaccard ≥ 0.5). The oracle is the exhaustive pair scan,
    * so a pass certifies LSH recall at this SF.
    */
  def p02MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 3, numHashes = 12, bands = 6, threshold = 0.5)

  /** SimHash near-dup pairs (64-bit simhash, 4-segment LSH,
    * Hamming ≤ 2 — exact by pigeonhole).
    *
    * Bucket cardinality is the quadratic-blowup lever: 16-bit segments
    * give 65k possible (seg, segval) values, so bucket occupancy — and
    * with it the self-join's candidate count — stays proportional to
    * real near-dup density. (A 16-bit hash in 4-bit segments would put
    * ~1/16 of the corpus in every bucket: O(N²/16) candidates.)
    * The underlying token hash is 60-bit, so bits 60–63 are constant;
    * segment 3 still spans 4k effective values.
    */
  def p03Simhash(s: SparkSession, dir: String): DataFrame =
    DedupStore.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
      bits = 64, segments = 4, maxHamming = 2)

  /** 4-gram-Jaccard pairs via inverted shingle index, with BOTH scale
    * levers engaged: 60-bit hashed posting keys (8-byte shuffle) and
    * stopword-shingle pruning at 10% of the corpus — a posting list
    * longer than that contributes O(f²) candidate rows by itself (the
    * inverted-index skew killer), while true near-dups at J ≥ 0.4
    * still share plenty of sub-threshold shingles. The oracle is the
    * exhaustive pair scan, so a pass certifies that pruning lost no
    * qualifying pair at this SF.
    */
  def p04NgramJaccard(s: SparkSession, dir: String): DataFrame =
    DedupStore.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))

  // ------------------------------------------------------------ similarity

  /** Brute-force cosine top-5 for a 20-query batch. */
  def p05CosineTopK(s: SparkSession, dir: String): DataFrame =
    p05CosineTopKOn(t(s, dir, "embeddings"))
  private[queries] def p05CosineTopKOn(emb: DataFrame): DataFrame =
    Similarity.topK(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", k = 5)

  /** Hard-negative mining for contrastive training: the top-5
    * most-similar candidates per query that sit BELOW the near-dup
    * ceiling (cosine < 0.8) — similar enough to be hard, distinct
    * enough not to be a positive leaking into the negatives. The
    * ceiling filters map-side before ranking, so it shrinks the top-k
    * exchange rather than adding a pass.
    */
  def p51HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.topK(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", k = 5, simCeiling = Some(0.8))
  }

  /** Trained-quantizer IVF, end to end: two Lloyd iterations refine the
    * seed centroids ([[Similarity.kmeansTrain]]), the fixed-point means
    * rebuild as float centroid vectors
    * ([[Similarity.centroidsFromMeans]]), and the multi-probe IVF scan
    * runs against the TRAINED cells ([[Similarity.ivfTopKWith]]) — the
    * production ANN composition (train → index → query) as one plan
    * chain, oracle-replayed iteration by iteration.
    */
  def p52IvfTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val means = graft.pipeline.TrainedIndexStore.kmeansMeans(emb,
      "vec_id", "embedding", centroidFilter = col("vec_id") % 25 === 0,
      iters = 2)
    Similarity.ivfTopKWith(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", Similarity.centroidsFromMeans(means), k = 3, nprobe = 2)
  }

  /** Hyperplane-LSH approximate top-3 (4 planes → 16 buckets). */
  def p06AnnLsh(s: SparkSession, dir: String): DataFrame =
    p06AnnLshOn(t(s, dir, "embeddings"))
  private[queries] def p06AnnLshOn(emb: DataFrame): DataFrame =
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", dim = 64, planes = 4, k = 3)

  /** Multi-probe hyperplane LSH top-k (p93): p06's index, but each
    * query also probes the `probes`=2 buckets reached by flipping its
    * smallest-margin planes (Lv et al. 2007) — recall climbs toward
    * multi-table LSH while the corpus keeps ONE bucket assignment.
    * The oracle replays the margin sort and the perturbed-bucket
    * join, so a pass certifies the probe-set construction end to end.
    */
  def p93LshMultiProbe(s: SparkSession, dir: String): DataFrame =
    p93LshMultiProbeOn(t(s, dir, "embeddings"))
  private[queries] def p93LshMultiProbeOn(emb: DataFrame): DataFrame =
    Similarity.lshMultiProbeTopK(emb, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", dim = 64, planes = 4, probes = 2, k = 3)

  /** Embedding-cosine near-dup pairs: all pairs with cosine ≥ 0.4.
    * Brute force at this SF; the LSH-bucketed path (p06) is the scale
    * variant.
    */
  def p07EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // single-file input → 1 split; spread the N² scoring across cores
    val a = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        Similarity.l2norm(col("embedding")).as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      Similarity.l2norm(col("embedding")).as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("sim", Similarity.dotOverNorms(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"),
        floor(col("sim") * 1e6).cast("long").as("sim_micro"))
  }

  // ---------------------------------------------------------- text analysis

  /** Language ID by stopword-count argmax. */
  def p08LangId(s: SparkSession, dir: String): DataFrame = {
    val toks = TF.tokens(col("text"))
    t(s, dir, "documents").select(
      Seq(col("doc_id"), TF.langId(toks).as("lang_pred")) ++
        TF.stopwords.map { case (lang, ws) =>
          TF.stopwordHits(toks, ws).cast("long").as(s"hits_$lang")
        }: _*)
  }

  /** Quality scoring: token stats, punctuation/stopword ratios,
    * composite score.
    */
  def p09Quality(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("mean_len",
        aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x))
          .cast("double") / col("n_toks").cast("double"))
      .withColumn("punct_ratio",
        TF.punctCount(col("text")).cast("double") / length(col("text")).cast("double"))
      .withColumn("stop_ratio",
        TF.stopwordHits(col("toks"), TF.stopwords.head._2).cast("double") /
          col("n_toks").cast("double"))
    d.select(
      col("doc_id"),
      col("n_toks").cast("long").as("n_toks"),
      col("mean_len"),
      col("punct_ratio"),
      col("stop_ratio"),
      TF.qualityScore(col("n_toks"), col("mean_len"), col("punct_ratio"),
        col("stop_ratio")).as("score"))
  }

  /** Token counting: whitespace and BPE-ish sub-word tokenization. */
  def p10Tokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      size(TF.tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(TF.bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Document fingerprinting: md5-prefix of normalized text + minimum
    * shingle hash (Rabin-style min fingerprint).
    */
  def p11Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val toks = TF.tokens(col("text"))
    t(s, dir, "documents").select(
      col("doc_id"),
      TF.fingerprint(toks).as("fp"),
      coalesce(array_min(TF.shingleHashes(TF.shingles(toks, 3))), lit(TF.P))
        .as("min_shingle_hash"))
  }

  /** Gopher-style rule-set quality filter (Rae et al. 2021, §A1.1 —
    * the boolean-gate complement of p09's composite score): word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio, bullet /
    * ellipsis line fractions, alphabetic-word fraction, and required
    * stopword presence. Every rule is an INTEGER cross-multiplied
    * comparison (no ratio doubles), so the oracle reproduces each flag
    * exactly. Zero-exchange single-scan projection at any scale (the
    * higher-order array ops run as expressions, no join, no shuffle).
    */
  def p61GopherRules(s: SparkSession, dir: String): DataFrame =
    Curation.gopherGates(t(s, dir, "documents"), "doc_id", "text")

  /** C4-style line-and-page cleaning (Raffel et al. 2020, §2.2 — the
    * line-level complement of p61's page-level Gopher gates), the
    * shared [[Curation.c4PageGates]] projection: a line survives with
    * at least five words AND terminal punctuation; a page survives
    * with no "{", no "lorem ipsum", at least three sentence marks and
    * a surviving line. The same expressions run in the per-source
    * funnel (p66) and the streaming ingest twin.
    */
  def p64C4Lines(s: SparkSession, dir: String): DataFrame =
    Curation.c4PageGates(t(s, dir, "documents"), "doc_id", "text")

  /** Exact dedup under the keep-longest policy
    * ([[Dedup.exactKeepLongest]]): the survivor of each duplicate
    * group is the doc with the most raw characters (ties to the
    * smaller id) instead of the smallest id — the policy real curation
    * pipelines use when near-identical scrapes differ in formatting.
    * Same 16-byte-key shuffle as p01; the policy lives in the
    * aggregate, not an extra pass.
    */
  def p67KeepLongest(s: SparkSession, dir: String): DataFrame =
    Dedup.exactKeepLongest(t(s, dir, "documents"), "doc_id", "text")

  /** The p09 composite quality score floored to integer micro-units —
    * the deterministic ranking key the canonical-selection and
    * importance-sampling ops order by. The double itself is portable
    * (p09 hash-matches it), so its floor is too.
    */
  private[queries] def scoredDocs(docs: DataFrame): DataFrame = {
    val toks = TF.tokens(col("text"))
    docs
      .withColumn("n_toks", size(toks))
      .withColumn("mean_len",
        aggregate(toks, lit(0L), (a, x) => a + length(x)).cast("double") /
          col("n_toks").cast("double"))
      .withColumn("punct_ratio",
        TF.punctCount(col("text")).cast("double") /
          length(col("text")).cast("double"))
      .withColumn("stop_ratio",
        TF.stopwordHits(toks, TF.stopwords.head._2).cast("double") /
          col("n_toks").cast("double"))
      .withColumn("score_micro",
        floor(TF.qualityScore(col("n_toks"), col("mean_len"),
          col("punct_ratio"), col("stop_ratio")) * 1e6).cast("long"))
  }

  /** CCNet-style unigram-LM perplexity scoring
    * ([[Curation.unigramLogLoss]]): a 500-token add-one-smoothed
    * unigram model fit on the corpus itself, every document scored by
    * total and mean negative log-likelihood in integer micro-nats —
    * the "perplexity filter" stage of a web-curation pipeline. The
    * oracle refits the model from scratch, so a pass certifies the
    * vocabulary cut, the smoothing arithmetic, and the OOV fallback.
    */
  def p68UnigramLm(s: SparkSession, dir: String): DataFrame =
    Curation.unigramLogLoss(t(s, dir, "documents"), "doc_id", "text",
      vocabSize = 500)

  /** Learned quality classifier (p81): weak-label every document by
    * the three-gate funnel, fit a multinomial Naive Bayes model on the
    * labeled corpus in closed form (one token-count shuffle — the
    * distributed stand-in for CCNet's fastText classifier), and score
    * the corpus back, reporting the gate label next to the model
    * verdict — the training-set confusion table a curation run reads
    * before trusting the model on unlabeled data. The oracle refits
    * the whole model from scratch (labels, vocabulary cut, add-one
    * LLRs, OOV fallback, class prior), so a pass certifies the
    * arithmetic end to end in integer micro-nats.
    */
  def p81NbClassifier(s: SparkSession, dir: String): DataFrame =
    // wordSalad gate profile: the published thresholds admit zero
    // documents of the punctuation-free synthetic corpus, which would
    // train the model on all-negative labels (see GateProfile)
    ClassifierStore.nbScored(t(s, dir, "documents"), "doc_id", "text",
      vocabSize = 500, profile = Curation.GateProfile.wordSalad)

  /** Classifier-vs-gates audit (p84): per source, where the learned
    * NB model and the heuristic funnel DISAGREE — `n_rescued` (gates
    * reject, model keeps) and `n_rejected` (gates keep, model
    * rejects) next to both keep counts. This is the table a curation
    * team reads before swapping rule gates for the model. The source
    * column rides the classifier's own scoring key (functionally
    * dependent on the doc id), so the rollup adds one
    * source-cardinality exchange and no join.
    */
  def p84ClassifierAudit(s: SparkSession, dir: String): DataFrame =
    ClassifierStore.nbScored(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 500, carry = Seq("source"),
        profile = Curation.GateProfile.wordSalad)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("cls")).as("n_gate_keep"),
        sum(col("pred")).as("n_model_keep"),
        sum(when(col("cls") === 0 && col("pred") === 1, 1L).otherwise(0L))
          .as("n_rescued"),
        sum(when(col("cls") === 1 && col("pred") === 0, 1L).otherwise(0L))
          .as("n_rejected"))
      .orderBy("source")

  /** Interpolated bigram-LM perplexity (p82): the KenLM-shaped step
    * past p68 — every document scored by the Jelinek-Mercer mix of
    * the raw bigram MLE and the add-one unigram (λ=0.5) in integer
    * micro-nats, position 1 by the unigram alone. The oracle refits
    * both count tables and replays the interpolation arithmetic, so a
    * pass certifies the zero-exchange predecessor extraction, the
    * unpruned context totals, and the per-position cost mix.
    */
  def p82BigramLm(s: SparkSession, dir: String): DataFrame =
    Curation.bigramLogLoss(t(s, dir, "documents"), "doc_id", "text",
      vocabSize = 500)

  /** Kneser-Ney bigram perplexity (p89): the refinement past p82's
    * Jelinek-Mercer mix — absolute discounting (D=0.75) with
    * continuation counts, the smoothing KenLM itself defaults to
    * (Kneser & Ney 1995; Chen & Goodman 1998 §2.7). The oracle refits
    * the bigram/context/continuation tables and replays the discount
    * arithmetic, so a pass certifies the distinct-successor and
    * distinct-predecessor statistics and the back-off routing at
    * position-1/unseen-context tokens — the parts KN adds over p82.
    */
  def p89KnBigram(s: SparkSession, dir: String): DataFrame =
    Curation.knBigramLogLoss(t(s, dir, "documents"), "doc_id", "text",
      vocabSize = 500)

  /** DSIR data selection (p90): hashed unigram+bigram features (512
    * buckets), importance model fit target-vs-raw where the target is
    * the funnel-pass subset (wordSalad profile — see p81's note on why
    * published thresholds admit zero synthetic docs), deterministic
    * Gumbel top-100 resample. The oracle refits the bucket counts and
    * replays the log-ratio + Gumbel-key arithmetic, so a pass
    * certifies the feature hashing, the add-one model, and the
    * without-replacement selection order (Xie et al. 2023).
    */
  def p90Dsir(s: SparkSession, dir: String): DataFrame =
    Curation.dsir(t(s, dir, "documents"), "doc_id", "text",
      buckets = 512, k = 100, profile = Curation.GateProfile.wordSalad)

  /** Normalized exact dedup (p91): [[Dedup.exactNormalized]] — CCNet
    * canonicalization (lowercase, digit-fold, punctuation strip,
    * whitespace collapse) before the 16-byte-digest groupBy, with
    * `n_raw_distinct` certifying which groups normalization (not byte
    * identity) collapsed.
    */
  def p91NormDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactNormalized(t(s, dir, "documents"), "doc_id", "text")

  /** DoReMi-lite domain mixture weights (p92): per-source Kneser-Ney
    * per-token loss, excess over the best-compressed source, weights
    * = token-share × exp(excess) normalized in exact integer
    * arithmetic. The oracle refits the KN model per source and
    * replays the excess/weight chain, so a pass certifies the
    * domain-grouped scoring and the deterministic normalization.
    */
  def p92DomainMix(s: SparkSession, dir: String): DataFrame =
    Curation.domainMixWeights(t(s, dir, "documents"), "doc_id", "text",
      "source", vocabSize = 500)

  /** Curriculum training order (p94): global easy-to-hard numbering
    * by self-trained KN perplexity with hash-draw tiebreaks, banded
    * into 4 equal phases by integer rank arithmetic. The oracle
    * replays the KN scoring, the total order, and the band division,
    * so a pass certifies the two-phase global numbering against a
    * window-function reference.
    */
  def p94Curriculum(s: SparkSession, dir: String): DataFrame =
    Curation.curriculumOrder(t(s, dir, "documents"), "doc_id", "text",
      vocabSize = 500, nPhases = 4)

  /** Near-dup cluster canonical selection: the p37 clusters, but the
    * survivor is the HIGHEST-QUALITY member (p09 score, ties to the
    * smaller id) rather than the minimum id — keep-best, the policy a
    * curation pipeline actually wants when scrapes of the same page
    * differ in boilerplate. One row per cluster with its size. The
    * score lives in the same window shuffle that ranks the cluster —
    * no extra pass over the corpus.
    */
  def p69ClusterBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val comp = DedupStore.dedupDecisions(docs, "doc_id", "text",
      k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    comp.select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .join(scoredDocs(docs).select(col("doc_id"), col("score_micro")),
        Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("best_doc_id"),
        col("score_micro").as("best_score_micro"), col("cluster_size"))
  }

  /** Quality-weighted importance sampling
    * ([[Curation.importanceSample]]): each document accepted with
    * probability score/max(score) by a seedless portable-hash draw —
    * deterministic resampling toward quality. The top-scoring doc is
    * always accepted (draw < 1e6 by construction); a zero score is
    * never accepted.
    */
  def p70ImportanceSample(s: SparkSession, dir: String): DataFrame =
    Curation.importanceSample(
      scoredDocs(t(s, dir, "documents"))
        .select(col("doc_id"), col("source"), col("score_micro")),
      "doc_id", "score_micro")

  /** Full BPE merge-loop training ([[Bpe.train]], up to 100 merges):
    * p62 gave one round's pair statistic; this runs the actual trainer
    * — count → argmax → greedy re-segment, iterated — and emits the
    * learned merge table. The oracle replays every iteration (pair
    * counts from the re-segmented vocab, the (count DESC, pair) argmax,
    * and the greedy non-overlapping merge via an islands window), so a
    * pass certifies the whole training trajectory to pair EXHAUSTION
    * (the sf corpus vocabulary runs dry at 89 merges; both sides stop
    * there) — deep enough that any per-round lineage compounding would
    * have blown the plan long before the end.
    */
  def p71BpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TokenizerStore
      .bpe(t(s, dir, "documents"), dir, "text", nMerges = 100)._1

  /** Tokenize the corpus with the p71-trained merge table
    * ([[graft.pipeline.TokenizerStore]] + [[Bpe.encodeWith]] — the
    * tokenizer lifecycle's other half): train to exhaustion, then
    * tokenize every document through the trainer's OWN final
    * segmentation as the broadcast dictionary — the trained artifact
    * comes from the session's model registry, so training runs
    * exactly once per corpus no matter how many encode consumers run
    * (production tokenizer economics), and encode costs one
    * broadcast-joined corpus scan. The oracle replays the
    * SAME training chain and joins the final segmentation back to
    * every word position — train and encode certified together, per
    * (doc, position).
    */
  def p75BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (_, vocab) = graft.pipeline.TokenizerStore
      .bpe(docs, dir, "text", nMerges = 100)
    Bpe.encodeWith(docs, "doc_id", "text", vocab)
  }

  /** Per-source quality funnel (the dataset-card view of the three
    * quality gates): for each source, how many documents survive the
    * composite score (p09, ≥ 0.5), the Gopher rule set (p61), the C4
    * page gates (p64), and all three together. ONE pass — every gate
    * is a per-row expression over the same scan, so the only exchange
    * is the source-count rollup (source-cardinality rows).
    */
  def p66QualityFunnel(s: SparkSession, dir: String): DataFrame = {
    // The per-row stage is the SHARED Curation.funnelFlags projection
    // (the streaming ingest funnel runs it verbatim); the only
    // exchange in the whole query is this source-cardinality rollup.
    val full = Curation.funnelFlags(t(s, dir, "documents"), "doc_id",
      "text", carry = Seq("source"))
    full.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("score_keep")).as("n_score"),
        sum(col("keep")).as("n_gopher"),
        sum(col("page_keep")).as("n_c4"),
        sum(col("score_keep") * col("keep") * col("page_keep")).as("n_all"))
      .orderBy("source")
  }

  /** BPE merge-step pair counting (tokenizer prep): the corpus-wide
    * frequency of adjacent sub-word token pairs — the statistic a BPE
    * trainer computes each merge round — with a deterministic top-k.
    * One shuffle (partial map-side counts) + TakeOrderedAndProject;
    * the pair key is a short string, never the document.
    */
  def p62BpePairs(s: SparkSession, dir: String): DataFrame = {
    val toks = TF.bpeTokens(col("text"))
    // zip_with over two slices, NOT element_at(toks, i) inside a
    // transform lambda: non-lambda subexpressions of a HOF body are
    // re-evaluated per element, which would re-run the tokenizer regex
    // O(tokens) times per document (measured 50x slower at sf0.1).
    val pairs = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    t(s, dir, "documents")
      .select(explode(pairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("pair"))
      .limit(20)
  }

  // ------------------------------------------------------------ multimodal

  /** Multimodal feature extraction over a MIXED corpus: even doc_ids
    * are real PNG payloads — dimensions and mean luma come from the
    * actual `ImageIO` raster ([[Multimodal.extractFeatures]]'s
    * magic-sniffed decode path) and the oracle replays them in closed
    * form from the doc attributes — odd doc_ids are opaque text
    * payloads through the documented stub, certifying byte metadata
    * (n_bytes, md5) and the stub dims. Payload-dependent columns
    * (bytes, checksum, luma) are nulled on the side where no engine
    * could reproduce them (PNG bytes are encoder-specific; stub luma
    * is a byte-sum no SQL replays cheaply).
    */
  def p12Multimodal(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mixedMediaFromDocuments(s, t(s, dir, "documents"))
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("mime"),
        when(col("mime") === "text/plain", col("n_bytes")).as("n_bytes"),
        when(col("mime") === "text/plain", col("checksum")).as("checksum"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        when(col("mime") === "image/png",
          floor(col("mean_luma") * lit(1e6)).cast("long")).as("luma_micro"))
  }

  /** REAL image decode ([[Multimodal.encodePng]]/[[Multimodal.decodePng]]
    * — `javax.imageio`, not the stub): per document a solid-color PNG
    * with doc-derived dimensions/color is encoded through the actual
    * PNG codec, and the query output is what `ImageIO.read` decodes
    * back from those bytes. The oracle recomputes the dimensions/pixel
    * from the doc attributes, so a pass proves encode∘decode identity —
    * both codec calls genuinely ran. (Payload BYTES are never hashed:
    * PNG filter choices differ across encoders.)
    */
  def p57PngDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = t(s, dir, "documents").select(
        col("doc_id"),
        (lit(1) + pmod(col("doc_id"), lit(16))).cast("int"),
        (lit(1) + pmod(length(col("text")), lit(16))).cast("int"),
        (pmod(col("doc_id"), lit(256)) * 65793).cast("int"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int, Int, Int)]
    Multimodal.decodePng(Multimodal.encodePng(src)).toDF()
  }

  /** Mixed-format REAL image decode ([[Multimodal.encodeImage]] /
    * [[Multimodal.decodePng]]): even doc_ids encode through the actual
    * PNG writer, odd doc_ids through the actual JPEG writer, and one
    * format-sniffing `ImageIO.read` pass decodes both. Dimensions are
    * pinned exactly for both formats; the top-left pixel is pinned
    * exactly for PNG (lossless) and as a ±8-per-channel band for JPEG
    * (lossy — solid-gray blocks quantize to within a few counts), so
    * the oracle replays `px_ok = 1` for every row in closed form.
    */
  def p72JpegDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    def src(parity: Int) =
      docs.filter(pmod(col("doc_id"), lit(2)) === parity).select(
          col("doc_id"),
          (lit(1) + pmod(col("doc_id"), lit(16))).cast("int"),
          (lit(1) + pmod(length(col("text")), lit(16))).cast("int"),
          (pmod(col("doc_id"), lit(256)) * 65793).cast("int"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, Int, Int, Int)]
    val mixed = Multimodal.encodeImage(src(0), "png")
      .union(Multimodal.encodeImage(src(1), "jpg"))
    val gray = pmod(col("media_id"), lit(256))
    val r = floor(col("px00") / 65536) % 256
    val g = floor(col("px00") / 256) % 256
    val b = col("px00") % 256
    Multimodal.decodePng(mixed).toDF()
      .select(col("media_id"),
        when(pmod(col("media_id"), lit(2)) === 0, "image/png")
          .otherwise("image/jpeg").as("mime"),
        col("width"), col("height"),
        when(pmod(col("media_id"), lit(2)) === 0,
            (col("px00") === gray * 65793).cast("long"))
          .otherwise((abs(r - gray) <= 8 && abs(g - gray) <= 8 &&
            abs(b - gray) <= 8).cast("long"))
          .as("px_ok"))
  }

  /** Perceptual image near-dup: 64-bit dHash over each REALLY decoded
    * raster ([[Multimodal.dHash]]), paired through the segment-LSH
    * banded Hamming join ([[Dedup.hammingPairs]] — 4 segments,
    * radius 3, exact by pigeonhole). The planted near-dups are actual
    * lossy re-encodes: doc pair (2k, 2k+1) renders the SAME 9×8
    * pattern, even ids through the real PNG writer and odd ids
    * through the real JPEG writer, so the only way the pair lands
    * within radius 3 is the decoder genuinely recovering the raster
    * from both codecs. Distinct patterns sit ~32 bits apart (chained
    * 4-level draw, [[Multimodal.patternLevels]]), so the oracle is the
    * closed-form plant list — and any false pair, missed plant, or
    * stubbed decode breaks the compare. The `hamming` column is
    * dropped: a lossy codec's exact flip count is encoder-specific,
    * never portable.
    *
    * Scale shape: payloads never shuffle — the hash pass is a
    * zero-exchange partition map emitting 16-byte rows, candidates
    * are an equi-join on (segment, value), and the verify is one
    * codegen `bit_count` per candidate.
    */
  def p77ImageNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    def src(parity: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === parity)
      .select(col("doc_id"), floor(col("doc_id") / 2).cast("long"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Long)]
    val corpus = Multimodal.encodePattern(src(0), "png")
      .union(Multimodal.encodePattern(src(1), "jpg"))
    val hashes = Multimodal.dHash(
      corpus.map(e => Multimodal.MediaRow(e.media_id, e.png, "image/*"))).toDF()
    Dedup.hammingPairs(hashes, "media_id", "dhash",
        bits = 64, segments = 4, maxHamming = 3)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Deterministic 32-cluster mixture fixture, derived IN-PLAN from
    * `vec_id` alone: component d = center(cluster, d) + noise(vec, d)
    * with centers ±1000 and noise ±10 from the portable hash —
    * integer-valued floats, so the oracle rebuilds the identical
    * vectors from the same closed form. This is the cluster structure
    * the parquet fixture lacks (its i.i.d. embeddings cap IVF recall
    * at the probed mass — documented on p56/p73).
    */
  private[queries] def clusteredEmbeddings(s: SparkSession, dir: String): DataFrame =
    // repartition BELOW the fixture projection: the synthetic vector
    // is ~130 hash60 (md5) calls per row, and the source parquet is
    // one file — without the exchange the whole fixture computes in a
    // single scan task while 31 cores idle
    t(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), d =>
        ((TF.hash60(concat(lit("cc"),
            pmod(col("vec_id"), lit(32)).cast("string"),
            lit("_"), d.cast("string"))) % 2001 - 1000)
          + (TF.hash60(concat(lit("cn"), col("vec_id").cast("string"),
            lit("_"), d.cast("string"))) % 21 - 10))
          .cast("float")).as("embedding"))

  /** Hierarchically clustered embedding fixture for p122: 8 coarse
    * clusters (centers ±1000) × 4 within-cluster offset PROTOTYPES
    * (±100) + per-vector jitter (±5), all from the portable hash —
    * the two-level structure real embedding spaces have and residual
    * coding exists to exploit: a vector's true neighbors share its
    * (cluster, prototype) pair, invisible to a raw-vector codebook
    * (every same-cell candidate codes to the same entry) but exactly
    * what the residual codebook resolves.
    */
  private[queries] def hierEmbeddings(s: SparkSession, dir: String): DataFrame =
    // same single-scan-task guard as [[clusteredEmbeddings]]: 192
    // md5-backed hash60 calls per row must spread across cores
    t(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), d =>
        ((TF.hash60(concat(lit("hc"),
            pmod(col("vec_id"), lit(8)).cast("string"),
            lit("_"), d.cast("string"))) % 2001 - 1000)
          + (TF.hash60(concat(lit("hp"),
            pmod(floor(col("vec_id") / 8).cast("long"), lit(4))
              .cast("string"),
            lit("_"), d.cast("string"))) % 201 - 100)
          + (TF.hash60(concat(lit("hj"), col("vec_id").cast("string"),
            lit("_"), d.cast("string"))) % 11 - 5))
          .cast("float")).as("embedding"))

  /** IVF recall at a PRODUCTION operating point, on clustered data —
    * the row the i.i.d. corpus cannot demonstrate (p56/p73 document
    * why: uniform embeddings make IVF recall track probed mass, so
    * the tuned row tops out at ~72% @ nprobe 8). Over the 32-cluster
    * fixture ([[clusteredEmbeddings]]) with nlist=32 (one seed member
    * per cluster, `vec_id < 32`) and nprobe=1 and 2, recall@3 reaches
    * 100% — cluster separation (±1000 centers) dominates the ±10
    * noise, so a query's true neighbors share its cell. The scorecard
    * row names the full config; truth is the exact scan over the same
    * fixture, and the oracle replays fixture construction, cell
    * assignment, probe sets, both rankings, and the recall division.
    */
  def p79ClusteredRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = clusteredEmbeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.topK(emb, queries, "vec_id", "embedding", 3)
      .select("query_id", "cand_id")
    def row(nprobe: Int): DataFrame =
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          centroidFilter = col("vec_id") < 32, k = 3, nprobe = nprobe)
        .select("query_id", "cand_id")
        .join(exact, Seq("query_id", "cand_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(exact.agg(count(lit(1)).as("n_truth")))
        .select(lit(s"ivf_clustered_nlist32_nprobe$nprobe").as("method"),
          col("n_hits"), col("n_truth"),
          floor((col("n_hits") * lit(1e6)) / col("n_truth")).cast("long")
            .as("recall_micro"))
    row(1).unionByName(row(2))
  }

  /** Exact-substring dedup at ARBITRARY boundaries
    * ([[Curation.exactSubstringScrub]], the Lee et al. 2022
    * semantics): every maximal token span whose 8-token windows all
    * occur at least twice corpus-wide is cut — beyond p65's fixed
    * segmentation, which can only remove aligned 10-word segments.
    * The oracle replays gram hashing, the duplicated-window set, the
    * gaps-and-islands span merge, AND the md5 of every scrubbed
    * reconstruction — a pass certifies the exact cut boundaries on
    * every document.
    */
  def p78ExactSubstrings(s: SparkSession, dir: String): DataFrame =
    Curation.exactSubstringScrub(t(s, dir, "documents"), "doc_id", "text",
      L = 8)

  /** Audio near-dup by energy contour
    * ([[Multimodal.audioFingerprint]] + [[Dedup.hammingPairs]]): doc
    * pair (2k, 2k+1) renders the SAME amplitude-contour recording
    * through the real RIFF/WAVE codec, the odd twin at 2× gain —
    * every payload byte differs, but the contour fingerprint is
    * scale-invariant, so the planted pair lands at Hamming 0 while
    * distinct contours sit far outside the radius (the p77 chained
    * draw). Finding exactly the plant list requires genuinely parsing
    * both WAVs and recovering identical contours from differently
    * scaled PCM. Same banded equi-join shape as p77 — 16-byte hash
    * rows shuffle, payloads never do.
    */
  def p80AudioNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    def src(parity: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === parity)
      .select(col("doc_id"), floor(col("doc_id") / 2).cast("long"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Long)]
    val corpus = Multimodal.encodeWavPattern(src(0), scale = 1)
      .union(Multimodal.encodeWavPattern(src(1), scale = 2))
    val hashes = Multimodal.audioFingerprint(corpus).toDF()
    Dedup.hammingPairs(hashes, "media_id", "afp",
        bits = 64, segments = 4, maxHamming = 3)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Resize planning over REAL decoded dimensions
    * ([[Multimodal.resizePlanPng]]): the p57 PNGs decoded by the actual
    * codec, scale factors to a 224×224 box from the decoded — not
    * derived — width/height. The oracle recomputes the expected
    * dimensions from the doc attributes, so a pass certifies decode +
    * the fixed-point scale arithmetic together.
    */
  def p59ResizePng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = t(s, dir, "documents").select(
        col("doc_id"),
        (lit(1) + pmod(col("doc_id"), lit(16))).cast("int"),
        (lit(1) + pmod(length(col("text")), lit(16))).cast("int"),
        (pmod(col("doc_id"), lit(256)) * 65793).cast("int"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int, Int, Int)]
    Multimodal.resizePlanPng(Multimodal.encodePng(src),
      targetW = 224, targetH = 224).toDF()
  }

  /** REAL audio decode ([[Multimodal.encodeWav]]/[[Multimodal.decodeWav]]
    * — the JDK's RIFF/WAVE codec, not the stub): per document a 16-bit
    * mono PCM tone with doc-derived rate/length/amplitude is written
    * through `AudioSystem`, and the query output is what the decoder
    * parses back (header fields + peak sample). Same oracle contract
    * as p57: encode∘decode identity on doc-derived properties.
    */
  def p60WavDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = t(s, dir, "documents").select(
        col("doc_id"),
        (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("int"),
        (lit(100) + pmod(length(col("text")), lit(400))).cast("int"),
        (pmod(col("doc_id"), lit(1000)) * 30).cast("int"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int, Int, Int)]
    Multimodal.decodeWav(Multimodal.encodeWav(src)).toDF()
  }

  /** Audio feature extraction over REAL decoded PCM
    * ([[Multimodal.audioFeatures]]): doc-derived square waves are
    * written through the actual RIFF/WAVE encoder, decoded back, and
    * peak / energy / zero-crossing counts are computed from the
    * decoded 16-bit samples — exact integer math, so the oracle
    * replays the closed forms (peak = amplitude, energy = n·a²,
    * crossings = (n−1) div period) from the doc attributes. A pass
    * certifies the decode actually ran sample-by-sample.
    */
  def p63AudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = t(s, dir, "documents").select(
        col("doc_id"),
        (lit(8000) + pmod(col("doc_id"), lit(8)) * 1000).cast("int"),
        (lit(100) + pmod(length(col("text")), lit(400))).cast("int"),
        (lit(1) + pmod(col("doc_id"), lit(1000)) * 30).cast("int"),
        (lit(1) + pmod(col("doc_id"), lit(7))).cast("int"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int, Int, Int, Int)]
    Multimodal.audioFeatures(Multimodal.encodeWavSquare(src)).toDF()
  }

  // ------------------------------------------------------------ events

  /** Gap-based sessionization (30-min timeout) of the event stream. */
  def p13Sessionize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
    Sessionize.sessions(e, Seq("user_id"), "ts_us",
        gap = 1800L * 1000 * 1000, tiebreak = Seq("event_id"))
      .select(col("user_id"), col("session_id"),
        col("session_start"), col("session_end"), col("n_events"))
  }

  /** Tumbling 1-hour windowed aggregation per event type — the same
    * plan Structured Streaming runs incrementally (see
    * graft.streaming).
    */
  def p14WindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Semi-structured property extraction from the events JSON blob. */
  def p15JsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
        .cast("long").as("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))

  /** Deterministic hash-based train/validation/test split — the
    * reproducible alternative to randomSplit for training corpora: the
    * assignment depends only on the id, never on partitioning or seed
    * state, so re-runs and engines agree row-for-row.
    */
  def p16HashSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = TF.hash60(concat(lit("split"), col("doc_id").cast("string"))) % 100
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "valid")
          .otherwise("test").as("split"))
  }

  /** TF-IDF top-3 terms per document (inverted-index shape: explode →
    * per-(doc,term) tf → per-term df → score). Scores emitted as
    * floor-micro ints; ties broken by term.
    */
  def p17Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n_docs"))
    val terms = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score_micro",
        floor(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")) * 1e6)
          .cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("score_micro"))
  }

  /** IVF approximate top-3: every 25th vector serves as a centroid,
    * vectors join their nearest-centroid cell, queries probe only
    * their own cell.
    */
  /** Repetition filters (the Gopher quality-signal family): duplicate
    * trigram fraction (pure per-doc Column math, shuffle-free) and
    * top-word fraction (explode → two partial-aggregated shuffles).
    * The final doc_id join is between two doc-count-sized sides.
    */
  def p20Repetition(s: SparkSession, dir: String): DataFrame = {
    val toksed = t(s, dir, "documents")
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
    val base = toksed.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_words"),
      TF.dupShingleFraction(col("toks"), 3).as("dup_3gram_frac"))
    val topWord = toksed
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
        .as("top_word_frac"))
    base.join(topWord, Seq("doc_id"))
  }

  def p19Ivf(s: SparkSession, dir: String): DataFrame =
    p19IvfOn(t(s, dir, "embeddings"))
  private[queries] def p19IvfOn(emb: DataFrame): DataFrame =
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", centroidFilter = col("vec_id") % 25 === 0, k = 3)

  /** IVF centroid training: one Lloyd iteration over the p19 seed
    * centroids — fixed-point per-dimension means, exact in any engine.
    */
  def p21Kmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansUpdate(t(s, dir, "embeddings"), "vec_id", "embedding",
      centroidFilter = col("vec_id") % 25 === 0)

  /** Full k-means training loop: three Lloyd iterations from the p19
    * seed centroids, driver-held centroid state between steps. Served
    * from [[graft.pipeline.TrainedIndexStore]] — the session trains
    * this quantizer once and every consumer (this card, the streaming
    * assigner, any scorecard row) reuses the frozen means.
    */
  val kmeansIters = 3
  def p22KmeansTrain(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TrainedIndexStore.kmeansMeans(t(s, dir, "embeddings"),
      "vec_id", "embedding", centroidFilter = col("vec_id") % 25 === 0,
      iters = kmeansIters)

  /** Shuffle-shard export assignment across 8 shards. */
  def p31ShardExport(s: SparkSession, dir: String): DataFrame =
    Curation.shardAssignments(t(s, dir, "documents"), "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Concat-and-chunk packing into 2048-token chunks per source. */
  def p32SeqPack(s: SparkSession, dir: String): DataFrame =
    Curation.packAssignments(t(s, dir, "documents"), "source", "doc_id",
        "text", chunkToks = 2048L)
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("chunk_idx"), col("chunk_off"))

  /** Random-projection reduction 64 → 16 dims, exploded to
    * per-component fixed-point rows for the oracle compare.
    */
  def p36RandomProjection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(Similarity.randomProjection(col("embedding"), 64, 16)))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").as("proj_fixed"))

  /** Rare-token ratio with a corpus-relative df threshold (|D| div 5 —
    * the same fraction at every SF, resolved INSIDE the plan from a
    * single-row broadcast, so the query is one job with no driver-side
    * count pre-pass; the oracle computes the identical threshold as a
    * subquery).
    */
  def p33RareTokens(s: SparkSession, dir: String): DataFrame =
    Curation.rareTokenRatioRel(t(s, dir, "documents"), "doc_id", "text",
        dfDiv = 5)
      .select(col("doc").as("doc_id"), col("n_toks"), col("n_rare"),
        col("rare_micro"))

  /** Winnowing fingerprints over word 3-shingles, window 4. */
  def p34Winnow(s: SparkSession, dir: String): DataFrame =
    Curation.winnow(t(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
      .select(col("doc").as("doc_id"), col("fp"))

  /** Sketch-join near-dup pairs: >= 3 shared winnow fingerprints —
    * finds the planted near-dups from ~|doc|/w sketch rows.
    */
  def p35WinnowPairs(s: SparkSession, dir: String): DataFrame =
    Curation.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 3, w = 4, minShared = 3)

  /** Near-dup CLUSTERS: the p04 pair set closed under transitivity by
    * alternating large-star/small-star connected components — every
    * doc in a qualifying pair gets its cluster representative (minimum
    * reachable id) and a keep flag, the actual dedup decision a
    * curation pipeline acts on. The oracle recomputes the closure with
    * a recursive CTE over the exhaustive pair scan, so the check
    * certifies BOTH pair recall and the clustering itself.
    */
  def p37DupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    DedupStore.dedupDecisions(docs, "doc_id", "text",
        k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        col("keep"))
  }

  /** Identifier/PII scrubbing over rendered event log lines: the digit
    * rule redacts user ids and fixed-point amounts to `<ID>`; the
    * email and phone rules run first in the cascade (structurally
    * exercised — the synthetic corpus has no hits; CurationSpec covers
    * them on literal rows). Pure codegen projection, zero exchanges.
    */
  def p38PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "events").select(
      col("event_id"),
      concat(col("event_type"), lit(" user="),
        col("user_id").cast("string"), lit(" amount="),
        floor(col("value") * 100).cast("string")).as("line"))
    Curation.scrubText(lines, "line")
      .select(col("event_id"), col("clean"),
        col("n_email"), col("n_phone"), col("n_id"))
  }

  /** Luhn-validated card scrub (p95): synthesize one 16-digit
    * payment-shaped number per event (deterministic from the ids, so
    * ~10% pass the checksum by construction) and scrub ONLY the
    * Luhn-valid ones — amounts and ids survive. The oracle replays
    * candidate extraction, the checksum, and the literal-replace
    * fold, certifying the scrubbed text by md5.
    */
  def p95CardScrub(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "events").select(
      col("event_id"),
      concat(lit("pay "),
        lpad(((col("user_id") % 100000L) * 2654435761L +
          col("event_id") % 1000000L).cast("string"), 16, "0"),
        lit(" amount "), floor(col("value") * 100).cast("string"),
        lit(" ref "), col("event_type")).as("line"))
    Curation.cardScrub(lines, "event_id", "line")
  }

  /** C4-style global segment dedup over 10-word windows: a segment
    * survives only in the minimum-id document containing it; per-doc
    * kept/dropped counts.
    */
  def p39LineDedup(s: SparkSession, dir: String): DataFrame =
    Curation.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
        segWords = 10)
      .select(col("doc").as("doc_id"), col("n_segs"), col("n_kept"),
        col("n_dropped"))

  /** C4 segment REMOVAL with document reconstruction
    * ([[Curation.segmentScrub]] — p39 counts what the rule would drop;
    * this rebuilds the corpus with the duplicated occurrences actually
    * gone, first occurrence in (doc, position) order winning). The
    * oracle replays the global window and re-derives the md5 of every
    * rebuilt document, so the reconstruction itself is certified.
    */
  def p65SegmentScrub(s: SparkSession, dir: String): DataFrame =
    Curation.segmentScrub(t(s, dir, "documents"), "doc_id", "text",
        segWords = 10)
      .select(col("doc").as("doc_id"), col("n_segs"), col("n_kept"),
        col("clean_fp"))

  /** Incremental component merge ([[ConnectedComponents.merge]]): a
    * near-dup pair set split into two deterministic batches — the
    * first clustered from scratch, the second folded into the stored
    * (node, component) assignment. The oracle replays the closure over
    * the FULL pair history with a recursive CTE, so a pass certifies
    * that star-edge folding loses no reachability (the property that
    * makes ingest-time merge equal a full re-cluster at corpus scale,
    * folding |assignment| + |new pairs| rows instead of the history).
    * Merge semantics are edge-agnostic, so the edge source is the
    * cheapest oracle-replayable detector (the p35 winnow sketch join —
    * p37 already closes the ngram pair set); the cache bracket
    * materializes the pair set once for both batch filters.
    */
  def p46MergeClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Curation.winnowPairs(t(s, dir, "documents"), "doc_id",
        "text", k = 3, w = 4, minShared = 3)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    graft.core.Caching.withCached(pairs) {
      val batch1 = pairs.filter((col("u") + col("v")) % 2 === 0)
      val batch2 = pairs.filter((col("u") + col("v")) % 2 =!= 0)
      val assignment = graft.operators.ConnectedComponents.components(batch1)
      graft.operators.ConnectedComponents.merge(assignment, batch2)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
    }
  }

  /** Bloom-prefiltered idempotent ingest ([[Ingest.bloomFresh]]): a
    * deterministic batch built from the corpus itself — one slice
    * re-submitted verbatim (must all be rejected) and one slice with a
    * token appended (must all land) — admitted through the
    * sketch-then-verify path. The oracle is the plain content-hash
    * anti-join, so a pass certifies the bloom path is bit-identical to
    * exact ingest: the sketch only prefilters, never decides.
    */
  def p47BloomIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dup = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val fresh = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .withColumn("text", concat(col("text"), lit(" zzfresh")))
    Ingest.bloomFresh(docs, dup.unionByName(fresh), "text",
        expectedItems = 1000000L, fpp = 0.01)
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** Product-quantization codes over the embedding corpus
    * ([[Similarity.pqCodes]]): 64 dims cut into 4 subspaces, an 8-entry
    * codebook per subspace seeded from the first 8 vectors. The oracle
    * replays the per-subspace squared-L2 argmin with the same
    * index-order sums, so a pass certifies the zero-shuffle codegen
    * assignment — the compression step that lets ANN scans move m-byte
    * codes instead of raw vectors at corpus scale.
    */
  def p48PqCodes(s: SparkSession, dir: String): DataFrame =
    Similarity.pqCodes(t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 4, dim = 64, centroidFilter = col("vec_id") < 8)
      .withColumn("subspace", col("subspace").cast("long"))

  /** Trained-PQ codes, end to end ([[Similarity.pqTrainedCodes]]): two
    * per-subspace Lloyd iterations refine the p48 seed codebook —
    * ADC error, hence PQ recall, is decided by exactly this
    * refinement — and the final zero-exchange argmin assigns codes
    * from the TRAINED per-subspace entries. The oracle replays the
    * subspace iterations element-for-element (assignment, fixed-point
    * means, float rebuild) the way p52's does for the IVF quantizer.
    */
  def p55PqTrained(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTrainedCodes(t(s, dir, "embeddings"), "vec_id",
        "embedding", m = 4, dim = 64, centroidFilter = col("vec_id") < 8,
        iters = 2)
      .withColumn("subspace", col("subspace").cast("long"))

  /** Trained-ADC top-k ([[Similarity.pqTopKTrained]]): the full PQ
    * production chain — per-subspace Lloyd training, trained-code
    * assignment, ADC scan against the TRAINED entries — as one query,
    * p52's train→index→query composition for the ADC family. The
    * oracle replays training AND the four-term asymmetric distance.
    */
  def p58PqTrainedTopK(s: SparkSession, dir: String): DataFrame =
    p58PqTrainedTopKOn(t(s, dir, "embeddings"))
  private[queries] def p58PqTrainedTopKOn(emb: DataFrame): DataFrame =
    Similarity.pqTopKTrained(emb, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", m = 4, dim = 64,
      centroidFilter = col("vec_id") < 8, iters = 2, k = 5)

  /** ADC top-k over the p48 codes ([[Similarity.pqTopK]]): the p05
    * query set scanned against code-compressed corpus rows, ranked by
    * asymmetric distance. The oracle replays code assignment AND the
    * ordered four-term distance sum, so a pass certifies the whole
    * compressed scan — codes, codebook lookup, and ranking — not just
    * the assignment step.
    */
  def p49PqTopK(s: SparkSession, dir: String): DataFrame =
    p49PqTopKOn(t(s, dir, "embeddings"))
  private[queries] def p49PqTopKOn(emb: DataFrame): DataFrame =
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", m = 4, dim = 64, centroidFilter = col("vec_id") < 8,
      k = 5)

  /** Overlapping token-window chunking ([[Curation.chunks]]): 32-token
    * windows every 24 tokens (25% overlap) — the RAG / context-window
    * prep step. Zero-exchange per-row explode; the oracle replays the
    * same window arithmetic over the same token lists.
    */
  def p53Chunks(s: SparkSession, dir: String): DataFrame =
    Curation.chunks(t(s, dir, "documents"), "doc_id", "text",
      window = 32, stride = 24)

  /** Corpus snapshot diff ([[Ingest.snapshotDiff]]): two deterministic
    * snapshots carved from the corpus — docs %7==0 absent from the old,
    * docs %5==0 absent from the new, docs %11==0 edited in the new —
    * classified added/removed/modified/unchanged by id + content
    * fingerprint. The exchange carries 16-byte digests, never text.
    */
  def p54SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
    val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")))
    Ingest.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
  }

  /** Semantic dedup over the embedding corpus: IVF cells from the p19
    * seed centroids, within-cell cosine pairs at the p07 threshold,
    * transitive closure, one keeper per semantic cluster. The oracle
    * replays the whole chain (assignment, pair scan, recursive
    * closure), so the cell-restricted semantics are certified exactly.
    */
  def p40SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
      centroidFilter = col("vec_id") % 25 === 0, threshold = 0.4)

  /** Per-source token-length quantiles (p25/p50/p75) by the exact
    * nearest-rank rule — the dataset-card distribution stat next to
    * p28's means. Nearest-rank keeps the result integer-exact and
    * portable (no interpolation, no engine-specific percentile
    * estimator): the value at sorted rank ceil(q·n/100) is unique even
    * under row_number tie-splitting, because tied rows share the value.
    */
  def p43LengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("source"), size(TF.tokens(col("text"))).cast("long").as("n"))
    val part = Window.partitionBy("source")
    val ranked = d
      .withColumn("rn", row_number().over(part.orderBy(col("n"))))
      .withColumn("cnt", count(lit(1)).over(part))
    val qs = s.range(1).select(explode(array(lit(25L), lit(50L), lit(75L))).as("q"))
    ranked.crossJoin(broadcast(qs))
      .filter(col("rn") ===
        floor((col("cnt") * col("q") + lit(99)) / lit(100.0)).cast("long"))
      .select(col("source"), col("q"), col("n").as("value"))
  }

  /** Cross-source duplicate-overlap matrix: for each ordered source
    * pair (A, B), how many of A's documents have a near-dup mirror in
    * B (≥ 3 shared winnow fingerprints, the p35 sketch identity) — the
    * dataset-card view that tells a curation pipeline which sources
    * mirror each other and which direction to dedup. The pair basis is
    * the sketch equi-join, so the matrix costs the p35 join plus two
    * broadcast source lookups.
    */
  def p45SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Curation.winnowPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 3)
    val src = docs.select(col("doc_id"), col("source"))
    val sym = pairs.select(col("doc_a").as("d"), col("doc_b").as("o"))
      .unionAll(pairs.select(col("doc_b").as("d"), col("doc_a").as("o")))
    // src is one row per DOCUMENT — corpus-sized, so no broadcast hint:
    // the pair side is far smaller than the corpus, and AQE picks the
    // right strategy per actual sizes at any SF
    sym
      .join(src.toDF("d", "src_a"), "d")
      .join(src.toDF("o", "src_b"), "o")
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(countDistinct(col("d")).as("n_mirrored"))
  }

  /** Static mixture re-weighting: the per-source sampling weight that
    * equalizes token share across sources (weight = target/actual,
    * fixed-point) — the data-mixing recipe step that turns p28's
    * dataset-card counts into sampling probabilities. Sources above
    * their equal share get weight < 1 (downsample), below it > 1
    * (upsample/repeat).
    */
  def p44MixWeights(s: SparkSession, dir: String): DataFrame = {
    val perSource = t(s, dir, "documents")
      .select(col("source"), size(TF.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum(col("n")).as("toks"))
    val totals = perSource.agg(
      sum(col("toks")).as("total"), count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("toks"),
        floor(col("total") * lit(1e6) / (col("n_sources") * col("toks")))
          .cast("long").as("weight_micro"))
  }

  /** Temperature-weighted mixture sampling at α = 0.5 (the
    * square-root-scaled source probabilities of T5 / multilingual
    * pretraining: p_s = n_s^α / Σ n_t^α — α = 1 is proportional, α→0
    * approaches p44's equal share; 0.5 is the standard middle).
    * sqrt is correctly rounded in IEEE-754 (unlike pow, which is why
    * the declared query pins α at the sqrt case), and the denominator
    * is an index-order fold over the VALUE-SORTED per-source terms —
    * a deterministic double in any engine, where a bare SUM(double)
    * is summation-order-dependent in both Spark and DuckDB.
    */
  def p50TempMix(s: SparkSession, dir: String): DataFrame = {
    val perSource = t(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val denom = perSource.agg(
      aggregate(sort_array(collect_list(sqrt(col("n_docs")))),
        lit(0.0), (acc, x) => acc + x).as("denom"))
    perSource.crossJoin(broadcast(denom))
      .select(col("source"), col("n_docs"),
        floor(sqrt(col("n_docs")) / col("denom") * lit(1e6))
          .cast("long").as("p_micro"))
  }

  /** Vocabulary building (the tokenizer-training prep step): global
    * token counts, top 50 by (count desc, token asc). The top-k is a
    * sort-limit, which Spark plans as TakeOrderedAndProject — per-
    * partition heaps then one driver merge of 50-row heads, never a
    * global sort — so the pattern holds at any vocabulary size; the
    * dense rank is applied to the 50 survivors only.
    */
  def p41Vocab(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(50)
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("tok").asc))
        .cast("long"))
  }

  /** Out-of-vocabulary rate per document against a top-10 vocabulary
    * (smaller than p41's so the rate is non-trivial on the 31-token
    * synthetic corpus): the tokenizer-coverage check a corpus runs
    * before committing to a vocab. The vocab broadcasts; the token
    * stream never shuffles until the per-doc rollup.
    */
  def p42OovRate(s: SparkSession, dir: String): DataFrame = {
    val vocab = broadcast(t(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(10)
      .select(col("tok")))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
      .join(vocab.withColumn("in_vocab", lit(1L)), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_toks"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        floor(sum(when(col("in_vocab").isNull, 1L).otherwise(0L)) * lit(1e6) /
          count(lit(1))).cast("long").as("oov_micro"))
  }

  /** Frame sampling over the MIXED corpus: real PNG payloads decode
    * to their single still frame, fingerprinted from the DECODED
    * properties (w×h:px00); text payloads expand through the stub
    * (every 2nd fake frame, at most 4) — the row-expanding
    * batched-decode shape either way.
    */
  def p29FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.mixedMediaFromDocuments(s, t(s, dir, "documents")),
      every = 2, maxFrames = 4).toDF()

  /** Resize planning to a 224x224 box over the MIXED corpus: real
    * `ImageIO` header dimensions for the PNG payloads, stub dims for
    * the opaque ones.
    */
  def p30ResizePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(
      Multimodal.mixedMediaFromDocuments(s, t(s, dir, "documents")),
      targetW = 224, targetH = 224).toDF()

  /** Directional containment pairs at 0.5 over word 4-shingles, skew
    * cap engaged; the oracle is the exhaustive scan, certifying the
    * cap lost no qualifying pair at this SF. k=4 matches p04 — 3-gram
    * postings are an order of magnitude denser and blow up the
    * candidate join at larger SFs for no recall gain here.
    */
  def p27Containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      k = 4, threshold = 0.5, maxShingleFreqFrac = Some(0.1))

  /** Per-source dataset-card stats: doc/token counts, fixed-point mean
    * tokens, language spread.
    */
  def p28CorpusStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), col("lang"),
        size(TF.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_toks"),
        floor(sum(col("n_toks")) * lit(1e6) / count(lit(1))).cast("long")
          .as("mean_toks_micro"),
        countDistinct(col("lang")).as("n_langs"))

  /** Multi-probe IVF: the p19 layout with each query probing its two
    * nearest cells — recall widens, the corpus index is untouched.
    */
  def p26IvfNprobe(s: SparkSession, dir: String): DataFrame =
    p26IvfNprobeOn(t(s, dir, "embeddings"))
  private[queries] def p26IvfNprobeOn(emb: DataFrame): DataFrame =
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", centroidFilter = col("vec_id") % 25 === 0, k = 3,
      nprobe = 2)

  /** The TUNED IVF operating point for the recall scorecard: the same
    * index as p26 (one cell per 25 vectors), probing 8 cells instead
    * of 2. Probe count is THE recall/cost knob of an IVF index —
    * scan work grows linearly with probes while the index itself is
    * unchanged — so the scorecard (p56) carries this row next to the
    * fast configurations to document an achievable high-recall
    * operating point, not just the cheap ones.
    */
  def p73IvfTuned(s: SparkSession, dir: String): DataFrame =
    p73IvfTunedOn(t(s, dir, "embeddings"))
  private[queries] def p73IvfTunedOn(emb: DataFrame): DataFrame =
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", centroidFilter = col("vec_id") % 25 === 0, k = 3,
      nprobe = 8)

  /** IVF-PQ compressed probe search ([[Similarity.ivfPqTopK]] — the
    * FAISS-IVFPQ composition, the index shape of production
    * billion-vector ANN): coarse cells from the p26 quantizer (one
    * per 25 vectors), PQ codes from the p49 codebook (m=4 over dim
    * 64), queries probe 4 of 20 cells, ADC top-5 inside probed cells
    * only. The oracle replays coarse assignment, code assignment,
    * probe set, and ADC ranking end to end.
    */
  def p74IvfPq(s: SparkSession, dir: String): DataFrame =
    p74IvfPqOn(t(s, dir, "embeddings"))
  private[queries] def p74IvfPqOn(emb: DataFrame): DataFrame =
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), "vec_id",
      "embedding", coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, k = 5, nprobe = 4)

  /** IVF-PQ with exact refine (p83 — FAISS's IVFPQ+refine): the p74
    * compressed ADC pass widened to a top-20 shortlist, then ONLY
    * those Q·20 candidates re-scored against their full vectors by
    * exact cosine for the final top-5. `adc_rank` rides next to the
    * exact rank, so the reordering the refine stage exists to fix is
    * visible in the output. The oracle replays ADC shortlist AND
    * exact re-rank end to end.
    */
  def p83IvfPqRefine(s: SparkSession, dir: String): DataFrame =
    p83IvfPqRefineOn(t(s, dir, "embeddings"))
  private[queries] def p83IvfPqRefineOn(emb: DataFrame): DataFrame =
    Similarity.ivfPqRefineTopK(emb, emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, k = 5, nprobe = 4,
      rerank = 20)

  /** SentencePiece-style unigram tokenizer (p87): seed a substring
    * vocabulary (all single chars + top multi-char substrings), then
    * two hard-EM rounds — Viterbi segmentation of every distinct word
    * as a zero-exchange Catalyst HOF projection (the whole DP runs in
    * expressions, no UDF), piece re-counting, add-one re-costing. The
    * oracle replays the ENTIRE train: seed counts, vocabulary cut,
    * micro-nat cost tables, both Viterbi passes (recursive-CTE DP +
    * smallest-split backtrace), and the EM reweighting between them.
    */
  def p87UnigramTokenizer(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Unigram.train(t(s, dir, "documents"), "text",
        vocabSize = 60, maxLen = 4, iters = 2)
      .select(col("word"), col("freq"),
        size(col("pieces")).cast("long").as("n_pieces"),
        array_join(col("pieces"), " ").as("segmentation"),
        col("cost_micro"))

  /** Unigram-tokenizer corpus encode (p88 — the unigram sibling of
    * p75's BPE encode): the trained segmentation table joins back to
    * every corpus word position as a broadcast dictionary, so the
    * corpus is touched once and the tokenization itself adds zero
    * exchanges. The oracle replays the full train AND the positional
    * join.
    */
  def p88UnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val seg = graft.pipeline.Unigram.train(docs, "text", vocabSize = 60,
      maxLen = 4, iters = 2)
    docs.select(col("doc_id"),
        posexplode(graft.pipeline.TextFunctions.tokens(col("text")))
          .as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .join(broadcast(seg.select(col("word"), col("pieces"))), Seq("word"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        size(col("pieces")).cast("long").as("n_tokens"),
        array_join(col("pieces"), " ").as("tokens"))
  }

  /** Shard export manifest (p86): per shard, doc/token counts and a
    * content checksum covering membership AND order — the record a
    * training job validates before reading a shard. The checksum is a
    * commutative sum of bounded per-doc `hash60(fp:pos)` terms, so it
    * verifies ordering without any engine materializing a shard's
    * fingerprint list (an ordered string-agg would collect billions
    * of rows per shard at corpus scale). The oracle recomputes shard
    * assignment, positions, fingerprints, and the modular sum.
    */
  def p86ShardManifest(s: SparkSession, dir: String): DataFrame =
    Curation.shardManifest(t(s, dir, "documents"), "doc_id", "text",
      nShards = 8)

  /** IVF index maintenance (p85): per-cell occupancy with a
    * deterministic seed-split proposal for every cell more than 30%
    * over mean occupancy (integer cross-multiplied — no rounded
    * ratios). The re-balance report a production ANN index runs as
    * vectors accumulate; the oracle replays assignment, occupancy,
    * the flag arithmetic, and the two sub-cell counts of each
    * proposed split.
    */
  def p85IvfOccupancy(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfOccupancy(t(s, dir, "embeddings"), "vec_id",
      "embedding", centroidFilter = col("vec_id") % 25 === 0,
      factorPct = 130L)

  /** IVF split execution (p96): act on p85's occupancy proposals —
    * every cell flagged at the 130% factor is replaced by the two
    * fixed-point mean centroids of its deterministic seed split. The
    * oracle replays assignment, flagging, the sub-split, and the
    * exact mean arithmetic, so a pass certifies the executed split
    * equals the audited proposal.
    */
  def p96IvfSplit(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSplitExecute(t(s, dir, "embeddings"), "vec_id",
      "embedding", centroidFilter = col("vec_id") % 25 === 0,
      factorPct = 130L)
  // ---------------------------------------------------------------- wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_exact_dedup" -> p01ExactDedup _,
    "p02_minhash_lsh" -> p02MinhashLsh _,
    "p03_simhash" -> p03Simhash _,
    "p04_ngram_jaccard" -> p04NgramJaccard _,
    "p05_cosine_topk" -> p05CosineTopK _,
    "p06_ann_lsh" -> p06AnnLsh _,
    "p07_embed_near_dup" -> p07EmbedNearDup _,
    "p08_lang_id" -> p08LangId _,
    "p09_quality" -> p09Quality _,
    "p10_tokens" -> p10Tokens _,
    "p11_fingerprint" -> p11Fingerprint _,
    "p12_multimodal" -> p12Multimodal _,
    "p13_sessionize" -> p13Sessionize _,
    "p14_window_agg" -> p14WindowAgg _,
    "p15_json_props" -> p15JsonProps _,
    "p16_hash_split" -> p16HashSplit _,
    "p17_tfidf" -> p17Tfidf _,
    "p18_quantize" -> p18Quantize _,
    "p19_ivf" -> p19Ivf _,
    "p20_repetition" -> p20Repetition _,
    "p21_kmeans" -> p21Kmeans _,
    "p22_kmeans_train" -> p22KmeansTrain _,
    "p23_stratified_sample" -> p23StratifiedSample _,
    "p24_token_budget" -> p24TokenBudget _,
    "p25_decontaminate" -> p25Decontaminate _,
    "p26_ivf_nprobe" -> p26IvfNprobe _,
    "p27_containment" -> p27Containment _,
    "p28_corpus_stats" -> p28CorpusStats _,
    "p29_frame_sample" -> p29FrameSample _,
    "p30_resize_plan" -> p30ResizePlan _,
    "p31_shard_export" -> p31ShardExport _,
    "p32_seq_pack" -> p32SeqPack _,
    "p33_rare_tokens" -> p33RareTokens _,
    "p34_winnow" -> p34Winnow _,
    "p35_winnow_pairs" -> p35WinnowPairs _,
    "p36_random_projection" -> p36RandomProjection _,
    "p37_dup_clusters" -> p37DupClusters _,
    "p46_merge_clusters" -> p46MergeClusters _,
    "p47_bloom_ingest" -> p47BloomIngest _,
    "p48_pq_codes" -> p48PqCodes _,
    "p49_pq_topk" -> p49PqTopK _,
    "p55_pq_trained" -> p55PqTrained _,
    "p56_ann_recall" -> p56AnnRecall _,
    "p58_pq_trained_topk" -> p58PqTrainedTopK _,
    "p59_resize_png" -> p59ResizePng _,
    "p60_wav_decode" -> p60WavDecode _,
    "p61_gopher_rules" -> p61GopherRules _,
    "p62_bpe_pairs" -> p62BpePairs _,
    "p64_c4_lines" -> p64C4Lines _,
    "p65_segment_scrub" -> p65SegmentScrub _,
    "p66_quality_funnel" -> p66QualityFunnel _,
    "p67_keep_longest" -> p67KeepLongest _,
    "p68_unigram_lm" -> p68UnigramLm _,
    "p69_cluster_best" -> p69ClusterBest _,
    "p70_importance_sample" -> p70ImportanceSample _,
    "p71_bpe_train" -> p71BpeTrain _,
    "p63_audio_features" -> p63AudioFeatures _,
    "p57_png_decode" -> p57PngDecode _,
    "p72_jpeg_decode" -> p72JpegDecode _,
    "p73_ivf_tuned" -> p73IvfTuned _,
    "p74_ivfpq" -> p74IvfPq _,
    "p75_bpe_encode" -> p75BpeEncode _,
    "p76_embed_ingest" -> p76EmbedIngest _,
    "p77_image_neardup" -> p77ImageNearDup _,
    "p78_exact_substrings" -> p78ExactSubstrings _,
    "p79_clustered_recall" -> p79ClusteredRecall _,
    "p80_audio_neardup" -> p80AudioNearDup _,
    "p81_nb_classifier" -> p81NbClassifier _,
    "p82_bigram_lm" -> p82BigramLm _,
    "p83_ivfpq_refine" -> p83IvfPqRefine _,
    "p84_classifier_audit" -> p84ClassifierAudit _,
    "p85_ivf_occupancy" -> p85IvfOccupancy _,
    "p86_shard_manifest" -> p86ShardManifest _,
    "p87_unigram_tokenizer" -> p87UnigramTokenizer _,
    "p88_unigram_encode" -> p88UnigramEncode _,
    "p89_kn_bigram" -> p89KnBigram _,
    "p90_dsir" -> p90Dsir _,
    "p91_norm_dedup" -> p91NormDedup _,
    "p92_domain_mix" -> p92DomainMix _,
    "p93_lsh_multiprobe" -> p93LshMultiProbe _,
    "p94_curriculum" -> p94Curriculum _,
    "p95_card_scrub" -> p95CardScrub _,
    "p96_ivf_split" -> p96IvfSplit _,
    "p97_rot_pq" -> p97RotPq _,
    "p98_shard_offsets" -> p98ShardOffsets _,
    "p99_tokenizer_fertility" -> p99TokenizerFertility _,
    "p100_hashed_neardup" -> p100HashedNearDup _,
    "p101_funnel" -> p101Funnel _,
    "p102_retention" -> p102Retention _,
    "p103_funnel_timing" -> p103FunnelTiming _,
    "p104_bbit_minhash" -> p104BbitMinhash _,
    "p105_memorization_risk" -> p105MemorizationRisk _,
    "p106_text_neardup" -> p106TextNearDup _,
    "p107_dedup_impact" -> p107DedupImpact _,
    "p108_lsh_recall_sweep" -> p108LshRecallSweep _,
    "p109_zipf_fit" -> p109ZipfFit _,
    "p110_domain_mix_iter" -> p110DomainMixIter _,
    "p111_novelty" -> p111Novelty _,
    "p112_bm25" -> p112Bm25 _,
    "p113_auc" -> p113Auc _,
    "p114_ppl_buckets" -> p114PplBuckets _,
    "p115_domain_cap" -> p115DomainCap _,
    "p116_pmi" -> p116Pmi _,
    "p117_lr_classifier" -> p117LrClassifier _,
    "p118_wordpiece" -> p118Wordpiece _,
    "p119_hybrid_rrf" -> p119HybridRrf _,
    "p120_prf" -> p120Prf _,
    "p121_entropy" -> p121Entropy _,
    "p122_residual_pq" -> p122ResidualPq _,
    "p123_doc_features" -> p123DocFeatures _,
    "p124_calibration" -> p124Calibration _,
    "p125_dedup_sweep" -> p125DedupSweep _,
    "p126_domain_drift" -> p126DomainDrift _,
    "p127_countmin" -> p127CountMin _,
    "p128_hll" -> p128Hll _,
    "p129_ql" -> p129Ql _,
    "p130_retrieval_scorecard" -> p130RetrievalScorecard _,
    "p131_phrase_rerank" -> p131PhraseRerank _,
    "p132_bm25f" -> p132Bm25f _,
    "p133_snippets" -> p133Snippets _,
    "p134_proximity" -> p134Proximity _,
    "p135_spell" -> p135SpellSuggest _,
    "p136_significance" -> p136Significance _,
    "p137_wordpiece_encode" -> p137WordpieceEncode _,
    "p138_pagerank_hubs" -> p138PagerankHubs _,
    "p139_classifier_agreement" -> p139ClassifierAgreement _,
    "p140_cluster_quality" -> p140ClusterQuality _,
    "p141_triangles" -> p141Triangles _,
    "p142_detector_agreement" -> p142DetectorAgreement _,
    "p143_chi_square" -> p143ChiSquare _,
    "p144_pmi_expansion" -> p144PmiExpansion _,
    "p145_packing_efficiency" -> p145PackingEfficiency _,
    "p146_bootstrap_ci" -> p146BootstrapCi _,
    "p147_vocab_growth" -> p147VocabGrowth _,
    "p148_hdr_quantiles" -> p148HdrQuantiles _,
    "p149_survivor_policies" -> p149SurvivorPolicies _,
    "p150_rate_spikes" -> p150RateSpikes _,
    "p151_source_dup_rates" -> p151SourceDupRates _,
    "p152_split_leakage" -> p152SplitLeakage _,
    "p153_epoch_schedule" -> p153EpochSchedule _,
    "p154_kcore" -> p154KCore _,
    "p155_pr_auc" -> p155PrAuc _,
    "p156_dedup_retrieval" -> p156DedupRetrievalImpact _,
    "p157_operating_points" -> p157OperatingPoints _,
    "p158_repetition" -> p158Repetition _,
    "p159_split_repair" -> p159SplitRepair _,
    "p160_shard_manifest" -> p160ShardManifest _,
    "p161_hard_negatives" -> p161HardNegatives _,
    "p162_distinct_n" -> p162DistinctN _,
    "p163_mix_interleave" -> p163MixInterleave _,
    "p172_manifest_append" -> p172ManifestAppend _,
    "p173_ltr_rerank" -> p173LtrRerank _,
    "p174_shard_append" -> p174ShardAppend _,
    "p175_release_diff" -> p175ReleaseDiff _,
    "p176_doc_chunks" -> p176DocChunks _,
    "p177_passage_retrieval" -> p177PassageRetrieval _,
    "p178_index_export" -> p178IndexExport _,
    "p179_lsh_bucket_audit" -> p179LshBucketAudit _,
    "p180_release_signoff" -> p180ReleaseSignoff _,
    "p181_index_append" -> p181IndexAppend _,
    "p182_ingest_dedup" -> p182IngestDedup _,
    "p183_index_delete" -> p183IndexDelete _,
    "p184_dedup_append" -> p184DedupAppend _,
    "p185_ingest_decontaminate" -> p185IngestDecontaminate _,
    "p186_index_lifecycle" -> p186IndexLifecycle _,
    "p187_admission_pipeline" -> p187AdmissionPipeline _,
    "p188_image_ingest_gate" -> p188ImageIngestGate _,
    "p189_quantizer_drift" -> p189QuantizerDrift _,
    "p164_crop_pairs" -> p164CropPairs _,
    "p165_shard_mix" -> p165ShardMix _,
    "p166_epoch_decorrelation" -> p166EpochDecorrelation _,
    "p167_jsonl_roundtrip" -> p167JsonlRoundtrip _,
    "p171_shard_files" -> p171ShardFiles _,
    "p168_k_anonymity" -> p168KAnonymity _,
    "p169_knn_probe" -> p169KnnProbe _,
    "p170_quantization_probe" -> p170QuantizationProbe _,
    "p50_temp_mix" -> p50TempMix _,
    "p51_hard_negatives" -> p51HardNegatives _,
    "p52_ivf_trained" -> p52IvfTrained _,
    "p53_chunks" -> p53Chunks _,
    "p54_snapshot_diff" -> p54SnapshotDiff _,
    "p38_pii_scrub" -> p38PiiScrub _,
    "p39_line_dedup" -> p39LineDedup _,
    "p40_semantic_dedup" -> p40SemanticDedup _,
    "p41_vocab" -> p41Vocab _,
    "p42_oov_rate" -> p42OovRate _,
    "p43_length_quantiles" -> p43LengthQuantiles _,
    "p44_mix_weights" -> p44MixWeights _,
    "p45_source_overlap" -> p45SourceOverlap _
  )

  /** Recall@k scorecard for the ANN family against exact truth — the
    * quality gate the approximate methods otherwise lack: a config
    * change that silently costs recall flips this row red while every
    * per-method row stays green (each method's own oracle replays the
    * method, so it can't see a recall regression). Truth is the exact
    * scan restricted to each method's own k. Counts are integers and
    * the one division is a single identical-order FLOOR, so the row
    * hashes portably. At 100 TB the same query runs over a sampled
    * query set — truth is O(|corpus|·|Q|), which is why |Q| is the
    * knob, not the corpus.
    *
    * Operating points (sf0.01): the fast configs sit at 10-33% recall
    * and the TUNED row (p73, nprobe 8 of 20 cells) reaches ~72% —
    * which is near the ceiling this corpus allows at that probe mass:
    * the synthetic embeddings are i.i.d.-random, so cells carry no
    * real cluster structure and IVF recall tracks the probed fraction
    * of the corpus (8/20 cells ≈ 40% mass → 72% only because a
    * query's own top cells are correlated with its neighbors'). On
    * embeddings with genuine cluster structure the same nprobe curve
    * rises far faster; the scorecard's job is to expose exactly this
    * curve per corpus — [[p79ClusteredRecall]] demonstrates it: the
    * in-plan 32-cluster fixture reaches 100% recall@3 at nprobe 1. The IVF-PQ row (p74) lands at 14% recall@5
    * touching 4/20 cells — above the full-corpus untrained PQ scan's
    * 10%, the compression+probe composition paying for itself. The
    * refine row (p83) nearly triples that at the SAME probe budget
    * (sf0.001: 11% → 30% recall@5) by exact-cosine re-ranking the
    * ADC top-20 — quantization error, not probe coverage, is what it
    * buys back.
    */
  def p56AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val exact = p05CosineTopKOn(emb).select("query_id", "cand_id", "rank")
    graft.core.Caching.withCached(exact) {
      // Every method row builds on the SAME `emb` frame: Spark's
      // exchange reuse compares canonicalized plans, and two independent
      // `spark.read`s of one path never canonicalize equal (each carries
      // its own FileIndex instance) — with per-row reads the ten rows
      // shared nothing (fingerprint: 124 exchanges, 0 reused). Off one
      // shared read, identical corpus-side subtrees (the three IVF rows'
      // cell index, the PQ rows' code scans) dedupe at runtime.
      val methods: Seq[(String, DataFrame, Int)] = Seq(
        ("p06_ann_lsh", p06AnnLshOn(emb), 3),
        ("p19_ivf", p19IvfOn(emb), 3),
        ("p26_ivf_nprobe", p26IvfNprobeOn(emb), 3),
        ("p49_pq_topk", p49PqTopKOn(emb), 5),
        ("p58_pq_trained_topk", p58PqTrainedTopKOn(emb), 5),
        ("p73_ivf_tuned", p73IvfTunedOn(emb), 3),
        ("p74_ivfpq", p74IvfPqOn(emb), 5),
        ("p83_ivfpq_refine", p83IvfPqRefineOn(emb), 5),
        ("p93_lsh_multiprobe", p93LshMultiProbeOn(emb), 3),
        ("p97_rot_pq", p97RotPqOn(emb), 5))
      methods.map { case (name, df, km) =>
        val truth = exact.filter(col("rank") <= km)
          .select("query_id", "cand_id")
        df.select("query_id", "cand_id")
          .join(truth, Seq("query_id", "cand_id"))
          .agg(count(lit(1)).as("n_hits"))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .select(lit(name).as("method"), col("n_hits"), col("n_truth"),
            floor((col("n_hits") * lit(1e6)) / col("n_truth")).cast("long")
              .as("recall_micro"))
      }.reduce(_ unionByName _)
    }
  }


  /** Oracle SQL lives in [[PipelineOracles]]/[[PipelineOracles2]]
    * since the round-15 file split — verbatim moves, same map.
    */
  def oracle: Map[String, String] = PipelineOracles2.oracle
}
