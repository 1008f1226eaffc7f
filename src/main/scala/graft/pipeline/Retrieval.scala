package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{TextFunctions => TF}

/** Full-text retrieval over the document corpus: a distributed
  * inverted index and Okapi BM25 ranking (Robertson & Zaragoza 2009,
  * with Lucene's non-negative `ln(1 + (N - df + 0.5)/(df + 0.5))`
  * idf). This is the text-side sibling of the embedding ANN stack in
  * [[Similarity]]: where ANN retrieves by dense cosine, BM25 retrieves
  * by sparse lexical match — the first stage of every
  * retrieval-augmented data pipeline (nearest-neighbor decontamination
  * by lexical overlap, hard-negative mining for embedding training,
  * corpus search behind an annotation UI).
  *
  * Determinism across engines (the oracle contract): document
  * frequencies, term frequencies, and document lengths are exact
  * integers; `idf` and the length-normalized tf part are computed in
  * ONE fixed operation order as scalar doubles from those integers;
  * each (query, term, doc) contribution is floored to integer
  * micro-points BEFORE the per-(query, doc) sum, so the score is an
  * exact int64 accumulation — no cross-row double sums anywhere. Ties
  * in the top-k window break on `doc_id`.
  *
  * Scale shape (the 100-TB story):
  *  - the inverted index is ONE token-count shuffle with map-side
  *    combine (`postings`: tok → (doc, tf)); at scale it would be
  *    written bucketed BY tok so query joins co-locate without a
  *    further exchange;
  *  - query terms are a (|Q|·terms)-row table — broadcast onto the
  *    postings scan, so candidate generation is a map-side semi-join
  *    (no corpus-side exchange keyed by anything but tok);
  *  - per-term document frequencies are computed AFTER the query-term
  *    prune, so the df table is bounded by the query vocabulary, not
  *    the corpus vocabulary;
  *  - corpus stats (N, Σdl) are a single-row broadcast, never a
  *    driver-side collect;
  *  - the only corpus-candidate-scale exchange is the final
  *    per-(query, doc) score rollup + per-query top-k window, keyed by
  *    query_id — one shuffle, both steps share it.
  */
object Retrieval {

  /** Rows sampled by id-stride under an ABSOLUTE budget: keep
    * `id % ceil(N/budget) == 0` with the stride derived from the
    * corpus count IN-PLAN (single-row aggregate broadcast into the
    * filter — no driver count()), so the sample holds ≈`budget` rows
    * at ANY scale factor.
    *
    * This is the evaluation-fixture rule for every planted-query
    * card: a fixed FRACTION (`id % 40`) grows |Q| linearly with the
    * corpus, so each eval card's broadcast query set and per-query
    * work scale with N — at 100× data the broadcast fails and the
    * card costs 100× more than the statistic needs. An absolute
    * budget keeps eval cost constant forever. (The content-keyed
    * sibling for DEDUP calibration, where near-dup pairs must survive
    * sampling together, is `Dedup.boundedCalibrationSample`; planted
    * retrieval queries need no pair survival, so the cheaper
    * id-stride is right here.)
    */
  def plantedSample(df: DataFrame, idCol: String,
      budget: Int = 128): DataFrame = {
    require(budget > 0, "budget must be positive")
    val m = df.agg(expr(
      s"greatest(cast(1 as bigint), (count(1) + ${budget - 1})" +
        s" div $budget)").as("__q_stride"))
    df.crossJoin(broadcast(m))
      .filter(col(idCol) % col("__q_stride") === 0)
      .drop("__q_stride")
  }

  /** The standard planted evaluation queries: every budget-strided
    * document contributes its first four tokens as a query whose
    * known-relevant document is itself (`query_id` = source doc id) —
    * the self-retrieval fixture behind the retrieval scorecards,
    * significance tests, and hard-negative mining. |Q| is constant in
    * the corpus size ([[plantedSample]]).
    */
  def plantedQueries(docs: DataFrame, idCol: String, textCol: String,
      budget: Int = 128): DataFrame =
    plantedSample(docs, idCol, budget)
      .select(col(idCol).as("query_id"),
        concat_ws(" ", slice(TF.tokens(col(textCol)), 1, 4)).as("qtext"))

  /** BM25 free parameters; defaults are the Robertson/Lucene
    * standards (k1=1.2 saturation, b=0.75 length normalization).
    */
  final case class Bm25Params(k1: Double = 1.2, b: Double = 0.75)

  /** The fitted index: `postings(tok, doc_id, tf)`,
    * `doclen(doc_id, dl)`, single-row `stats(nd, sdl)`.
    */
  final case class Bm25Index(postings: DataFrame, doclen: DataFrame,
      stats: DataFrame)

  /** Build the inverted index from a document table. One shuffle for
    * the postings (map-side combined token counts), one single-row
    * aggregate for the corpus stats; document lengths are a
    * zero-exchange projection over the same scan.
    */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String): Bm25Index =
    bm25IndexTokens(docs, idCol, TF.tokens(col(textCol)))

  /** [[bm25Index]] over a PRE-TOKENIZED token-array expression — for
    * callers that already hold the token array (chunked documents
    * rebuilt from slices of a tokenized stream). `TF.tokens` is a
    * whitespace split of whitespace-joined nonempty tokens, so
    * `tokens(concat_ws(" ", toks)) == toks` exactly; skipping the
    * round trip removes one string materialization and two
    * re-tokenizations per row (guide §1.2 step 2: per-task work) with
    * bit-identical postings/lengths.
    */
  def bm25IndexTokens(docs: DataFrame, idCol: String,
      toks: Column): Bm25Index = {
    val doclen = docs.select(col(idCol).as("doc_id"),
      size(toks).cast("long").as("dl"))
    val postings = docs
      .select(col(idCol).as("doc_id"), explode(toks).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
    val stats = doclen.agg(count(lit(1)).as("nd"), sum("dl").as("sdl"))
    Bm25Index(postings, doclen, stats)
  }

  /** Simple BM25F weighted-field index (Robertson & Zaragoza 2009
    * §6, the "simple BM25F" variant): term frequencies and document
    * lengths are per-field values combined with INTEGER field weights
    * — tf̃(t,d) = Σ_f w_f·tf_f(t,d), dl̃(d) = Σ_f w_f·dl_f(d) — after
    * which the plain BM25 saturation/normalization applies unchanged,
    * so the whole [[bm25ScoresFromHits]]/[[rankTopK]] stack serves
    * fielded retrieval as-is. Integer weights keep every combined tf
    * and dl an exact int64, preserving the oracle contract. Document
    * frequency falls out correctly: the combined postings hold one
    * row per (term, doc) that matches in ANY field.
    *
    * Scale shape identical to [[bm25Index]] — one map-side-combined
    * postings shuffle per field unioned into one combine (Spark
    * merges the union into a single exchange), a zero-exchange
    * weighted-length projection, and a single-row stats aggregate.
    *
    * @param fields (tokenArrayColumn, weight) per field; weights must
    *               be positive integers
    */
  def bm25fIndex(docs: DataFrame, idCol: String,
      fields: Seq[(Column, Long)]): Bm25Index = {
    require(fields.nonEmpty && fields.forall(_._2 > 0),
      "fields must be non-empty with positive integer weights")
    val doclen = docs.select(col(idCol).as("doc_id"),
      fields.map { case (f, w) => size(f).cast("long") * lit(w) }
        .reduce(_ + _).as("dl"))
    val postings = fields.map { case (f, w) =>
        docs.select(col(idCol).as("doc_id"), explode(f).as("tok"),
          lit(w).as("w"))
      }.reduce(_.unionByName(_))
      .groupBy("tok", "doc_id").agg(sum(col("w")).as("tf"))
    val stats = doclen.agg(count(lit(1)).as("nd"), sum("dl").as("sdl"))
    Bm25Index(postings, doclen, stats)
  }

  /** End-to-end BM25F search over weighted fields — [[bm25fIndex]]
    * plus the standard scoring/ranking stack; cache bracket as in
    * [[bm25TopK]].
    */
  def bm25fTopK(docs: DataFrame, idCol: String,
      fields: Seq[(Column, Long)], queries: DataFrame, qidCol: String,
      qtextCol: String, k: Int,
      p: Bm25Params = Bm25Params()): DataFrame = {
    require(k > 0, "k must be positive")
    val index = bm25fIndex(docs, idCol, fields)
    val qTerms = queryTerms(queries, qidCol, qtextCol)
    val hits = prunedHitsFields(docs, idCol, fields,
      qTerms.select("tok").distinct())
    graft.core.Caching.withCached(hits)(
      rankTopK(bm25ScoresFromHits(index, hits, qTerms, p), k))
  }

  /** Distinct (query_id, tok) pairs from a query table — the
    * broadcast side of the candidate join. Repeated query terms count
    * once (standard bag-of-words BM25 with binary query tf).
    */
  def queryTerms(queries: DataFrame, qidCol: String,
      qtextCol: String): DataFrame =
    queries.select(col(qidCol).as("query_id"),
        explode(TF.tokens(col(qtextCol))).as("tok"))
      .distinct()

  /** The candidate-hit frame `postings ⋈ broadcast(query toks)` built
    * WITHOUT the full-vocabulary postings shuffle: the query-term
    * prune is a filter on the (tok, doc) GROUP KEY, so applying it to
    * the exploded occurrences BEFORE the tf count is bit-identical to
    * applying it to the finished postings — same (tok, doc_id, tf)
    * rows, same df/cf rollups downstream (guide §2.3: filter before
    * the exchange; §3.2: semi-join prefilter of the big side). The
    * exchange carries only query-term occurrences — bounded by
    * |query vocabulary| · df — instead of every token of the corpus;
    * at web scale that is orders of magnitude fewer bytes for a
    * ranking whose scores only ever read query-term postings.
    * `qToks` must be the DISTINCT query-term set (one `tok` column).
    */
  private[graft] def prunedHits(docs: DataFrame, idCol: String,
      toks: Column, qToks: DataFrame): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(toks).as("tok"))
      .join(broadcast(qToks), Seq("tok"))
      .repartition(col("doc_id"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))

  /** ONE corpus tokenization serving several rankers: the FULL
    * positional postings — (tok, doc_id, tf, tf_pre) with `tf_pre`
    * the occurrence count among the first `prefixLen` token
    * positions. [[prunedHits]] stays the right shape for a SINGLE
    * ranking (never shuffle non-query tokens); a composite card that
    * scores the same corpus under several vocabularies and field
    * weightings (the p130/p136 five-ranker family) builds THIS once
    * and derives each ranker's candidate frame as a broadcast prune
    * over it (guide §1.2 step 1: don't repeat the pass; the
    * index-once-serve-many move of [[impactIndex]]):
    *
    *  - prune-after-count ≡ count-after-prune (the prune is on the
    *    (tok) group key), so `occ ⋈ vocab` is row-identical to the
    *    [[prunedHits]] it replaces;
    *  - when weighted fields PARTITION the token sequence at
    *    `prefixLen` (p132's prefix/body split), the combined
    *    tf̃ = w₁·tf_pre + w₂·(tf − tf_pre) equals
    *    [[prunedHitsFields]]'s union-explode sum exactly — both
    *    count every position once with its field's weight;
    *  - feedback postings (per-(doc, tok) counts over a feedback doc
    *    set) are a semi-join prune of occ on doc_id.
    *
    * doc_id-partitioned like [[prunedHits]] (the keyed repartition
    * feeds the count, which reuses it), so every derived scoring
    * rollup still crosses no exchange.
    */
  private[graft] def positionalPostings(docs: DataFrame, idCol: String,
      toks: Column, prefixLen: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(toks).as(Seq("pos", "tok")))
      .repartition(col("doc_id"))
      .groupBy("tok", "doc_id")
      .agg(count(lit(1)).as("tf"),
        sum(when(col("pos") < prefixLen, lit(1L)).otherwise(lit(0L)))
          .as("tf_pre"))

  /** [[prunedHits]] for the weighted-field index: per-field exploded
    * occurrences are pruned to the query vocabulary BEFORE the
    * weighted tf combine — identical commutation argument, identical
    * rows to `bm25fIndex(...).postings ⋈ query toks`.
    */
  private[graft] def prunedHitsFields(docs: DataFrame, idCol: String,
      fields: Seq[(Column, Long)], qToks: DataFrame): DataFrame =
    fields.map { case (f, w) =>
        docs.select(col(idCol).as("doc_id"), explode(f).as("tok"),
          lit(w).as("w"))
      }.reduce(_.unionByName(_))
      .join(broadcast(qToks), Seq("tok"))
      .repartition(col("doc_id"))
      .groupBy("tok", "doc_id").agg(sum(col("w")).as("tf"))

  /** Per-(query, doc) BM25 scores in integer micro-points.
    *
    * The candidate join broadcasts the query-term table onto the
    * postings; df is counted over the PRUNED postings (exact — the
    * prune is by term, and df is a per-term count), so the df/idf
    * side stays query-vocabulary-sized and broadcasts back onto the
    * candidates.
    */
  def bm25Scores(index: Bm25Index, qTerms: DataFrame,
      p: Bm25Params = Bm25Params()): DataFrame = {
    val hits = index.postings.join(
      broadcast(qTerms.select("tok").distinct()), Seq("tok"))
    bm25ScoresFromHits(index, hits, qTerms, p)
  }

  /** The per-(term, doc) BM25 contribution in integer micro-points,
    * over in-scope `tf, df, dl, nd, sdl` columns — ONE fixed
    * operation order, shared by the batch scorer and the
    * [[impactIndex]] so their floors agree bit-for-bit.
    */
  /** The pre-floor double of [[contribMicro]] (idf · norm · 10⁶) —
    * exposed so the guard-band audit (GuardBandSpec) can measure how
    * far every produced value sits from its floor boundary: Java and
    * DuckDB libm `log` may differ by 1 ulp, and a value within ~1e-9
    * of an integer could floor differently across engines.
    */
  private[graft] def contribDouble(p: Bm25Params): Column = {
    val avgdl = col("sdl").cast("double") / col("nd").cast("double")
    val idf = log(lit(1.0) +
      (col("nd").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val norm = col("tf").cast("double") * lit(p.k1 + 1) /
      (col("tf").cast("double") +
        lit(p.k1) * (lit(1 - p.b) +
          lit(p.b) * (col("dl").cast("double") / avgdl)))
    idf * norm * lit(1e6)
  }

  private def contribMicro(p: Bm25Params): Column =
    floor(contribDouble(p)).cast("long")

  /** [[bm25Scores]] over a prepared candidate-hit frame. `hits` feeds
    * BOTH the df rollup and the scoring join, so eager callers
    * bracket it with [[graft.core.Caching.withCached]] — otherwise
    * the postings shuffle runs twice.
    *
    * df is counted over the PRUNED postings — exact, because the
    * prune is per-term and df is a per-term count — so the idf side
    * stays query-vocabulary-sized.
    */
  private[graft] def bm25ScoresFromHits(index: Bm25Index,
      hits: DataFrame, qTerms: DataFrame, p: Bm25Params): DataFrame = {
    val df = hits.groupBy("tok")
      .agg(count(lit(1)).as("df"))
    // Join order is load-bearing (guide §2.4, §3.3): doclen attaches
    // to the (tok, doc)-sized hits BEFORE the query join multiplies
    // rows by matching queries, so the big corpus-keyed join never
    // sees the |Q|-expanded frame — and when `hits` arrives
    // doc_id-partitioned ([[prunedHits]]), the (query, doc) rollup
    // reuses that partitioning (doc_id is a subset of the grouping
    // key), so the expanded candidate frame crosses NO exchange: the
    // ranking window's partial top-k (WindowGroupLimit) is all that
    // reaches the query-keyed exchange. Same (q, tok, doc) rows with
    // identical tf/df/dl/nd/sdl either order — scores bit-identical.
    //
    // contrib_micro is floored BEFORE the query join (r16; the
    // [[impactIndex]] factorization): the per-term BM25 contribution
    // reads only (tf, df, dl, nd, sdl) — the query never enters — so
    // evaluating the log/divide/floor once per (tok, doc) hit and
    // expanding the RESULT by matching queries produces the identical
    // integer per (q, tok, doc) row at |hits| evaluations instead of
    // |Q|-expanded ones (profiled: the expansion's expression CPU was
    // ~40 s per ranker stage at sf0.1 while the hit frame is 100×
    // smaller; each expanded row now costs one long sum).
    hits
      .join(index.doclen, Seq("doc_id"))
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(index.stats))
      .withColumn("contrib_micro", contribMicro(p))
      .join(broadcast(qTerms), Seq("tok"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("contrib_micro")).as("score_micro"))
  }

  /** The impact-scored inverted index: every (tok, doc_id) with its
    * FULL precomputed BM25 contribution — the impact-ordered-index
    * move (Anh & Moffat 2006; Lucene's impacts): since idf and length
    * normalization are query-independent, the whole per-term score is
    * baked into the index, and serving a query reduces to an equi-join
    * on its terms plus an integer sum. This is the static side the
    * streaming search twin joins each micro-batch against — corpus
    * work happens ONCE at index build (the caller persists the
    * result; see [[graft.streaming.StreamingJobs.bm25Search]]), never
    * per batch.
    */
  def impactIndex(docs: DataFrame, idCol: String, textCol: String,
      p: Bm25Params = Bm25Params()): DataFrame = {
    val index = bm25Index(docs, idCol, textCol)
    val df = index.postings.groupBy("tok").agg(count(lit(1)).as("df"))
    index.postings
      .join(df, Seq("tok"))
      .join(index.doclen, Seq("doc_id"))
      .crossJoin(broadcast(index.stats))
      .select(col("tok"), col("doc_id"),
        contribMicro(p).as("contrib_micro"))
  }

  /** Per-query top-k ranking over a score frame; the window shares
    * the score rollup's query-keyed exchange.
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("score_micro").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms"), col("score_micro"))

  /** Two-pass BM25 with pseudo-relevance feedback (Rocchio 1971 /
    * the RM-style expansion every classic IR stack ships): pass 1
    * retrieves `fbDocs` documents per query; the terms of those
    * documents — minus the original query terms — are ranked by
    * their summed term frequency across the feedback set and the top
    * `fbTerms` join the query; pass 2 re-retrieves with the expanded
    * term set. All selection is exact-integer (tf sums, (score DESC,
    * tok) ties), so the oracle replays both passes and the expansion
    * choice.
    *
    * Scale shape: everything rides the machinery of [[bm25TopK]] —
    * the one new exchange is feedback-term extraction, a broadcast
    * semi-join of the postings against the (|Q|·fbDocs)-row feedback
    * list (the "forward index" lookup), grouped on (query, term).
    * Both candidate-hit frames are cache-bracketed.
    */
  def bm25Prf(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      fbDocs: Int, fbTerms: Int, k: Int,
      p: Bm25Params = Bm25Params()): DataFrame = {
    require(fbDocs > 0 && fbTerms > 0 && k > 0,
      "fbDocs, fbTerms, k must be positive")
    val toks = TF.tokens(col(textCol))
    val index = bm25IndexTokens(docs, idCol, toks)
    val qT = queryTerms(queries, qidCol, qtextCol)
    val hits1 = prunedHits(docs, idCol, toks,
      qT.select("tok").distinct())
    val pass1 = graft.core.Caching.withCached(hits1)(
      rankTopK(bm25ScoresFromHits(index, hits1, qT, p), fbDocs))
    prfFromPass1(docs, idCol, toks, qT,
      pass1.select(col("query_id"), col("doc_id")), fbTerms, k, p)
  }

  /** The second half of [[bm25Prf]] over an already-ranked feedback
    * set `pass1(query_id, doc_id)` — split out so composites that
    * ALREADY hold a top-k of the same queries (the scorecard: pass 1
    * at fbDocs=3 is a rank-filter of the bm25 top-10) can skip the
    * redundant first pass.
    *
    * Feedback-term extraction is the "forward index" lookup: instead
    * of joining a FULL postings build against the (|Q|·fbDocs)-row
    * feedback list, the feedback documents are broadcast-semi-joined
    * out of the corpus and only THEY are exploded and counted —
    * identical (doc, tok, tf) rows (tokenization is per-document, so
    * restricting the corpus before explode/groupBy commutes with
    * restricting the postings after), corpus work ∝ feedback set.
    */
  private[graft] def prfFromPass1(docs: DataFrame, idCol: String,
      toks: Column, qT: DataFrame, pass1: DataFrame, fbTerms: Int,
      k: Int, p: Bm25Params): DataFrame = {
    val index = bm25IndexTokens(docs, idCol, toks)
    val fbPostings = docs
      .join(broadcast(pass1.select(col("doc_id").as("__fb_doc"))),
        col(idCol) === col("__fb_doc"), "left_semi")
      .select(col(idCol).as("doc_id"), explode(toks).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val qT2 = prfExpandedTerms(fbPostings, qT, pass1, fbTerms)
    val hits2 = prunedHits(docs, idCol, toks,
      qT2.select("tok").distinct())
    graft.core.Caching.withCached(hits2)(
      rankTopK(bm25ScoresFromHits(index, hits2, qT2, p), k))
  }

  /** The PRF expansion step shared by [[prfFromPass1]] and
    * [[prfFromOcc]]: feedback-term scores from the feedback postings,
    * top `fbTerms` non-query terms per query, unioned onto the
    * original query terms.
    */
  private def prfExpandedTerms(fbPostings: DataFrame, qT: DataFrame,
      pass1: DataFrame, fbTerms: Int): DataFrame = {
    val fbTermScores = fbPostings
      .join(broadcast(pass1), Seq("doc_id"))
      .join(qT, Seq("query_id", "tok"), "left_anti")
      .groupBy(col("query_id"), col("tok"))
      .agg(sum(col("tf")).as("fbscore"))
    val expansion = fbTermScores
      .withColumn("r", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("fbscore").desc, col("tok"))))
      .filter(col("r") <= fbTerms)
      .select(col("query_id"), col("tok"))
    qT.union(expansion).distinct()
  }

  /** [[prfFromPass1]] over a prepared [[positionalPostings]] frame —
    * the composite-card variant: the feedback postings and the
    * expanded candidate frame are broadcast prunes over `occ` instead
    * of two more corpus scans. Row-identical: feedback postings are
    * the per-(doc, tok) counts over the feedback docs either way, and
    * the candidate prune commutation is [[prunedHits]]'s. Lazy — the
    * caller holds `occ` eagerly materialized, so re-evaluation never
    * re-scans the corpus and no cache bracket is needed.
    */
  private[graft] def prfFromOcc(occ: DataFrame, index: Bm25Index,
      qT: DataFrame, pass1: DataFrame, fbTerms: Int, k: Int,
      p: Bm25Params): DataFrame = {
    val fbPostings = occ
      .join(broadcast(pass1.select(col("doc_id").as("__fb_doc"))),
        col("doc_id") === col("__fb_doc"), "left_semi")
      .select(col("doc_id"), col("tok"), col("tf"))
    val qT2 = prfExpandedTerms(fbPostings, qT, pass1, fbTerms)
    val hits2 = occ
      .join(broadcast(qT2.select("tok").distinct()), Seq("tok"))
      .select(col("tok"), col("doc_id"), col("tf"))
    rankTopK(bm25ScoresFromHits(index, hits2, qT2, p), k)
  }

  /** Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    * 2001) — the language-modeling member of the classic ranking pair
    * next to BM25: score(q, d) = Σ_t ln((tf + μ·P(t|C)) / (dl + μ)),
    * decomposed so candidates are the SAME sparse postings join as
    * BM25 (docs sharing no query term are excluded — the
    * sparse-candidate convention):
    * Σ_matched ln((tf + μP_t)/(μP_t)) + Σ_t ln(μP_t) − |q|·ln(dl + μ).
    * Every ln is floored to integer micro independently (matched
    * deltas per (q, term, doc); the query-constant per term; the
    * length term once per (q, d)), so the score is an exact int64
    * composition any engine replays. Collection statistics (cf, Σdl)
    * are computed over the query-pruned postings — exact, as in
    * [[bm25ScoresFromHits]].
    *
    * Scale shape identical to [[bm25TopK]]: one postings shuffle,
    * query-vocabulary-sized broadcast sides, one query-keyed ranking
    * exchange; the candidate-hit frame is cache-bracketed.
    */
  /** The three pre-floor doubles of [[qlTopK]] (each × 10⁶), keyed by
    * component — exposed for the guard-band audit (GuardBandSpec):
    * `aq_term` over (tok → cf, sdl), `delta` over (tf, cf, sdl),
    * `len` over (dl).
    */
  private[graft] def qlFloorDoubles(mu: Double): Map[String, Column] = {
    val muP = lit(mu) *
      (col("cf").cast("double") / col("sdl").cast("double"))
    Map(
      "aq_term" -> (log(muP) * lit(1e6)),
      "delta" -> (log((col("tf").cast("double") + muP) / muP) *
        lit(1e6)),
      "len" -> (log(col("dl").cast("double") + lit(mu)) * lit(1e6)))
  }

  def qlTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      mu: Double = 100.0): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = TF.tokens(col(textCol))
    val index = bm25IndexTokens(docs, idCol, toks)
    val qTerms = queryTerms(queries, qidCol, qtextCol)
    val hits = prunedHits(docs, idCol, toks,
      qTerms.select("tok").distinct())
    graft.core.Caching.withCached(hits)(
      qlRankFromHits(index, hits, qTerms, k, mu))
  }

  /** The [[qlTopK]] ranking over a prepared candidate-hit frame —
    * split out (like [[bm25ScoresFromHits]]) so composites can share
    * ONE hit materialization across the bm25 and ql pipelines; eager
    * callers bracket `hits` themselves.
    */
  private[graft] def qlRankFromHits(index: Bm25Index, hits: DataFrame,
      qTerms: DataFrame, k: Int, mu: Double): DataFrame = {
    val cf = hits.groupBy("tok").agg(sum(col("tf")).as("cf"))
    val fd = qlFloorDoubles(mu)
    // per-query constants: known terms only (inner join on cf)
    val qstats = qTerms.join(broadcast(cf), Seq("tok"))
      .crossJoin(broadcast(index.stats))
      .withColumn("aq_term", floor(fd("aq_term")).cast("long"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("nq"), sum(col("aq_term")).as("aq"))
    // delta is floored per (tok, doc) BEFORE the query join — it
    // reads only (tf, cf, corpus stats); see [[bm25ScoresFromHits]]
    val scored = hits
      .join(broadcast(cf), Seq("tok"))
      .crossJoin(broadcast(index.stats))
      .withColumn("delta_micro", floor(fd("delta")).cast("long"))
      .join(broadcast(qTerms), Seq("tok"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("delta_micro")).as("dsum"))
      .join(index.doclen, Seq("doc_id"))
      .join(broadcast(qstats), Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        (col("dsum") + col("aq") - col("nq") *
          floor(fd("len")).cast("long")).as("score_micro"))
    rankTopK(scored, k)
  }

  /** Reciprocal-rank fusion of two ranked candidate lists (Cormack,
    * Clarke & Buettcher 2009): rrf(d) = Σ 1/(k₀ + rankᵢ(d)) over the
    * systems that retrieved d — the standard way to combine sparse
    * (BM25) and dense (embedding) retrieval without score
    * calibration, since only RANKS enter the fusion. Contributions
    * are the exact integers `10⁶ div (k₀ + rank)` (a document missing
    * from one list contributes 0, its reported rank is 0), so the
    * fused ordering replays exactly in any engine; ties break on the
    * doc id.
    *
    * Scale shape: both inputs are already top-k'd per query —
    * query-cardinality-sized, NOT corpus-sized — so the full-outer
    * join and the fusion window share one exchange keyed by query.
    */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, k0: Int,
      topK: Int): DataFrame = {
    require(k0 > 0 && topK > 0, "k0 and topK must be positive")
    val s = sparse.select(col("query_id"), col("doc_id"),
      col("rank").as("rank_sparse"))
    val d = dense.select(col("query_id"), col("doc_id"),
      col("rank").as("rank_dense"))
    val fused = s.join(d, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        (when(col("rank_sparse").isNull, 0L)
          .otherwise(expr(s"1000000 div ($k0 + rank_sparse)"))) +
        (when(col("rank_dense").isNull, 0L)
          .otherwise(expr(s"1000000 div ($k0 + rank_dense)"))))
    fused
      .withColumn("rank", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("rrf_micro").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        coalesce(col("rank_sparse"), lit(0L)).as("rank_sparse"),
        coalesce(col("rank_dense"), lit(0L)).as("rank_dense"),
        col("rrf_micro"))
  }

  /** Phrase-boosted re-ranking: BM25 candidates post-checked for
    * EXACT phrase containment, phrase hits ranked first (the standard
    * phrase-query upgrade of a bag-of-words retriever — Lucene's
    * PhraseQuery semantics, realized positionally through gram
    * hashing rather than position lists). A document "contains the
    * phrase" iff the full query string appears as a contiguous token
    * 4-gram, checked by joining the candidates' 4-gram 60-bit hashes
    * (the [[TextFunctions.shingleHashes]] convention the dedup stack
    * already uses — `Curation.exactSubstringSpans` is the positional
    * sibling) against the query-phrase hash. Queries longer or
    * shorter than 4 tokens simply never match a 4-gram — identical
    * semantics in both engines.
    *
    * Scale shape: the corpus-scale work is all inside [[bm25TopK]].
    * The phrase check explodes grams ONLY for candidate documents — a
    * semi-join prune to ≤|Q|·k docs — and matches on an 8-byte hash
    * key; the final re-rank window shares the query-keyed exchange
    * the top-k already produced.
    */
  /** Exact-phrase containment feature over a candidate set: one row
    * per (query, doc) whose document contains the query text as a
    * verbatim 4-token phrase (`phrase_hit = 1`) — the containment
    * test [[phraseRerank]] boosts on, exposed so feature consumers
    * (the p173 learning-to-rank head) share the plan.
    */
  private[pipeline] def phraseFeature(docs: DataFrame, idCol: String,
      textCol: String, cand: DataFrame, queries: DataFrame,
      qidCol: String, qtextCol: String): DataFrame = {
    val qPhrase = queries.select(col(qidCol).as("query_id"),
      (TF.hash60(col(qtextCol)) % TF.P).as("ph"))
    val candTexts = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .join(broadcast(cand.select("doc_id").distinct()), Seq("doc_id"),
        "left_semi")
    val grams = candTexts.select(col("doc_id"),
      explode(TF.shingleHashes(graft.functions.HashKernelFunctions
        .shingles(TF.tokens(col("text")), 4))).as("g"))
    grams
      .join(broadcast(cand.join(qPhrase, Seq("query_id"))
        .select(col("query_id"), col("doc_id"), col("ph"))),
        Seq("doc_id"))
      .filter(col("g") === col("ph"))
      .select(col("query_id"), col("doc_id")).distinct()
      .withColumn("phrase_hit", lit(1L))
  }

  def phraseRerank(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      p: Bm25Params = Bm25Params()): DataFrame = {
    val base = bm25TopK(docs, idCol, textCol, queries, qidCol,
      qtextCol, k, p)
    val cand = base.select(col("query_id"), col("doc_id"),
      col("score_micro"))
    val hits = phraseFeature(docs, idCol, textCol, cand, queries,
      qidCol, qtextCol)
    cand.join(hits, Seq("query_id", "doc_id"), "left")
      .withColumn("phrase_hit", coalesce(col("phrase_hit"), lit(0L)))
      .withColumn("rank", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("phrase_hit").desc, col("score_micro").desc,
            col("doc_id")))
        .cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("phrase_hit"), col("score_micro"))
  }

  /** Proximity-boosted re-ranking — the term-proximity factor classic
    * IR adds on top of bag-of-words scores (Rasolofo & Savoy 2003
    * pairwise form): documents whose DISTINCT matched query terms
    * occur close together are boosted by `10⁶ div (minDist + k₀)`,
    * where minDist is the smallest positional distance between
    * occurrences of two different query terms (a verbatim-adjacent
    * pair gives the maximal boost; single-term matches get 0). The
    * boost and the combined score are exact integers, so ranking
    * replays in any engine; ties break on the doc id.
    *
    * Scale shape: the corpus-scale work is all inside the base
    * ranking. The pair scan runs ONLY inside (query, candidate-doc)
    * groups — match positions per candidate are query-length-bounded,
    * so the self-join is quadratic only in per-doc match count, never
    * in corpus or document length; the re-rank window shares the
    * query-keyed exchange.
    */
  /** Minimum distinct-term pair distance over a candidate set — the
    * positional feature [[proximityRerank]] boosts on, exposed so
    * feature consumers (the p173 learning-to-rank head) share the
    * plan. One row per (query, doc) holding ≥2 distinct query terms.
    */
  private[pipeline] def proximityFeature(docs: DataFrame, idCol: String,
      textCol: String, cand: DataFrame, qT: DataFrame): DataFrame = {
    val pos = docs.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("tok"))
      .join(broadcast(cand.select("doc_id").distinct()), Seq("doc_id"),
        "left_semi")
    val m = pos
      .join(broadcast(cand.select("query_id", "doc_id")), Seq("doc_id"))
      .join(broadcast(qT), Seq("query_id", "tok"))
    val a = m.select(col("query_id"), col("doc_id"),
      col("pos").as("pa"), col("tok").as("ta"))
    val b = m.select(col("query_id"), col("doc_id"),
      col("pos").as("pb"), col("tok").as("tb"))
    a.join(b, Seq("query_id", "doc_id"))
      .filter(col("ta") =!= col("tb"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(abs(col("pa") - col("pb"))).as("min_pair_dist"))
  }

  def proximityRerank(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      k0: Int = 4, p: Bm25Params = Bm25Params()): DataFrame = {
    require(k > 0 && k0 >= 0, "k must be positive, k0 non-negative")
    val base = bm25TopK(docs, idCol, textCol, queries, qidCol,
      qtextCol, k, p)
    val cand = base.select(col("query_id"), col("doc_id"),
      col("score_micro"))
    val qT = queryTerms(queries, qidCol, qtextCol)
    val minDist = proximityFeature(docs, idCol, textCol, cand, qT)
    cand.join(minDist, Seq("query_id", "doc_id"), "left")
      .withColumn("prox_micro",
        when(col("min_pair_dist").isNull, lit(0L))
          .otherwise(expr(s"1000000 div (min_pair_dist + $k0)")))
      .withColumn("combined_micro",
        col("score_micro") + col("prox_micro"))
      .withColumn("rank", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("combined_micro").desc, col("doc_id")))
        .cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        coalesce(col("min_pair_dist"), lit(0L)).as("min_pair_dist"),
        col("prox_micro"), col("score_micro"), col("combined_micro"))
  }

  /** Snippet extraction for a ranked result set — the display stage
    * of a search stack: for each retrieved (query, doc) pair, the
    * `windowTokens`-token window of the document holding the MOST
    * query-term occurrences (ties to the earliest start), with its
    * 1-based start position and matched-term count. Deterministic and
    * purely positional: match positions come from the token sequence,
    * the window count is a range frame over positions, and the argmax
    * is integer — any engine replays it exactly. An optimal window
    * always starts at a match position, so only match positions are
    * scored.
    *
    * Scale shape: tokens are exploded ONLY for candidate documents
    * (semi-join prune to the ≤|Q|·topDocs result set); the window
    * count and argmax share one (query, doc)-keyed exchange; the
    * snippet text is sliced from the token array in a final
    * broadcast-sized join — the corpus is never scanned beyond the
    * candidate prune.
    */
  def snippets(docs: DataFrame, idCol: String, textCol: String,
      ranked: DataFrame, queries: DataFrame, qidCol: String,
      qtextCol: String, topDocs: Int, windowTokens: Int): DataFrame = {
    require(topDocs > 0 && windowTokens > 0,
      "topDocs and windowTokens must be positive")
    val cand = ranked.filter(col("rank") <= topDocs)
      .select(col("query_id"), col("doc_id"))
    val qT = queryTerms(queries, qidCol, qtextCol)
    val toks = docs.select(col(idCol).as("doc_id"),
        TF.tokens(col(textCol)).as("toks"))
      .join(broadcast(cand.select("doc_id").distinct()), Seq("doc_id"),
        "left_semi")
    val pos = toks
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("tok"))
    val matches = pos
      .join(broadcast(cand), Seq("doc_id"))
      .join(broadcast(qT), Seq("query_id", "tok"))
    val frame = Window.partitionBy(col("query_id"), col("doc_id"))
      .orderBy(col("pos"))
      .rangeBetween(Window.currentRow, windowTokens - 1)
    val best = matches
      .withColumn("n_matched", count(lit(1)).over(frame))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"), col("doc_id"))
          .orderBy(col("n_matched").desc, col("pos"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("doc_id"),
        col("pos").as("start_pos"), col("n_matched"))
    best.join(toks, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("start_pos"),
        col("n_matched"),
        concat_ws(" ", slice(col("toks"), col("start_pos"),
          lit(windowTokens))).as("snippet"))
  }

  /** Per-query nDCG metric for a ranked frame under the planted
    * relevance convention: one row per QUERY (not per result) with
    * the [[dcgMicroTable]] discount of the source doc's rank, or 0 if
    * it missed the top k — the per-query vector the significance test
    * consumes. Integer-exact like [[rankingScorecard]].
    */
  def perQueryNdcg(ranked: DataFrame, queryIds: DataFrame,
      topK: Int): DataFrame = {
    val dcg = dcgMicroTable(topK).reverse
      .foldLeft(lit(0L): Column) { case (els, (r, v)) =>
        when(col("rank") === r, lit(v)).otherwise(els) }
    queryIds.select(col("query_id"))
      .join(ranked.filter(col("doc_id") === col("query_id"))
        .select(col("query_id"), dcg.as("m0")), Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("m0"), lit(0L)).as("m"))
  }

  /** Paired sign-flip randomization test (Smucker, Allan & Carterette
    * 2007 — the recommended significance test for IR metric
    * differences): given per-query metrics of two systems, the
    * observed statistic is T = Σ_q (m_a − m_b); each of `nPerms`
    * permutations flips the sign of each query's difference by an
    * independent coin and the p-value is the fraction of permutations
    * with |T_i| ≥ |T| (two-sided). The coins are the engine's
    * portable-hash draws — `hash60(salt ‖ perm ‖ query) % 2` — so the
    * whole test is deterministic and the oracle replays every
    * permutation exactly; all sums are int64 micro.
    *
    * Scale shape: the permutation table is an in-plan explode of the
    * per-query differences (|Q|·nPerms rows of three integers), one
    * perm-keyed partial-aggregated shuffle, and single-row
    * broadcasts — no driver loop, no RNG state.
    */
  def pairedSignificance(perQuery: DataFrame, method: String,
      nPerms: Int, salt: String): DataFrame = {
    require(nPerms > 0, "nPerms must be positive")
    val d = perQuery.select(col("query_id"),
      (col("m_a") - col("m_b")).as("d"))
    val obs = d.agg(sum(col("d")).as("t_obs"))
    val perms = d
      .select(col("query_id"), col("d"),
        explode(sequence(lit(1), lit(nPerms))).as("perm"))
      .withColumn("sd", when(
        TF.hash60(concat(lit(salt), col("perm").cast("string"),
          lit("_"), col("query_id").cast("string"))) % 2 === 0,
        -col("d")).otherwise(col("d")))
      .groupBy(col("perm")).agg(sum(col("sd")).as("t"))
    perms.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perms"),
        sum(when(abs(col("t")) >= abs(col("t_obs")), 1L)
          .otherwise(0L)).as("n_ge"))
      .crossJoin(broadcast(obs))
      .select(lit(method).as("method"),
        col("t_obs").as("t_obs_micro"), col("n_perms"), col("n_ge"),
        expr("(n_ge * 1000000) div n_perms").as("p_micro"))
  }

  /** Bootstrap percentile confidence interval for MRR (Efron's
    * nonparametric bootstrap): `nBoot` resamples of the query set
    * WITH replacement, each resample's MRR computed over the planted
    * relevance, and the 5th/95th-percentile order statistics of the
    * resampled MRRs reported beside the point estimate — the error
    * bar a 13-query scorecard needs before anyone trusts a
    * difference (the companion to [[pairedSignificance]]: that says
    * whether a DIFFERENCE is real, this says how wide ONE system's
    * estimate is).
    *
    * Determinism: the j-th draw of resample b is query index
    * `hash60(salt‖b‖_‖j) mod n` — the engine's portable hash, no
    * RNG state — so the oracle replays every resample exactly; all
    * MRR arithmetic is int64 micro with integer division (the
    * scorecard's convention), and the CI bounds are exact order
    * statistics (rank ⌊B/20⌋ and B−⌊B/20⌋ of the sorted resample
    * MRRs, ties broken by resample id).
    *
    * Scale shape: per-query reciprocal ranks are |Q| rows; the
    * resample grid is an in-plan explode of B·|Q| integer triples
    * feeding one b-keyed partial-aggregated shuffle — no driver
    * loop. B and |Q| are evaluation-sized, never corpus-sized.
    */
  def bootstrapMrrCi(ranked: DataFrame, queryIds: DataFrame,
      method: String, nBoot: Int, salt: String): DataFrame = {
    require(nBoot >= 20, "nBoot must be >= 20 for a 5th percentile")
    val rr = queryIds.select(col("query_id"))
      .join(ranked.filter(col("doc_id") === col("query_id"))
        .select(col("query_id"), expr("1000000 div rank").as("rr0")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("rr0"), lit(0L)).as("rr"))
    val idx = rr.withColumn("idx",
      row_number().over(Window.orderBy(col("query_id")))
        .cast("long") - 1)
    val nq = broadcast(idx.agg(count(lit(1)).as("nq")))
    val grid = nq
      .select(explode(sequence(lit(1), lit(nBoot))).as("b"), col("nq"))
      .select(col("b"), col("nq"),
        explode(sequence(lit(0L), col("nq") - 1)).as("j"))
      .withColumn("idx",
        TF.hash60(concat(lit(salt), col("b").cast("string"), lit("_"),
          col("j").cast("string"))) % col("nq"))
    val boot = grid.join(idx.select(col("idx"), col("rr")), Seq("idx"))
      .groupBy(col("b"), col("nq")).agg(sum(col("rr")).as("s"))
      .select(col("b"),
        call_function("div", col("s"), col("nq")).as("mrr"))
    val rn = boot.withColumn("rn",
      row_number().over(Window.orderBy(col("mrr").asc, col("b").asc)))
    val lo = nBoot / 20
    val hi = nBoot - nBoot / 20
    val obs = rr.agg(count(lit(1)).as("n_queries"),
      call_function("div", sum(col("rr")), count(lit(1)))
        .as("mrr_micro"))
    val ci = rn.agg(
      max(when(col("rn") === lo, col("mrr"))).as("ci_lo_micro"),
      max(when(col("rn") === hi, col("mrr"))).as("ci_hi_micro"))
    obs.crossJoin(broadcast(ci))
      .select(lit(method).as("method"), col("n_queries"),
        lit(nBoot.toLong).as("n_boot"), col("mrr_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"))
  }

  /** Spell suggestion over the corpus vocabulary — the query-repair
    * stage of a search stack ("did you mean"): each probe string gets
    * the closest vocabulary token by exact Levenshtein distance
    * (Spark's and DuckDB's built-ins implement the same unit-cost
    * edit distance, so the oracle replays it), candidates generated
    * through a character-bigram inverted index so no probe ever scans
    * the whole vocabulary. Ties break on (distance, candidate);
    * probes that ARE vocabulary tokens still get their nearest
    * non-identical neighbor (distance 0 is excluded).
    *
    * Scale shape: the bigram index is VOCABULARY-sized (not corpus),
    * built from one token-count shuffle; probes explode to bigrams
    * and equi-join it on 2-char keys; the edit-distance verify runs
    * only on candidates sharing a bigram. At web-scale vocabularies
    * the hottest bigrams would get a frequency cap exactly like the
    * shingle index's stopword cap — same prefilter-never-drops
    * argument, since a ≤2-edit neighbor of a ≥4-char token always
    * shares at least one uncapped bigram in realistic distributions.
    */
  def spellSuggest(docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeCol: String, minCount: Long,
      maxDist: Int): DataFrame = {
    require(maxDist > 0, "maxDist must be positive")
    // 1-char probes guard against Spark's descending sequence(1, 0)
    // (start > stop infers step -1 -> substr(0, 2) garbage bigrams);
    // a single character has no bigrams — the TextFunctions.shingles
    // convention.
    def bigrams(c: Column) = when(length(c) >= 2,
      array_distinct(transform(
        sequence(lit(1), length(c) - 1), i => c.substr(i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    val vocab = docs.select(explode(TF.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount && length(col("tok")) >= 3)
    // two projection stages: exploding a bigram array derived from a
    // same-select alias trips LateralColumnAliasReference resolution
    val inv = vocab.select(col("tok").as("cand"))
      .withColumn("bg", explode(bigrams(col("cand"))))
    val pb = probes.select(col(probeCol).as("probe"))
      .withColumn("bg", explode(bigrams(col("probe"))))
    val cands = pb.join(inv, Seq("bg"))
      .select("probe", "cand").distinct()
    val scored = cands
      .withColumn("dist",
        levenshtein(col("probe"), col("cand")).cast("long"))
      .filter(col("dist") <= maxDist && col("dist") > 0)
    scored
      .withColumn("n_cands",
        count(lit(1)).over(Window.partitionBy(col("probe"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("probe"))
          .orderBy(col("dist"), col("cand"))))
      .filter(col("rn") === 1)
      .select(col("probe"), col("cand").as("suggestion"), col("dist"),
        col("n_cands"))
  }

  /** Distinct token k-gram hash postings `(gdoc, g)` — the static
    * side streaming phrase search joins each micro-batch against
    * ([[graft.streaming.StreamingJobs.phraseSearch]]); the batch
    * [[phraseRerank]] derives the same hashes inline over its pruned
    * candidate set. 8-byte keys, one row per distinct gram per doc.
    */
  def gramIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(col(idCol).as("gdoc"),
      explode(TF.shingleHashes(graft.functions.HashKernelFunctions
        .shingles(TF.tokens(col(textCol)), k))).as("g"))

  /** nDCG discount table: floor(10⁶ / log₂(rank+1)) for ranks
    * 1..maxRank, computed ONCE on the driver and embedded as literals
    * into both the Spark plan and the generated oracle SQL. Both
    * engines replay IDENTICAL constants, so no cross-engine libm
    * disagreement can flip a floor — the folded-literal discipline
    * applied to the one transcendental the scorecard needs.
    */
  def dcgMicroTable(maxRank: Int): Seq[(Int, Long)] =
    (1 to maxRank).map(r =>
      r -> math.floor(1e6 * math.log(2.0) / math.log(r + 1.0)).toLong)

  /** Ranking-quality scorecard against a planted relevance set: the
    * evaluation layer the retrieval stack reports to (the text-side
    * sibling of the ANN recall scorecard). The relevance convention is
    * the planted-prefix one the p112 query family establishes — each
    * query is a prefix of its source document, so the KNOWN-relevant
    * doc for `query_id` is the document with that id. With a single
    * relevant doc per query the metrics collapse to exact closed
    * forms: MRR contribution = 10⁶ div rank (exact integer), nDCG@k
    * contribution = 1/log₂(rank+1) via [[dcgMicroTable]] literals,
    * both summed as int64 and divided by the query count with integer
    * `div` — bit-stable in any engine. A ranking regression (the
    * source doc slipping down or out of the top k) moves these
    * numbers, which is the whole point.
    *
    * Scale shape: the input is already top-k'd — |Q|·k rows, never
    * corpus-sized — and the scorecard is one partially-aggregated
    * reduction to a single row; the planted truth means NO join is
    * needed to mark relevance.
    */
  def rankingScorecard(ranked: DataFrame, method: String,
      topK: Int): DataFrame = {
    val dcg = dcgMicroTable(topK).reverse
      .foldLeft(lit(0L): Column) { case (els, (r, v)) =>
        when(col("rank") === r, lit(v)).otherwise(els) }
    ranked
      .select(col("query_id"), col("rank"), col("doc_id"))
      .withColumn("hit", (col("doc_id") === col("query_id")).cast("long"))
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        sum(col("hit")).as("n_hits"),
        sum(when(col("hit") === 1L, expr("1000000 div rank"))
          .otherwise(0L)).as("rr_sum"),
        sum(when(col("hit") === 1L, dcg).otherwise(0L)).as("dcg_sum"))
      .select(lit(method).as("method"), col("n_queries"), col("n_hits"),
        expr("rr_sum div n_queries").as("mrr_micro"),
        expr("dcg_sum div n_queries").as("ndcg_micro"))
  }

  /** End-to-end BM25 search: index the corpus, score every query
    * against it, keep the top `k` documents per query by
    * (score DESC, doc_id). The candidate-hit frame is cache-bracketed
    * (it feeds the df rollup and the scoring join), so the postings
    * shuffle runs ONCE.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      p: Bm25Params = Bm25Params()): DataFrame =
    bm25TopKTokens(docs, idCol, TF.tokens(col(textCol)), queries,
      qidCol, qtextCol, k, p)

  /** [[bm25TopK]] over a token-array expression, with the candidate
    * hits built by [[prunedHits]] — the full-vocabulary postings
    * shuffle never runs; doclen/stats come from the (lazy) index
    * whose postings are never evaluated.
    */
  def bm25TopKTokens(docs: DataFrame, idCol: String, toks: Column,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
      p: Bm25Params = Bm25Params()): DataFrame = {
    require(k > 0, "k must be positive")
    val index = bm25IndexTokens(docs, idCol, toks)
    val qTerms = queryTerms(queries, qidCol, qtextCol)
    val hits = prunedHits(docs, idCol, toks,
      qTerms.select("tok").distinct())
    graft.core.Caching.withCached(hits)(
      rankTopK(bm25ScoresFromHits(index, hits, qTerms, p), k))
  }

  /** Full-vs-deduped ranking scorecards off ONE postings build (p156,
    * p180's retrieval section): the deduped index is the FULL index
    * with the dropped docs anti-joined away — bit-identical to
    * re-indexing the deduped corpus, because tokenization is per-doc
    * (removal commutes with explode/groupBy), document frequency is
    * counted over each corpus's own pruned postings either way, and
    * the stats row re-aggregates the filtered doclen. One corpus
    * tokenization and one postings shuffle serve both cards (the lazy
    * composition paid both twice).
    */
  def bm25DedupImpactCards(docs: DataFrame, idCol: String,
      textCol: String, queries: DataFrame, qidCol: String,
      qtextCol: String, dropped: DataFrame, k: Int,
      p: Bm25Params = Bm25Params()): DataFrame = {
    val toks = TF.tokens(col(textCol))
    val index = bm25IndexTokens(docs, idCol, toks)
    val d = broadcast(dropped.select(col("doc_id")))
    val dedupDoclen = index.doclen.join(d, Seq("doc_id"), "left_anti")
    val dedup = Bm25Index(
      index.postings.join(d, Seq("doc_id"), "left_anti"),
      dedupDoclen,
      dedupDoclen.agg(count(lit(1)).as("nd"), sum("dl").as("sdl")))
    val qT = queryTerms(queries, qidCol, qtextCol)
    // ONE pruned candidate-hit frame serves both corpora: the deduped
    // hits are the full hits with dropped docs anti-joined (identical
    // to pruning the deduped postings — both operations are per-row
    // filters on different keys, so they commute); the shared cache
    // now holds query-term hits, not the full-vocabulary postings
    val hits = prunedHits(docs, idCol, toks,
      qT.select("tok").distinct())
    val dedupHits = hits.join(d, Seq("doc_id"), "left_anti")
    val cards = graft.core.Caching.withCachedMulti(hits)(Seq(
      rankTopK(bm25ScoresFromHits(index, hits, qT, p), k),
      rankTopK(bm25ScoresFromHits(dedup, dedupHits, qT, p), k)))
    rankingScorecard(cards(0), "full", topK = k)
      .unionByName(rankingScorecard(cards(1), "dedup_minid", topK = k))
  }

  /** Hard-negative mining for retrieval-model training data (the
    * BM25-negatives recipe of DPR — Karpukhin et al. 2020 §3.2: the
    * strongest training signal comes from top-ranked lexical matches
    * that are NOT the answer): for each query, score the corpus with
    * [[bm25ScoresFromHits]], anti-join the known positives away, and
    * keep the top `k` survivors re-ranked 1..k — the (query,
    * hard-negative) pairs an embedding-model contrastive batch
    * consumes. Positives are removed BEFORE the ranking window, so
    * every query yields k true negatives (a post-rank filter would
    * silently under-fill).
    *
    * Scale shape: identical to [[bm25TopK]] — one map-side-combined
    * postings shuffle, broadcast query/df sides — plus a BROADCAST
    * anti-join against the positives (query-set-sized by definition)
    * ahead of the single query-keyed rank exchange.
    *
    * @param positives (query_id, doc_id) pairs to exclude
    */
  def bm25HardNegatives(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      positives: DataFrame, k: Int,
      p: Bm25Params = Bm25Params()): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = TF.tokens(col(textCol))
    val index = bm25IndexTokens(docs, idCol, toks)
    val qTerms = queryTerms(queries, qidCol, qtextCol)
    val hits = prunedHits(docs, idCol, toks,
      qTerms.select("tok").distinct())
    graft.core.Caching.withCached(hits)(
      rankTopK(
        bm25ScoresFromHits(index, hits, qTerms, p)
          .join(broadcast(positives.select(col("query_id"),
            col("doc_id"))), Seq("query_id", "doc_id"), "left_anti"),
        k))
  }

  /** PMI query expansion (automatic-thesaurus expansion, Church-Hanks
    * collocates as the expansion source): each original query term
    * scores with integer weight 2, and the top-PMI right-collocate of
    * each query term — drawn from a `collocations` table of
    * `(tok_a, tok_b, pmi_micro)` rows, e.g.
    * [[graft.pipeline.Curation.pmiCollocations]]'s top-k — joins the
    * query with weight 1 (a collocate already in the query keeps
    * weight 2). Weights multiply AFTER the per-term micro floor, so
    * scores stay exact int64 and the unexpanded ranking is invariant
    * under the uniform ×2.
    *
    * Returns the plain ranking (index 0) AND the PMI-expanded one
    * (index 1) off ONE pruned candidate-hit frame (p144's sharing):
    * hits are pruned to the EXPANDED query vocabulary once and cached;
    * the plain ranking's hits are that frame filtered to the original
    * query terms — bit-identical to pruning the postings with each
    * vocabulary separately, at one explode.
    *
    * Scale shape: the collocation table is top-k-sized and broadcast
    * twice (top-1 window, then the expansion join); everything else
    * is [[bm25TopK]]'s plan — broadcast df, one query-keyed rank
    * exchange per ranking.
    */
  def bm25PlainAndPmiExpanded(docs: DataFrame, idCol: String,
      textCol: String, queries: DataFrame, qidCol: String,
      qtextCol: String, collocations: DataFrame, k: Int,
      p: Bm25Params = Bm25Params()): Seq[DataFrame] = {
    require(k > 0, "k must be positive")
    val toks = TF.tokens(col(textCol))
    val index = bm25IndexTokens(docs, idCol, toks)
    val qT = queryTerms(queries, qidCol, qtextCol)
    val wTerms = pmiExpandedTerms(qT, collocations)
    val hitsWide = prunedHits(docs, idCol, toks,
      wTerms.select("tok").distinct())
    graft.core.Caching.withCachedMulti(hitsWide)(Seq(
      rankTopK(bm25ScoresFromHits(index,
        hitsWide.join(broadcast(qT.select("tok").distinct()), Seq("tok")),
        qT, p), k),
      rankTopK(pmiWeightedScores(index, hitsWide, wTerms, p), k)))
  }

  /** The weighted expanded term set of [[bm25PlainAndPmiExpanded]]:
    * original terms at weight 2, each term's top-PMI right-collocate
    * at weight 1 (a collocate already in the query keeps 2).
    */
  private def pmiExpandedTerms(qT: DataFrame,
      collocations: DataFrame): DataFrame = {
    val top1 = collocations
      .withColumn("r", row_number().over(Window.partitionBy(col("tok_a"))
        .orderBy(col("pmi_micro").desc, col("tok_b").asc)))
      .filter(col("r") === 1)
      .select(col("tok_a"), col("tok_b"))
    val exp = qT.join(broadcast(top1), qT("tok") === top1("tok_a"))
      .select(col("query_id"), col("tok_b").as("tok"))
    qT.select(col("query_id"), col("tok"), lit(2L).as("w"))
      .unionByName(exp.select(col("query_id"), col("tok"),
        lit(1L).as("w")))
      .groupBy("query_id", "tok").agg(max(col("w")).as("w"))
  }

  /** The expanded ranker's weighted scoring body —
    * [[bm25ScoresFromHits]] with the per-term integer weight
    * multiplied AFTER the micro floor.
    */
  private def pmiWeightedScores(index: Bm25Index, hits: DataFrame,
      wTerms: DataFrame, p: Bm25Params): DataFrame = {
    val df = hits.groupBy("tok").agg(count(lit(1)).as("df"))
    // doclen AND the floored per-(tok, doc) contribution before the
    // query join — see [[bm25ScoresFromHits]]; the query-dependent
    // weight multiplies the floored integer, exactly as it did when
    // the whole expression sat after the join
    hits
      .join(index.doclen, Seq("doc_id"))
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(index.stats))
      .withColumn("c0_micro", contribMicro(p))
      .join(broadcast(wTerms), Seq("tok"))
      .withColumn("contrib_micro", col("c0_micro") * col("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("contrib_micro")).as("score_micro"))
  }
}
