package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: the streaming twins of the batch
  * operators, for incremental ingest of the events stream.
  *
  * The reference has no streaming surface (SURVEY.md §2.9) — every
  * pipeline is a batch recompute. These jobs are the beyond-reference
  * extension: the SAME logical plans as the batch queries
  * (PipelineQueries.p14WindowAgg / p13Sessionize), run incrementally
  * with watermarks and state stores, which is how the engine would keep
  * derived tables current at 100 TB instead of recomputing them.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * horizon × group cardinality; sessionization state by open sessions
  * per key, closed deterministically by event-time timeout. Both
  * shuffle once on the grouping key, exactly like their batch twins.
  */
object StreamingJobs {

  /** Tumbling 1-hour windowed counts/sums per event type over a
    * streaming DataFrame with schema (ts TIMESTAMP, event_type STRING,
    * value DOUBLE). Late data beyond 2 hours is dropped by the
    * watermark; emit-on-close via Append mode.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n"), col("sum_value"))

  val outputMode: OutputMode = OutputMode.Append()

  /** Ingest-time PII scrub — the streaming twin of the batch scrub
    * query (p38): render a log line per event and run the redaction
    * cascade. Stateless (a pure projection), so it needs no watermark
    * or state store and emits every micro-batch immediately; results
    * are identical to the batch pass over the same rows.
    */
  def scrub(events: DataFrame): DataFrame = {
    val lines = events.select(
      col("event_id"),
      concat(col("event_type"), lit(" user="),
        col("user_id").cast("string"), lit(" amount="),
        floor(col("value") * 100).cast("string")).as("line"))
    graft.pipeline.Curation.scrubText(lines, "line")
      .select(col("event_id"), col("clean"),
        col("n_email"), col("n_phone"), col("n_id"))
  }

  /** Checksum-validated card scrub at ingest — the streaming twin of
    * p95. The line synthesis mirrors the batch query's (CliSpec pins
    * stream ≡ batch, so the two projections cannot drift) and the
    * scrub itself is [[graft.pipeline.Curation.cardScrub]] verbatim —
    * a stateless codegen projection: candidates, the Luhn HOF, the
    * replace fold. No watermark, no state store.
    */
  def cardScrub(events: DataFrame): DataFrame = {
    val lines = events.select(
      col("event_id"),
      concat(lit("pay "),
        lpad(((col("user_id") % 100000L) * 2654435761L +
          col("event_id") % 1000000L).cast("string"), 16, "0"),
        lit(" amount "), floor(col("value") * 100).cast("string"),
        lit(" ref "), col("event_type")).as("line"))
    graft.pipeline.Curation.cardScrub(lines, "event_id", "line")
  }

  /** Normalized exact dedup at ingest — the streaming twin of p91:
    * admit a document only if its CCNet-normalized fingerprint
    * ([[graft.pipeline.TextFunctions.ccnetNormalize]]) has not been
    * seen inside the watermark horizon, so case/digit/punctuation
    * variants of an already-ingested page are dropped at the door.
    * State is the fingerprint store, bounded by the watermark —
    * 16-byte keys, no text retained.
    */
  def normDedup(docs: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", substring(
        md5(graft.pipeline.TextFunctions.ccnetNormalize(col("text"))),
        1, 16))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      .select(unix_micros(col("ts")).as("ts_us"), col("doc_id"), col("fp"))

  /** Ingest-time quality gating — the streaming twin of the Gopher
    * rule-set query (p61), applied at admission so low-quality
    * documents never enter the corpus. Shares the EXACT projection
    * with the batch query ([[graft.pipeline.Curation.gopherGates]]),
    * so stream and batch decisions cannot drift. Stateless — no
    * watermark, no state store, emits every micro-batch.
    */
  def qualityGate(docs: DataFrame): DataFrame =
    graft.pipeline.Curation.gopherGates(docs, "doc_id", "text")

  /** Crawl-ingest gating straight off the WIRE bytes — the streaming
    * twin of the web-admission composite (p194): each arriving WARC
    * capture (`doc_id`, `warc` binary) is walked, HTTP-split,
    * HTML-extracted, and scored inside its micro-batch, through the
    * SAME per-row extraction ([[graft.pipeline.Web.extractCaptures]])
    * and the SAME verdict projection
    * ([[graft.pipeline.Web.admissionVerdicts]]) as the batch card, so
    * stream and batch admission cannot drift. Stateless; payload
    * bytes never outlive their micro-batch task.
    */
  def webAdmissionGate(captures: DataFrame): DataFrame = {
    val s = captures.sparkSession
    import s.implicits._
    graft.pipeline.Web.admissionVerdicts(
      graft.pipeline.Web.extractCaptures(
        captures.select(col("doc_id").cast("long"), col("warc"))
          .as[graft.pipeline.Web.WebCapture]).toDF())
  }

  /** Ingest-time C4 page gating — the streaming twin of the C4
    * cleaner (p64). Shares the EXACT projection with the batch query
    * ([[graft.pipeline.Curation.c4PageGates]], published thresholds),
    * so stream and batch decisions cannot drift. Stateless — no
    * watermark, no state store, emits every micro-batch.
    */
  def c4Gate(docs: DataFrame): DataFrame =
    graft.pipeline.Curation.c4PageGates(docs, "doc_id", "text")

  /** HyperLogLog registers at stream ingest — cardinality tracking as
    * documents arrive: the same gram hashing, register bucketing, and
    * comparison-chain ρ as the batch calibration
    * ([[graft.pipeline.Curation.hllCalibration]]), aggregated as
    * `max(ρ)` per (event-time window, source, register). Register max
    * is exactly the state a streaming sketch keeps — 64 small ints
    * per (window, source) however many documents arrive — and the
    * window's registers merge with any other run's by a further max,
    * the HLL union property. The estimate itself is a trivial
    * register-table rollup downstream (one aggregation per query is
    * the Append-mode limit; the registers ARE the sketch).
    */
  def hllRegisters(docs: DataFrame,
      watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour", k: Int = 3): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    val rest = expr("h div 64")
    val bitlen = greatest((0 until 54).map(b =>
      when(rest >= (1L << b), b + 1).otherwise(0)): _*)
    docs.withWatermark("ts", watermarkDelay)
      .select(col("ts"), col("source").as("src"),
        explode(TF.shingles(TF.tokens(col("text")), k)).as("sh"))
      .select(col("ts"), col("src"), TF.hash60(col("sh")).as("h"))
      .select(col("ts"), col("src"), pmod(col("h"), lit(64L)).as("j"),
        (lit(55) - bitlen).as("rho"))
      .groupBy(window(col("ts"), windowDuration), col("src"), col("j"))
      .agg(max(col("rho")).as("mj"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("src"), col("j"), col("mj"))
  }

  /** Count-min cells at stream ingest — the frequency-sketch sibling
    * of [[hllRegisters]]: token occurrences hash into the same d×w
    * cells as the batch calibration
    * ([[graft.pipeline.Curation.countMinCalibration]]) and aggregate
    * as COUNTS per (event-time window, row, bucket) — d·w small ints
    * per window however many documents arrive, and windows merge with
    * any other run's cells by ADDITION (the CMS union property; HLL
    * merges by max, CMS by sum). Point estimates are the min over a
    * token's d cells, a trivial probe downstream of the emitted
    * table.
    */
  def countMinCells(docs: DataFrame,
      watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour", d: Int = 4,
      w: Int = 64): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    docs.withWatermark("ts", watermarkDelay)
      .select(col("ts"),
        explode(TF.tokens(col("text"))).as("tok"))
      .select(col("ts"), explode(array((0 until d).map(r =>
        struct(lit(r).as("r"),
          (TF.hash60(concat(lit(s"cm${r}_"), col("tok"))) % w)
            .as("b"))): _*)).as("cell"))
      .groupBy(window(col("ts"), windowDuration), col("cell.r"),
        col("cell.b"))
      .agg(count(lit(1)).as("c"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("r"), col("b"), col("c"))
  }

  /** HDR-histogram buckets at stream ingest — the quantile-sketch
    * sibling of [[hllRegisters]]/[[countMinCells]], completing the
    * audited-sketch triad's streaming story: arriving doc lengths
    * drop into the SAME HdrHistogram-style log buckets as the batch
    * calibration ([[graft.pipeline.Curation.hdrQuantileCalibration]]
    * — shared bucket expression, so cells are bit-identical) and
    * aggregate as counts per (event-time window, bucket). Like CMS,
    * windows merge with any other run's cells by ADDITION; quantile
    * probes (first bucket whose cumulative count clears the
    * threshold) run downstream of the emitted table.
    */
  def hdrBuckets(docs: DataFrame,
      watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour", pBits: Int = 3): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    val vals = docs.withWatermark("ts", watermarkDelay)
      .select(col("ts"),
        size(TF.tokens(col("text"))).cast("long").as("v"))
    graft.pipeline.Curation.hdrBuckets(vals, pBits)
      .groupBy(window(col("ts"), windowDuration), col("bid"), col("ub"))
      .agg(count(lit(1)).as("c"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("bid"), col("ub"), col("c"))
  }

  /** Ingest-time feature projection — the stateless slice of the p123
    * document feature store: composite quality score, predicted
    * language, repetition fractions, and char/token entropy, all
    * per-row Column expressions (no shuffle, no watermark, no state),
    * each sharing its batch twin's exact arithmetic so values are
    * bit-equal to the corresponding p123 columns. The model-backed
    * signals (KN perplexity, memorization risk) stay in their own
    * snapshot-fit streaming jobs ([[knPerplexity]], [[noveltyScore]])
    * — they need broadcast model tables, not row state.
    */
  def featureGate(docs: DataFrame): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    val text = col("text")
    val toks = TF.tokens(text)
    val nToks = size(toks)
    val meanLen = aggregate(toks, lit(0L), (a, x) => a + length(x))
      .cast("double") / nToks.cast("double")
    val punct = TF.punctRatio(TF.punctCount(text), length(text))
    val stop = TF.stopwordHits(toks, TF.stopwords.head._2).cast("double") /
      nToks.cast("double")
    val chars = when(length(text) > 0,
      transform(sequence(lit(1), length(text)),
        i => text.substr(i, lit(1))))
      .otherwise(array())
    docs.select(col("doc_id"),
      nToks.cast("long").as("n_toks"),
      floor(TF.qualityScore(nToks, meanLen, punct, stop) * 1e6)
        .cast("long").as("score_micro"),
      TF.langId(toks).as("lang_pred"),
      TF.dupShingleFraction(toks, 3).as("dup_3gram_frac"),
      TF.entropyMicroHof(chars).as("chars_entropy_micro"),
      TF.entropyMicroHof(toks).as("toks_entropy_micro"))
  }

  /** Ingest-time repetition gate — the streaming twin of p158: the
    * Gopher §A1.2 repetition signals (top-2-gram char fraction,
    * duplicated-3-gram coverage fraction) as a STATELESS per-row
    * projection ([[graft.pipeline.Curation.repetitionRowCols]] — gram
    * counting via nested HOF lambdas, no shuffle, no watermark, no
    * state store), bit-equal to the batch (doc, gram)-shuffle path
    * because the tie-break, coverage rule, and integer floors are
    * shared. The boilerplate/loop check applied as documents arrive.
    */
  def repetitionGate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +:
      graft.pipeline.Curation.repetitionRowCols(col("text"),
        topN = 2, dupN = 3): _*)

  /** Ingest-time contrastive pair factory — the streaming twin of
    * p164: [[graft.pipeline.Curation.contrastiveCrops]] is a
    * stateless per-row projection (portable-hash draws + token-array
    * slices — no shuffle, no watermark, no state store), so the SAME
    * function runs unchanged on the ingest stream and (anchor,
    * positive) pairs are ready for the contrastive trainer as
    * documents arrive.
    */
  def cropGate(docs: DataFrame): DataFrame =
    graft.pipeline.Curation.contrastiveCrops(docs, "doc_id", "text",
      minToks = 8)

  /** Ingest-time chunking — the streaming twin of p176:
    * [[graft.pipeline.Curation.chunkDocuments]] is a stateless
    * per-row projection (window count + explode + slices — no
    * shuffle, no watermark, no state store), so RAG passages are
    * ready, with provenance, as documents arrive.
    */
  def chunkGate(docs: DataFrame): DataFrame =
    graft.pipeline.Curation.chunkDocuments(docs, "doc_id", "text",
      chunkToks = 32, strideToks = 24)

  case class DocArrival(doc_id: Long, source: String,
      ts: java.sql.Timestamp)
  case class MixSeq(i: Long)
  case class MixSlot(doc_id: Long, source: String, seq: Long,
      vtime: Long)

  /** Online mixture scheduler — the stateful streaming twin of the
    * p163 stride interleave: per-domain arrival counters live in the
    * state store and every arriving document gets its stride slot
    * `vtime = i·10⁹ div w_d` the moment it lands, so a downstream
    * writer consuming in vtime order materializes the target mixture
    * continuously instead of waiting for a corpus-wide batch layout.
    * Weights are snapshot-fit (the [[perplexityScore]]/[[classify]]
    * discipline) and ride into the lambda as a driver map; within a
    * micro-batch each group re-sorts by (event time, id) so replays
    * are deterministic, and the spec pins equality with the batch
    * `row_number OVER (PARTITION BY domain ORDER BY ts, id)` form
    * including counter continuity ACROSS batches. State is one int64
    * counter per domain — constant memory on an unbounded stream, no
    * timeout to manage.
    */
  def mixtureSchedule(docs: Dataset[DocArrival],
      weights: Map[String, Long]): Dataset[MixSlot] = {
    import docs.sparkSession.implicits._
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be positive")
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[MixSeq, MixSlot](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (dom: String, rows: Iterator[DocArrival], state: GroupState[MixSeq]) =>
          val w = weights.getOrElse(dom, throw new IllegalArgumentException(
            s"mixtureSchedule: no weight for domain $dom"))
          var i = state.getOption.map(_.i).getOrElse(0L)
          val out = rows.toSeq
            .sortBy(r => (r.ts.getTime, r.doc_id))
            .map { r =>
              i += 1
              require(i <= Long.MaxValue / 1000000000L,
                s"mixtureSchedule: sequence $i overflows the stride scale")
              MixSlot(r.doc_id, dom, i, i * 1000000000L / w)
            }
          state.update(MixSeq(i))
          out.iterator
      }
  }

  /** Ingest-time entropy gate — the streaming twin of p121: per-doc
    * character- and token-level Shannon entropy as a STATELESS
    * per-row projection ([[graft.pipeline.TextFunctions
    * .entropyMicroHof]] — no shuffle, no watermark, no state store),
    * bit-equal to the batch groupBy path because both floor each
    * distribution term to micro-nats before an order-independent
    * integer sum. The gibberish/boilerplate band check applied as
    * documents arrive.
    */
  def entropyGate(docs: DataFrame): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    val text = col("text")
    val chars = when(length(text) > 0,
      transform(sequence(lit(1), length(text)),
        i => text.substr(i, lit(1))))
      .otherwise(array())
    val toks = TF.tokens(text)
    docs.select(col("doc_id"),
      size(chars).cast("long").as("n_chars"),
      TF.entropyMicroHof(chars).as("chars_entropy_micro"),
      size(toks).cast("long").as("n_toks"),
      TF.entropyMicroHof(toks).as("toks_entropy_micro"))
  }

  /** The full three-gate ingest funnel — the streaming twin of the
    * per-document stage of the batch funnel (p66), sharing
    * [[graft.pipeline.Curation.funnelFlags]] verbatim: composite
    * score, Gopher rules, C4 page gates in one stateless projection.
    * (The batch query's only exchange is its per-source rollup — a
    * monitoring sink can run that same rollup over this output.)
    */
  def ingestFunnel(docs: DataFrame): DataFrame =
    graft.pipeline.Curation.funnelFlags(docs, "doc_id", "text")
      .select(col("doc_id"), col("score_keep"),
        col("keep").as("gopher_keep"), col("page_keep"),
        (col("score_keep") * col("keep") * col("page_keep")).as("admit"))

  /** Ingest-time perplexity scoring — the streaming twin of the
    * unigram-LM scorer (p68). The cost tables are fit IN BATCH over a
    * reference corpus ([[graft.pipeline.Curation.unigramCostTables]] —
    * the CCNet move: train on a snapshot, score the stream) and ride
    * each micro-batch as broadcast static sides of a stream-static
    * join; the scoring expressions are
    * [[graft.pipeline.Curation.unigramScore]] verbatim, grouped by
    * (event-time window, doc) instead of doc — the only difference
    * from batch, and what lets Append mode emit each document's score
    * when its window closes. State is bounded by open windows × docs
    * per window; the static sides are vocab-sized and single-row.
    */
  def perplexityScore(docs: DataFrame, refCorpus: DataFrame,
      vocabSize: Int, watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour"): DataFrame = {
    val C = graft.pipeline.Curation
    val (cost, oov) = C.unigramCostTables(
      C.tokenOccurrences(refCorpus, "doc_id", "text"), vocabSize)
    val toks = docs.withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"),
        explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
    C.unigramScore(toks,
        Seq(window(col("ts"), windowDuration), col("doc_id")), cost, oov)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
  }

  /** Ingest-time bigram perplexity — the streaming twin of the
    * interpolated bigram scorer (p82), completing the LM family at
    * ingest next to [[perplexityScore]]. The [[graft.pipeline.Curation.BigramModel]]
    * is fit IN BATCH over a reference corpus; the stream's bigram
    * occurrences come from the same zero-exchange array extraction
    * (the predecessor token never needs a lag window, so the incoming
    * side stays stateless projections until the windowed rollup). The
    * vocab/context/total sides broadcast; the bigram count table is a
    * stream-static equi-join on (prev, cur). Scoring expressions are
    * [[graft.pipeline.Curation.bigramScore]] verbatim, grouped by
    * (event-time window, doc).
    */
  def bigramPerplexity(docs: DataFrame, refCorpus: DataFrame,
      vocabSize: Int, watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour",
      minBigramCount: Long = 1L): DataFrame = {
    val C = graft.pipeline.Curation
    val model = C.bigramModel(
      C.bigramOccurrences(refCorpus, "doc_id", "text"), vocabSize,
      minBigramCount)
    val occ = C.bigramOccurrences(
      docs.withWatermark("ts", watermarkDelay), "doc_id", "text",
      carry = Seq("ts"))
    C.bigramScore(occ,
        Seq(window(col("ts"), windowDuration), col("doc_id")), model)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
  }

  /** Kneser-Ney perplexity at stream ingest — the streaming twin of
    * p89, same snapshot-fit discipline as [[bigramPerplexity]]: the
    * KN model (bigram counts, context fan-out, continuation counts,
    * type total) is fit in batch over the reference corpus, its
    * tables ride each micro-batch as broadcast static sides, and
    * scoring is [[graft.pipeline.Curation.knScore]] verbatim grouped
    * by (event-time window, doc). Stateless per row beyond the
    * window aggregation; state bounded by open windows × docs.
    */
  def knPerplexity(docs: DataFrame, refCorpus: DataFrame,
      vocabSize: Int, watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour",
      minBigramCount: Long = 1L): DataFrame = {
    val C = graft.pipeline.Curation
    val model = C.knBigramModel(
      C.bigramOccurrences(refCorpus, "doc_id", "text"), vocabSize,
      minBigramCount)
    val occ = C.bigramOccurrences(
      docs.withWatermark("ts", watermarkDelay), "doc_id", "text",
      carry = Seq("ts"))
    C.knScore(occ,
        Seq(window(col("ts"), windowDuration), col("doc_id")), model)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_tokens"), col("nll_micro"), col("avg_nll_micro"))
  }

  /** BM25 search at stream ingest — the streaming twin of p112:
    * queries arrive as a document stream (`doc_id` plays the query
    * id, `text` the query) and retrieve from a STATIC corpus through
    * the impact-scored inverted index
    * ([[graft.pipeline.Retrieval.impactIndex]] — per-(term, doc)
    * contributions fully precomputed, the Lucene-impacts move). Each
    * micro-batch explodes the query's distinct terms, stream-static
    * equi-joins the index on the term, and sums exact integer
    * contributions per (event-time window, query, doc) — identical
    * arithmetic to the batch scorer, so results are bit-equal.
    *
    * `index` must be the PERSISTED impact index: it is a static side
    * Spark re-plans per micro-batch, and persisting turns the
    * per-batch corpus scan into a cache read (the caller owns the
    * block — the CLI drain unpersists after the run). Top-k ranking
    * stays batch-side: a per-query rank is a global decision within
    * the window, cheap downstream of the emitted scores.
    */
  def bm25Search(queries: DataFrame, index: DataFrame,
      watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour"): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    val qt = queries.withWatermark("ts", watermarkDelay)
      .select(col("ts"), col("doc_id").as("query_id"),
        explode(array_distinct(TF.tokens(col("text")))).as("tok"))
    qt.join(index, Seq("tok"))
      .groupBy(window(col("ts"), windowDuration), col("query_id"),
        col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("contrib_micro")).as("score_micro"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("query_id"), col("doc_id"), col("n_terms"),
        col("score_micro"))
  }

  /** Phrase-aware BM25 search at stream ingest — the streaming twin
    * of the p131 scoring+marking stages. Each arriving document's
    * first `phraseLen` tokens are the query (the p131 prefix
    * convention); retrieval runs through the persisted impact index
    * exactly as [[bm25Search]], and every (query, doc) result carries
    * `phrase_hit` — whether the doc contains the query verbatim as a
    * contiguous `phraseLen`-gram — checked against the PERSISTED
    * static gram-hash index ([[graft.pipeline.Retrieval.gramIndex]])
    * by a STATELESS stream-static equi-join after the windowed score
    * rollup (the phrase key is functionally dependent on the query
    * id, so it rides the groupBy for free). Per-query ranking stays
    * batch-side, as in bm25Search.
    */
  def phraseSearch(queries: DataFrame, index: DataFrame,
      grams: DataFrame, phraseLen: Int = 4,
      watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour"): DataFrame = {
    val TF = graft.pipeline.TextFunctions
    val q = queries.withWatermark("ts", watermarkDelay)
      .select(col("ts"), col("doc_id").as("query_id"),
        concat_ws(" ", slice(TF.tokens(col("text")), 1, phraseLen))
          .as("qtext"))
      .withColumn("ph", TF.hash60(col("qtext")) % TF.P)
    val qt = q.select(col("ts"), col("query_id"), col("ph"),
      explode(array_distinct(TF.tokens(col("qtext")))).as("tok"))
    qt.join(index, Seq("tok"))
      .groupBy(window(col("ts"), windowDuration), col("query_id"),
        col("ph"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("contrib_micro")).as("score_micro"))
      .join(grams, col("gdoc") === col("doc_id") &&
        col("g") === col("ph"), "left")
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("query_id"), col("doc_id"), col("n_terms"),
        col("score_micro"),
        when(col("g").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("phrase_hit"))
  }

  /** DSIR importance weighting at stream ingest — the streaming twin
    * of p90's scoring stage. The hashed-n-gram importance model is
    * fit in batch over the funnel-labeled reference snapshot
    * ([[graft.pipeline.Curation.dsirLlrTable]]) and collapsed to a
    * ONE-ROW bucket→llr map riding the micro-batch as a broadcast
    * static side, so scoring is a stateless per-row `aggregate` HOF
    * over the document's feature buckets — no window, no watermark,
    * no state store; every document's weight emits immediately.
    * (The Gumbel top-k SELECTION stays batch-side: sampling without
    * replacement is a global rank, not a streaming decision — the
    * stream emits the weight, the periodic batch job draws.) Buckets
    * unseen in the snapshot score 0, as in the batch scorer.
    */
  def dsirWeight(docs: DataFrame, refCorpus: DataFrame, buckets: Int,
      profile: graft.pipeline.Curation.GateProfile =
        graft.pipeline.Curation.GateProfile.published): DataFrame = {
    val C = graft.pipeline.Curation
    val labels = C.funnelLabels(refCorpus, "doc_id", "text",
      profile = profile)
    val feats = labels.select(col("doc_id"), col("cls"),
      explode(C.dsirBuckets(col("text"), buckets)).as("bucket"))
    val llrMap = C.dsirLlrTable(feats, buckets)
      .agg(map_from_entries(
        collect_list(struct(col("bucket"), col("llr_micro")))).as("m"))
    docs.crossJoin(llrMap)
      .withColumn("bks", C.dsirBuckets(col("text"), buckets))
      .select(unix_micros(col("ts")).as("ts_us"), col("doc_id"),
        size(col("bks")).cast("long").as("n_feats"),
        aggregate(col("bks"), lit(0L),
          (acc, b) => acc + coalesce(element_at(col("m"), b), lit(0L)))
          .as("logw_micro"))
  }

  /** Ingest-time quality classification — the streaming twin of the
    * NB classifier (p81). The model is fit IN BATCH over a funnel-
    * labeled reference snapshot
    * ([[graft.pipeline.Curation.nbCostTables]] — train on the
    * snapshot, score the stream, as [[perplexityScore]]) and its
    * vocab-sized LLR table plus the single-row (oov, prior) ride each
    * micro-batch as broadcast static sides; scoring is
    * [[graft.pipeline.Curation.nbScore]] verbatim, grouped by
    * (event-time window, doc). State is bounded by open windows ×
    * docs per window.
    */
  def classify(docs: DataFrame, refCorpus: DataFrame, vocabSize: Int,
      watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour",
      profile: graft.pipeline.Curation.GateProfile =
        graft.pipeline.Curation.GateProfile.published): DataFrame = {
    val C = graft.pipeline.Curation
    val labels = C.funnelLabels(refCorpus, "doc_id", "text",
      profile = profile)
    val labeledToks = labels.select(col("doc_id"), col("cls"),
      explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
    val (llr, oovPrior) = C.nbCostTables(labeledToks, labels, vocabSize)
    val toks = docs.withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"),
        explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
    C.nbScore(toks, Seq(window(col("ts"), windowDuration), col("doc_id")),
        llr, oovPrior)
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_tokens"), col("llr_micro"), col("pred"))
  }

  /** Ingest-time BPE tokenization — the streaming twin of the encode
    * query (p75). The merge table is trained IN BATCH over a
    * reference snapshot (train on the snapshot, tokenize the stream —
    * the same move as [[perplexityScore]]'s cost tables) and applied
    * per word by [[graft.pipeline.Bpe.encodeRows]], which BpeSpec
    * pins row-for-row equal to the batch replay encode. Stateless:
    * explode + per-partition map, no watermark, no state store — and
    * unlike a dictionary join, out-of-vocabulary words arriving on
    * the stream segment correctly instead of dropping out. The merge
    * table is collected once at plan time (it is vocab-sized) and
    * rides the closure into every micro-batch.
    */
  def tokenize(docs: DataFrame, refCorpus: DataFrame,
      textCol: String = "text", nMerges: Int = 100): DataFrame = {
    val B = graft.pipeline.Bpe
    val merges = B.train(refCorpus, textCol, nMerges)
      .orderBy("it").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    B.encodeRows(docs, "doc_id", textCol, merges)
  }

  /** Ingest-time unigram tokenization — the streaming twin of the
    * p88 encode, and the cleanest train-on-snapshot job in the
    * engine: the model IS the cost map
    * ([[graft.pipeline.Unigram.trainedCosts]], fit in batch over the
    * reference corpus), and [[graft.pipeline.Unigram.segment]]'s
    * whole Viterbi DP is a stateless per-row projection — so the
    * stream needs no watermark, no state store, and not even a
    * stream-static join: the cost map rides the plan as a literal.
    * Out-of-vocabulary words (characters the snapshot never saw) fall
    * back to a single unsplit piece instead of dropping out.
    */
  def unigramTokenize(docs: DataFrame, refCorpus: DataFrame,
      vocabSize: Int = 60, maxLen: Int = 4, iters: Int = 2): DataFrame = {
    val U = graft.pipeline.Unigram
    val (costs, _) = U.trainedCosts(refCorpus, "text", vocabSize, maxLen,
      iters)
    val words = docs.select(col("doc_id"),
        posexplode(graft.pipeline.TextFunctions.tokens(col("text")))
          .as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    // an unsegmentable word (unknown character) totals at least the
    // Unsegmentable sentinel — key the fallback on that, not on the
    // pieces array (the backtrace of a dead DP yields [null], not null)
    U.segment(words, costs, maxLen)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        when(col("cost_micro") >= U.Unsegmentable, array(col("word")))
          .otherwise(col("pieces")).as("pieces"))
      .select(col("doc_id"), col("pos"),
        size(col("pieces")).cast("long").as("n_tokens"),
        array_join(col("pieces"), " ").as("tokens"))
  }

  /** Vector near-dup at ingest — the embedding analogue of
    * [[nearDupVerified]]: each incoming embedding probes its `nprobe`
    * nearest IVF cells of the STATIC corpus and emits every corpus
    * neighbor at or above the cosine threshold (admit the vector only
    * if nothing emits). Shares
    * [[graft.pipeline.Similarity.ivfProbePairsWith]] verbatim with the
    * batch query (p76); the incoming side is stateless projections
    * only (plan-time-folded centroid scores — no groupBy, no window),
    * so Append mode needs no watermark and no state store. The static
    * corpus cell index is built once and PERSISTED here: Spark
    * re-plans static sides per micro-batch, and without the cache
    * every batch would redo the O(|corpus|·C) assignment (the block
    * lives until the session ends or the caller unpersists it).
    */
  def embeddingNearDup(stream: DataFrame, corpus: DataFrame,
      centroidFilter: org.apache.spark.sql.Column, nprobe: Int,
      thresholdMicro: Long): DataFrame = {
    val S = graft.pipeline.Similarity
    val cellIndex =
      S.ivfCellIndex(corpus, "vec_id", "embedding", centroidFilter).persist()
    S.ivfProbePairsWith(stream, corpus, "vec_id", "embedding",
      centroidFilter, nprobe, thresholdMicro, cellIndex)
  }

  /** Rate-spike flags at ingest — the monitoring half of
    * [[graft.operators.Sessionize.rateSpikes]]: per-type
    * median + mult·MAD thresholds are fit ONCE on the snapshot
    * corpus's hourly history (the robust pair one broken hour cannot
    * drag) and broadcast into each micro-batch; arriving events
    * aggregate per (event-time window, type) and every closed window
    * emits its count beside the integer spike flag. Stream-side work
    * per batch is one windowed count + a broadcast equi-join — no
    * per-batch history scan, the snapshot-fit discipline of
    * [[perplexityScore]]/[[classify]].
    */
  def rateSpikeFlags(events: DataFrame, snapshot: DataFrame,
      mult: Long = 3L, watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour"): DataFrame = {
    val th = graft.operators.Sessionize
      .rateSpikes(snapshot, "ts", "event_type", mult)
      .select(col("event_type"), col("median_n"), col("mad_n"))
      .distinct()
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n"))
      .join(broadcast(th), Seq("event_type"))
      .withColumn("spike",
        when(col("n") > col("median_n") + lit(mult) * col("mad_n"), 1L)
          .otherwise(0L))
  }

  /** Online cluster routing at ingest — the serving half of a k-means
    * fit (the p140 elbow card picks k; this routes traffic): train
    * once on the snapshot corpus at job start, fold the trained
    * centroids as literals, and assign every arriving embedding to
    * its nearest cell as a STATELESS zero-exchange projection
    * ([[graft.pipeline.Similarity.centroidAssignExpr]] — whole-stage
    * codegen per row, no state store, no watermark, no per-batch
    * corpus work). Emits (vec_id, cell, sim_micro); bit-equal to the
    * batch Lloyd assignment, StreamingSpec-pinned.
    */
  def clusterAssign(stream: DataFrame, corpus: DataFrame,
      centroidFilter: org.apache.spark.sql.Column,
      iters: Int): DataFrame = {
    val S = graft.pipeline.Similarity
    val cents = S.centroidsFromMeans(
        graft.pipeline.ArtifactStore.kmeansMeans(corpus, "vec_id",
          "embedding", centroidFilter, iters))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val best = S.centroidAssignExpr(cents, col("embedding"))
    stream.select(col("vec_id"), best.getField("cell").as("cell"),
      floor(best.getField("sim") * 1e6).cast("long").as("sim_micro"))
  }

  /** Window-level novelty at ingest — the streaming twin of p111's
    * [[graft.pipeline.Curation.noveltyScore]]: each arriving
    * document's 8-token windows probe the snapshot corpus's DISTINCT
    * gram set (a static side of 8-byte keys, joined stream-static on
    * the key), and the per-(event-time window, doc) rollup emits the
    * fraction of windows not already present — the "is this scrape
    * new text" admission signal, scored before the document enters
    * the corpus. Same closed-window emission discipline as the LM
    * scorers; documents with zero windows (shorter than one gram)
    * produce no row (the batch query reports them as fully novel).
    */
  def noveltyScore(docs: DataFrame, refCorpus: DataFrame, L: Int = 8,
      watermarkDelay: String = "1 hour",
      windowDuration: String = "1 hour"): DataFrame = {
    val C = graft.pipeline.Curation
    val refGrams = refCorpus
      .select(explode(C.gramHashes("text", L)).as("gh")).distinct()
      .withColumn("seen", lit(1L))
    docs.withWatermark("ts", watermarkDelay)
      .select(col("ts"), col("doc_id"),
        explode(C.gramHashes("text", L)).as("gh"))
      .join(refGrams, Seq("gh"), "left")
      .groupBy(window(col("ts"), windowDuration), col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("doc_id"),
        col("n_windows"), col("n_seen"),
        expr("((n_windows - n_seen) * 1000000) div n_windows")
          .as("novelty_micro"))
  }

  /** Embedding-free text near-dup at ingest — the streaming twin of
    * p106, closing the text→vector→cell-bounded-pair chain with no
    * embedding model anywhere: incoming documents get their signed
    * feature-hash vector PER ROW
    * ([[graft.pipeline.Similarity.withHashedDocVector]] — two chained
    * projections, no groupBy, bit-identical to the batch vectors
    * because integer sums are order-free), then probe the persisted
    * hashed-vector corpus cell index exactly like
    * [[embeddingNearDup]]. Fully stateless in Append mode.
    */
  def textNearDup(docs: DataFrame, corpusDocs: DataFrame, nprobe: Int,
      thresholdMicro: Long, dim: Int = 128): DataFrame = {
    val S = graft.pipeline.Similarity
    val TFx = graft.pipeline.TextFunctions
    def feats(c: org.apache.spark.sql.Column) =
      TFx.shingles(TFx.tokens(c), 3)
    val corpusVecs = S.hashedDocVectors(corpusDocs, "doc_id",
        feats(col("text")), dim)
      .filter(S.l2norm(col("embedding")) > 0)
      .withColumnRenamed("doc_id", "vec_id")
    val streamVecs = S.withHashedDocVector(docs, feats(col("text")), dim)
      .filter(S.l2norm(col("embedding")) > 0)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    embeddingNearDup(streamVecs, corpusVecs,
      centroidFilter = col("vec_id") % 25 === 0, nprobe, thresholdMicro)
  }

  /** Perceptual image near-dup at ingest — the streaming twin of the
    * p77 pair search, taking PRECOMPUTED (media_id, dhash) frames
    * (hash incoming payloads with [[graft.pipeline.Multimodal.dHash]]
    * upstream — a zero-exchange partition map that runs per
    * micro-batch). The static corpus band index is built once and
    * PERSISTED; each batch is a band explode + stream-static
    * equi-join + the first-equal-segment dedup and exact `bit_count`
    * verify, all pure row expressions
    * ([[graft.pipeline.Dedup.hammingPairsDelta]] verbatim with the
    * batch path) — fully stateless, so Append mode needs no watermark
    * and no state store.
    */
  def imageNearDup(incomingHashes: DataFrame, corpusHashes: DataFrame,
      bits: Int = 64, segments: Int = 4, maxHamming: Int = 3): DataFrame = {
    val D = graft.pipeline.Dedup
    val bands =
      D.bandRows(corpusHashes, "media_id", "dhash", bits, segments).persist()
    D.hammingPairsDelta(bands, incomingHashes, "media_id", "dhash",
      bits, segments, maxHamming)
  }

  /** Stream-static enrichment — the streaming twin of the
    * concept-name broadcast lookup (J2): each micro-batch left-joins
    * the static dimension, which Spark re-plans per batch (a
    * broadcast-hash join for a dimension-sized static side; no stream
    * state at all, so nothing to bound). This is how per-event
    * decoration (concept names, site labels) stays current at ingest
    * time instead of in a nightly rewrite.
    */
  def enrich(
      events: DataFrame,
      dim: DataFrame,
      keyCol: String,
      dimKeyCol: String,
      dimCols: Seq[String]): DataFrame = {
    val d = broadcast(
      dim.select((col(dimKeyCol).as(keyCol) +: dimCols.map(col)): _*))
    events.join(d, Seq(keyCol), "left")
  }

  /** Streaming exact dedup: drop re-deliveries of the same key within
    * the watermark horizon — the streaming twin of
    * [[graft.pipeline.Dedup.exact]]. State holds one entry per key seen
    * inside the horizon and is evicted by the watermark, which is what
    * keeps it bounded on an unbounded stream.
    */
  def dedupByKey(events: DataFrame, eventTimeCol: String,
      keyCols: Seq[String], watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  case class Event(user_id: Long, event_id: Long, ts_us: Long)
  case class SessionState(start: Long, end: Long, n: Long)
  case class Session(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long)
  case class TimedEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  /** Production sessionization with EVENT-TIME state expiry: an open
    * session also closes when the watermark passes `session_end + gap`
    * — idle users' state is emitted and freed without waiting for
    * their next event, which is what bounds state-store size on an
    * unbounded stream. Input needs a TimestampType event-time column
    * (watermark requirement).
    */
  def sessionizeEventTime(events: Dataset[TimedEvent], gapUs: Long,
      watermarkDelay: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[TimedEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.end, s.n))
          } else {
            val sorted = rows.toSeq
              .map(e => (e.ts.getTime * 1000L, e.event_id))
              .sortBy(identity)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { case (tsUs, _) =>
              cur match {
                case Some(s) if tsUs - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, tsUs), s.n + 1))
                case Some(s) =>
                  closed += Session(userId, s.start, s.end, s.n)
                  cur = Some(SessionState(tsUs, tsUs, 1))
                case None =>
                  cur = Some(SessionState(tsUs, tsUs, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // expire once the watermark passes the session's close
              state.setTimeoutTimestamp((s.end + gapUs) / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  case class FunnelEvent(user_id: Long, event_type: String,
      ts: java.sql.Timestamp)
  case class FunnelBufState(stage: Int, tPrev: Long,
      buf: List[(Long, String)])
  case class FunnelAdvance(user_id: Long, stage: Long, event_type: String,
      ts_us: Long, delta_us: Long)

  /** Streaming conversion funnel — the incremental twin of
    * [[graft.operators.Sessionize.funnel]]'s greedy chain, emitting
    * one [[FunnelAdvance]] row the moment a user's stage advance
    * becomes WATERMARK-FINAL. Event-time correct under out-of-order
    * arrival: per user the state buffers events still inside the
    * watermark horizon and runs the stage machine only over the
    * ≤-watermark prefix in (ts, type) order — exactly the batch
    * semantics, because "earliest stage-i event after tᵢ₋₁" is final
    * once no earlier event can arrive. Stage-1 advances carry
    * delta_us = 0; later stages the transition latency.
    *
    * State bounds: the buffer holds one user's events inside the
    * watermark horizon; a timeout at the buffered maximum flushes
    * users who go quiet, and a fully-converted user with an empty
    * buffer drops their state entirely. Events at or before the
    * watermark on arrival are dropped as late (the watermark
    * contract). As with the other event-time jobs, advances in the
    * final still-open horizon emit only once later data (or a
    * sentinel) moves the watermark past them.
    */
  def funnelProgress(events: Dataset[FunnelEvent], stages: Seq[String],
      watermarkDelay: String = "1 hour"): Dataset[FunnelAdvance] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import events.sparkSession.implicits._
    def tsUs(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent],
            state: GroupState[FunnelBufState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st0 = state.getOption.getOrElse(FunnelBufState(0, -1L, Nil))
          val buf = st0.buf ++
            rows.map(e => (tsUs(e.ts), e.event_type)).filter(_._1 > wmUs)
          val (ready, pending) = buf.partition(_._1 <= wmUs)
          var stage = st0.stage
          var tPrev = st0.tPrev
          val out = List.newBuilder[FunnelAdvance]
          ready.sorted.foreach { case (t, ty) =>
            if (stage < stages.length && ty == stages(stage) &&
                (stage == 0 || t > tPrev)) {
              val delta = if (stage == 0) 0L else t - tPrev
              stage += 1
              tPrev = t
              out += FunnelAdvance(uid, stage.toLong, ty, t, delta)
            }
          }
          if (pending.isEmpty && stage >= stages.length) state.remove()
          else {
            state.update(FunnelBufState(stage, tPrev, pending))
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(pending.map(_._1).max / 1000L + 1)
          }
          out.result().iterator
      }
  }

  case class AsOfEvent(user_id: Long, event_id: Long, side: String,
      ts: java.sql.Timestamp)
  case class AsOfState(lefts: List[(Long, Long)], rights: List[(Long, Long)])
  case class AsOfPair(user_id: Long, event_id: Long, ts_us: Long,
      r_event_id: Long, r_ts_us: Long, diff_us: Long)

  /** Stream-stream as-of join — the streaming twin of
    * [[graft.operators.AsOfJoin.nearest]] (J9): pair each left-side
    * event with the nearest right-side event of the same key within
    * `toleranceUs`, on two unbounded streams.
    *
    * Spark's built-in stream-stream join can express the time-bounded
    * candidate set but not "keep only the nearest" (no windows over
    * streaming joins), so the pairing is custom state: both streams
    * are tagged and unioned (one shuffle on user_id), and per key the
    * state buffers both sides. A left event is emitted only once the
    * watermark passes `left.ts + tolerance` — at that point every
    * right candidate inside the window is guaranteed present, so the
    * nearest choice is final and deterministic (tie order: smaller
    * |Δt|, then earlier right ts, then right id — identical to the
    * batch operator). Left events with no candidate are dropped
    * (inner semantics).
    *
    * State bounds: lefts live until the watermark passes their
    * emission horizon (≤ watermark delay + tolerance of stream time);
    * rights are pruned once `ts ≤ watermark − 2·tolerance`, since any
    * still-pending left has `ts > watermark − tolerance` and could
    * only pair with rights newer than that. Event-time timeouts flush
    * idle keys, so state never waits on the key's next event.
    */
  def asOfNearest(
      left: Dataset[TimedEvent],
      right: Dataset[TimedEvent],
      toleranceUs: Long,
      watermarkDelay: String = "1 hour"): Dataset[AsOfPair] = {
    import left.sparkSession.implicits._
    val tag = (side: String) => (e: TimedEvent) =>
      AsOfEvent(e.user_id, e.event_id, side, e.ts)
    val tagged = left.map(tag("l")).unionByName(right.map(tag("r")))
      .withWatermark("ts", watermarkDelay)
      .as[AsOfEvent]
    tagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfState]) =>
          val prev = state.getOption.getOrElse(AsOfState(Nil, Nil))
          val (newL, newR) = rows.toSeq
            .map(e => (e.ts.getTime * 1000L, e.event_id, e.side))
            .partition(_._3 == "l")
          var lefts = prev.lefts ++ newL.map(e => (e._1, e._2))
          var rights = prev.rights ++ newR.map(e => (e._1, e._2))
          val wmUs = state.getCurrentWatermarkMs() * 1000L

          // lefts whose candidate window is sealed by the watermark
          val (ready, pending) = lefts.partition(_._1 + toleranceUs <= wmUs)
          val out = ready.sortBy(identity).flatMap { case (lts, lid) =>
            val cands = rights.filter(r => math.abs(r._1 - lts) <= toleranceUs)
            if (cands.isEmpty) None
            else {
              val (rts, rid) = cands.minBy { case (ts, id) =>
                (math.abs(ts - lts), ts, id)
              }
              Some(AsOfPair(userId, lid, lts, rid, rts, math.abs(rts - lts)))
            }
          }
          lefts = pending
          rights = rights.filter(_._1 > wmUs - 2 * toleranceUs)

          if (lefts.isEmpty && rights.isEmpty) state.remove()
          else {
            state.update(AsOfState(lefts, rights))
            // wake when the earliest pending left seals, or (rights
            // only) when the last right ages out of every window
            val wakeUs =
              if (lefts.nonEmpty) lefts.map(_._1).min + toleranceUs
              else rights.map(_._1).max + 2 * toleranceUs
            state.setTimeoutTimestamp(math.max(wakeUs / 1000L, state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
  }

  /** Gap-based sessionization as custom state: one open session per
    * user; an event beyond `gapUs` of the running end closes and emits
    * the previous session. Simplest variant (no state expiry) — see
    * [[sessionizeEventTime]] for the watermark-bounded production form.
    */
  def sessionize(events: Dataset[Event], gapUs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // within a micro-batch, order by event time (state sees batches whole)
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.end <= gapUs =>
                cur = Some(SessionState(s.start, math.max(s.end, e.ts_us), s.n + 1))
              case Some(s) =>
                closed += Session(userId, s.start, s.end, s.n)
                cur = Some(SessionState(e.ts_us, e.ts_us, 1))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  case class BandHit(band: String, doc_id: Long, ts: java.sql.Timestamp)
  case class NearDupState(docs: List[(Long, Long)]) // (ts_us, doc_id)
  case class CandPair(doc_a: Long, doc_b: Long)

  /** Streaming near-dup CANDIDATE pairs — the incremental twin of the
    * batch MinHash-LSH candidate join ([[graft.pipeline.Dedup]]
    * `minhashPlan`): as documents arrive, each of their LSH band keys
    * (the shared [[graft.pipeline.Dedup.bandKeyArray]], computed by the
    * same native kernels) probes a per-band state of recently seen
    * docs, and every co-bucketed pair within `horizonUs` is emitted the
    * moment the second document lands — ingest-time dedup flagging
    * instead of a nightly recompute. Pairs may repeat across bands
    * (the batch `.distinct()` has no bounded-state streaming analogue);
    * consumers dedupe at the sink, exactly like candidate verification
    * is downstream in the batch path.
    *
    * State per band bucket is the docs inside the horizon — the
    * streaming analogue of a posting list, evicted by the watermark
    * (entries too old to pair with any admissible future event are
    * dropped each trigger; idle buckets expire whole via event-time
    * timeout). State is bounded by horizon × bucket density, the same
    * quantity that bounds the batch join's per-bucket cost.
    */
  def nearDupCandidates(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, k: Int, numHashes: Int, bands: Int, horizonUs: Long,
      watermarkDelay: String = "1 hour"): Dataset[CandPair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    import docs.sparkSession.implicits._
    val sh = graft.functions.HashKernelFunctions.shingles(
      graft.pipeline.TextFunctions.tokens(col(textCol)), k)
    val sig = graft.functions.HashKernelFunctions.minhashSig(
      sh, graft.pipeline.TextFunctions.minhashSeeds(numHashes))
    docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        explode(graft.pipeline.Dedup.bandKeyArray(sig, bands, rows))
          .as("band"))
      .withWatermark("ts", watermarkDelay)
      .as[BandHit]
      .groupByKey(_.band)
      .flatMapGroupsWithState[NearDupState, CandPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, hits: Iterator[BandHit], state: GroupState[NearDupState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = hits.toSeq
              .map(h => (h.ts.getTime * 1000L, h.doc_id)).sortBy(identity)
            var seen = state.getOption.map(_.docs).getOrElse(Nil)
            val out = Seq.newBuilder[CandPair]
            sorted.foreach { case (tsUs, id) =>
              seen.iterator
                .filter { case (t, other) =>
                  other != id && math.abs(tsUs - t) <= horizonUs }
                .foreach { case (_, other) =>
                  out += CandPair(math.min(id, other), math.max(id, other)) }
              seen = (tsUs, id) :: seen
            }
            // watermark-exact eviction: a future event has ts >= wm, so
            // an entry can still pair only if t + horizon >= wm
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val kept = seen.filter(_._1 + horizonUs >= wmUs)
            if (kept.isEmpty) state.remove()
            else {
              state.update(NearDupState(kept))
              val newestUs = kept.map(_._1).max
              state.setTimeoutTimestamp(math.max(
                (newestUs + horizonUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming near-dup VERIFIED pairs — completes the loop
    * [[nearDupCandidates]] leaves open: every candidate band collision
    * is joined stream-static against a corpus snapshot's shingle sets
    * and scored with EXACT Jaccard, so the stream emits precisely what
    * the batch detector ([[graft.pipeline.Dedup.minhashPairs]]) would
    * for the same pairs — false-positive band collisions are rejected
    * in-flight instead of at a nightly recompute.
    *
    * The verify join is stateless (static side broadcast- or
    * shuffle-hash per micro-batch), so candidate repeats across
    * bands/triggers cost one probe each; sinks still dedupe on
    * (doc_a, doc_b). Contract: `corpusSnapshot` must cover the
    * streamed ids (in the ingest layout the snapshot IS the directory
    * being streamed); a candidate whose doc is missing from the
    * snapshot has no shingle set to score and is dropped by the inner
    * join rather than emitted unverified.
    */
  def nearDupVerified(docs: DataFrame, corpusSnapshot: DataFrame,
      idCol: String, textCol: String, tsCol: String, k: Int,
      numHashes: Int, bands: Int, threshold: Double, horizonUs: Long,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val cand = nearDupCandidates(docs, idCol, textCol, tsCol, k,
      numHashes, bands, horizonUs, watermarkDelay).toDF()
    val sh = graft.pipeline.Dedup.shingled(corpusSnapshot, idCol, textCol, k)
    graft.pipeline.Dedup.verifyJaccard(cand, sh, threshold)
  }
}
