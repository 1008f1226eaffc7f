package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{ConnectedComponents, Sessionize}
import graft.pipeline.{Bpe, Curation, Dedup, Ingest, Multimodal, Retrieval, Similarity, TextFunctions => TF}

/** DuckDB oracle SQL for [[PipelineQueries]] — part 2 of the
  * round-15 split: the per-query oracle map (`oracle0`) and the
  * composed [[oracle]] PipelineQueries delegates to. Verbatim
  * moves, zero behavior change.
  */
private[queries] object PipelineOracles2 {

  import PipelineQueries.kmeansIters
  import PipelineOracles._

  def oracle: Map[String, String] =
    oracle0 + ("p56_ann_recall" -> oAnnRecall) +
      ("p189_quantizer_drift" -> oQuantizerDrift) +
      ("p180_release_signoff" -> oReleaseSignoff) +
      ("p66_quality_funnel" -> oQualityFunnel) +
      ("p79_clustered_recall" -> oClusteredRecall) +
      ("p81_nb_classifier" -> oNbClassifier) +
      ("p87_unigram_tokenizer" ->
        oUnigramTokenizer(vocabSize = 60, maxLen = 4)) +
      ("p88_unigram_encode" ->
        oUnigramEncode(vocabSize = 60, maxLen = 4)) +
      ("p99_tokenizer_fertility" ->
        s"""${oUnigramCtes(vocabSize = 60, maxLen = 4)},
           |ws AS (
           |  SELECT 'whitespace' AS tokenizer, lang, COUNT(*) AS n_docs,
           |    SUM(length(text)) AS n_chars,
           |    SUM(len($oToks)) AS n_tokens
           |  FROM documents GROUP BY lang),
           |bp AS (
           |  SELECT 'bpe_pre' AS tokenizer, lang, COUNT(*) AS n_docs,
           |    SUM(length(text)) AS n_chars,
           |    SUM(len(regexp_extract_all(lower(text),
           |      '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS n_tokens
           |  FROM documents GROUP BY lang),
           |uw AS (
           |  SELECT d.lang, SUM(len(w.pieces)) AS n_tokens
           |  FROM (SELECT lang, toks[pos] AS word
           |        FROM (SELECT lang, toks,
           |                unnest(generate_series(1, len(toks))) AS pos
           |              FROM (SELECT lang, $oToks AS toks FROM documents))
           |        WHERE length(toks[pos]) > 0) d
           |  JOIN seg1 w ON w.word = d.word
           |  GROUP BY d.lang),
           |un AS (
           |  SELECT 'unigram' AS tokenizer, b.lang, b.n_docs, b.n_chars,
           |    uw.n_tokens
           |  FROM (SELECT lang, COUNT(*) AS n_docs,
           |          SUM(length(text)) AS n_chars
           |        FROM documents GROUP BY lang) b
           |  JOIN uw ON b.lang = uw.lang)
           |SELECT tokenizer, lang, CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(n_chars AS BIGINT) AS n_chars,
           |  CAST(n_tokens AS BIGINT) AS n_tokens,
           |  (CAST(n_chars AS BIGINT) * 1000000)
           |    // CAST(n_tokens AS BIGINT) AS fertility_micro
           |FROM (SELECT * FROM ws UNION ALL SELECT * FROM bp
           |      UNION ALL SELECT * FROM un)""".stripMargin) +
      ("p82_bigram_lm" -> oBigramLm) +
      ("p89_kn_bigram" -> oKnBigram) +
      ("p90_dsir" -> oDsir) +
      ("p92_domain_mix" -> oDomainMix) +
      ("p110_domain_mix_iter" ->
        s"""WITH ${oDomainMixCtes("a_", "documents")},
           |rates AS (
           |  SELECT r.source, r.weight_micro AS w1_micro,
           |    r.excess_micro AS excess1_micro,
           |    LEAST(1000000, (r.weight_micro * 1000000)
           |      // ((r.n_tokens * 1000000) // t.ntot)) AS rate_micro
           |  FROM a_res r,
           |    (SELECT CAST(SUM(n_tokens) AS BIGINT) AS ntot
           |     FROM a_res) t),
           |kept AS MATERIALIZED (
           |  SELECT d.doc_id, d.source, d.text
           |  FROM documents d JOIN rates r ON d.source = r.source
           |  WHERE ${oHash("'dr2' || CAST(doc_id AS VARCHAR)")} % 1000000
           |    < r.rate_micro),
           |${oDomainMixCtes("b_", "kept")}
           |SELECT r.source, r.w1_micro, r.excess1_micro, r.rate_micro,
           |  CAST(COALESCE(b.n_docs, 0) AS BIGINT) AS n_docs_kept,
           |  b.weight_micro AS w2_micro,
           |  b.excess_micro AS excess2_micro
           |FROM rates r LEFT JOIN b_res b ON r.source = b.source"""
          .stripMargin) +
      ("p95_card_scrub" ->
        s"""WITH lines AS (
           |  SELECT event_id,
           |    'pay ' || lpad(CAST((user_id % 100000) * 2654435761
           |        + event_id % 1000000 AS VARCHAR), 16, '0')
           |      || ' amount '
           |      || CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR)
           |      || ' ref ' || event_type AS line
           |  FROM events),
           |c AS (
           |  SELECT event_id, line,
           |    regexp_extract_all(line, '[0-9][0-9 -]*[0-9]') AS cands
           |  FROM lines),
           |pos AS (
           |  SELECT event_id, cands,
           |    unnest(generate_series(1, len(cands))) AS i
           |  FROM c),
           |d AS (
           |  SELECT event_id, i, cands[i] AS cand,
           |    regexp_replace(cands[i], '[^0-9]', '', 'g') AS ds
           |  FROM pos),
           |lv AS (
           |  SELECT event_id, i, cand,
           |    (len(ds) BETWEEN 13 AND 19) AND
           |    list_sum(list_transform(generate_series(1, len(ds)), j ->
           |      CASE WHEN (len(ds) - j) % 2 = 1
           |        THEN CASE WHEN 2 * CAST(ds[j] AS BIGINT) > 9
           |                  THEN 2 * CAST(ds[j] AS BIGINT) - 9
           |                  ELSE 2 * CAST(ds[j] AS BIGINT) END
           |        ELSE CAST(ds[j] AS BIGINT) END)) % 10 = 0 AS ok
           |  FROM d),
           |vv AS (
           |  SELECT event_id AS vid, list(cand ORDER BY i) AS valids,
           |    COUNT(*) AS nv
           |  FROM lv WHERE ok GROUP BY event_id)
           |SELECT c.event_id,
           |  CAST(len(c.cands) AS BIGINT) AS n_digit_runs,
           |  CAST(COALESCE(vv.nv, 0) AS BIGINT) AS n_luhn_valid,
           |  substr(md5(list_reduce(
           |    list_concat([c.line], COALESCE(vv.valids, [])),
           |    (acc, x) -> replace(acc, x, '<CARD>'))), 1, 16) AS clean_fp
           |FROM c LEFT JOIN vv ON c.event_id = vv.vid""".stripMargin) +
      ("p94_curriculum" ->
        s"""WITH kn AS (SELECT * FROM ($oKnBigram)),
           |keyed AS (
           |  SELECT doc_id, n_tokens, avg_nll_micro,
           |    ${oHash("'curr' || CAST(doc_id AS VARCHAR)")} % 1000000
           |      AS draw
           |  FROM kn),
           |sq AS (
           |  SELECT doc_id, n_tokens, avg_nll_micro,
           |    ROW_NUMBER() OVER (ORDER BY avg_nll_micro, draw, doc_id)
           |      - 1 AS seq
           |  FROM keyed),
           |n AS (SELECT COUNT(*) AS n FROM sq)
           |SELECT doc_id, (seq * 4) // n AS phase, CAST(seq AS BIGINT)
           |  AS seq, n_tokens, avg_nll_micro
           |FROM sq, n""".stripMargin) +
      ("p84_classifier_audit" ->
        s"""WITH nb AS (${oNbClassifier})
           |SELECT d.source,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(nb.cls) AS BIGINT) AS n_gate_keep,
           |  CAST(SUM(nb.pred) AS BIGINT) AS n_model_keep,
           |  CAST(SUM(CASE WHEN nb.cls = 0 AND nb.pred = 1
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_rescued,
           |  CAST(SUM(CASE WHEN nb.cls = 1 AND nb.pred = 0
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected
           |FROM nb JOIN documents d ON nb.doc_id = d.doc_id
           |GROUP BY d.source ORDER BY d.source""".stripMargin) +
      ("p112_bm25" -> oBm25(k1 = 1.2, b = 0.75,
        qTerms = 4, topK = 10)) +
      ("p113_auc" ->
        s"""WITH nb AS (${oNbClassifier}),
           |bys AS (
           |  SELECT llr_micro AS s, SUM(cls) AS np,
           |    COUNT(*) - SUM(cls) AS nn
           |  FROM nb GROUP BY llr_micro),
           |cm AS (
           |  SELECT s, np, nn,
           |    SUM(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW) - nn AS cum_nn
           |  FROM bys),
           |ag AS (
           |  SELECT SUM(np) AS n_pos, SUM(nn) AS n_neg,
           |    SUM(np * (cum_nn * 2 + nn)) AS u2
           |  FROM cm)
           |SELECT CAST(n_pos AS BIGINT) AS n_pos,
           |  CAST(n_neg AS BIGINT) AS n_neg, CAST(u2 AS BIGINT) AS u2,
           |  CAST((u2 * 1000000) // (2 * n_pos * n_neg) AS BIGINT)
           |    AS auc_micro
           |FROM ag""".stripMargin) +
      ("p114_ppl_buckets" ->
        s"""WITH kn AS (SELECT * FROM ($oKnBigram)),
           |j AS (
           |  SELECT kn.doc_id, kn.n_tokens, kn.avg_nll_micro, d.lang,
           |    NTILE(3) OVER (PARTITION BY d.lang
           |      ORDER BY kn.avg_nll_micro, kn.doc_id) AS nt
           |  FROM kn JOIN documents d ON kn.doc_id = d.doc_id)
           |SELECT lang,
           |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
           |    ELSE 'tail' END AS bucket,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |  CAST(MIN(avg_nll_micro) AS BIGINT) AS min_nll_micro,
           |  CAST(MAX(avg_nll_micro) AS BIGINT) AS max_nll_micro
           |FROM j GROUP BY lang, bucket""".stripMargin) +
      ("p115_domain_cap" ->
        s"""WITH $oScoreCtes,
           |nt AS (
           |  SELECT doc_id, source, CAST(len($oToks) AS BIGINT)
           |    AS n_toks
           |  FROM documents),
           |r AS (
           |  SELECT n.source, n.n_toks, q.score_micro,
           |    ROW_NUMBER() OVER (PARTITION BY n.source
           |      ORDER BY q.score_micro DESC, n.doc_id) AS rank
           |  FROM nt n JOIN q ON n.doc_id = q.doc_id)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN rank <= 15 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept,
           |  CAST(SUM(n_toks) AS BIGINT) AS toks_total,
           |  CAST(SUM(CASE WHEN rank <= 15 THEN n_toks ELSE 0 END)
           |    AS BIGINT) AS toks_kept
           |FROM r GROUP BY source""".stripMargin) +
      ("p116_pmi" ->
        s"""WITH base AS (SELECT doc_id, $oToks AS toks FROM documents),
           |occ AS (
           |  SELECT doc_id, toks[i] AS cur,
           |    CASE WHEN i > 1 THEN toks[i - 1] END AS prev
           |  FROM (SELECT doc_id, toks,
           |          unnest(generate_series(1, len(toks))) AS i
           |        FROM base)),
           |uni AS (SELECT cur AS tok, COUNT(*) AS cu FROM occ
           |        GROUP BY cur),
           |tot AS (SELECT SUM(cu) AS t FROM uni),
           |bg AS (
           |  SELECT prev, cur, COUNT(*) AS cxy FROM occ
           |  WHERE prev IS NOT NULL GROUP BY prev, cur
           |  HAVING COUNT(*) >= 5),
           |bt AS (SELECT COUNT(*) AS bt FROM occ
           |       WHERE prev IS NOT NULL),
           |sc AS (
           |  SELECT b.prev AS tok_a, b.cur AS tok_b, b.cxy AS n_pair,
           |    CAST(FLOOR(ln(
           |      (CAST(b.cxy AS DOUBLE) / CAST(bt.bt AS DOUBLE))
           |      / ((CAST(ux.cu AS DOUBLE) / CAST(tot.t AS DOUBLE))
           |         * (CAST(uy.cu AS DOUBLE) / CAST(tot.t AS DOUBLE))))
           |      * 1000000.0) AS BIGINT) AS pmi_micro
           |  FROM bg b
           |  JOIN uni ux ON b.prev = ux.tok
           |  JOIN uni uy ON b.cur = uy.tok
           |  CROSS JOIN tot CROSS JOIN bt),
           |rk AS (
           |  SELECT sc.*, ROW_NUMBER() OVER (ORDER BY pmi_micro DESC,
           |    tok_a, tok_b) AS rank
           |  FROM sc)
           |SELECT CAST(rank AS BIGINT) AS rank, tok_a, tok_b, n_pair,
           |  pmi_micro
           |FROM rk WHERE rank <= 100""".stripMargin) +
      ("p117_lr_classifier" ->
        oLrClassifier(buckets = 64, iters = 12, lrDen = 1)) +
      ("p124_calibration" ->
        s"""WITH lr AS (${oLrClassifier(buckets = 64, iters = 12,
              lrDen = 1)})
           |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(cls) AS BIGINT) AS n_pos,
           |  CAST(FLOOR(1000000.0 / (1.0 + exp(-(CAST(bucket + 200000
           |    AS DOUBLE) / 1000000.0)))) AS BIGINT) AS pred_pos_micro,
           |  CAST((SUM(cls) * 1000000) // COUNT(*) AS BIGINT)
           |    AS emp_pos_micro
           |FROM (SELECT cls, z_micro
           |        - ((z_micro % 400000) + 400000) % 400000 AS bucket
           |      FROM lr)
           |GROUP BY bucket""".stripMargin) +
      ("p118_wordpiece" -> oWordPieceTrain(100)) +
      ("p122_residual_pq" -> oResidualPq) +
      ("p129_ql" -> oQlTopK) +
      ("p128_hll" -> {
        val m = 64
        val alpha = 0.7213 / (1 + 1.079 / m)
        val numer = alpha * (m.toDouble * m) * math.pow(2.0, 55)
        val bitlen = (0 until 54).map(b =>
          s"CASE WHEN rest >= ${1L << b} THEN ${b + 1} ELSE 0 END")
          .mkString("GREATEST(", ",\n    ", ")")
        s"""WITH grams AS (
           |  SELECT source AS src, ${oHash("sh")} AS h FROM (
           |    SELECT source, unnest(sh) AS sh FROM (
           |      SELECT source, ${oShingles(3)} AS sh
           |      FROM (SELECT source, $oToks AS toks FROM documents)))),
           |rho AS (
           |  SELECT src, h % 64 AS j,
           |    55 - $bitlen AS rho
           |  FROM (SELECT src, h, h // 64 AS rest FROM grams)),
           |regs AS (SELECT src, j, MAX(rho) AS mj FROM rho
           |         GROUP BY src, j),
           |sums AS (
           |  SELECT src, 64 - COUNT(*) AS v_zero,
           |    SUM(1::BIGINT << CAST(55 - mj AS INT))
           |      + (64 - COUNT(*)) * (1::BIGINT << 55) AS s
           |  FROM regs GROUP BY src),
           |ex AS (
           |  SELECT src, COUNT(*) AS n_grams,
           |    COUNT(DISTINCT h) AS exact_distinct
           |  FROM grams GROUP BY src),
           |est AS (
           |  SELECT s.src, ex.n_grams, ex.exact_distinct, s.v_zero,
           |    CASE WHEN CAST(FLOOR($numer / CAST(s.s AS DOUBLE))
           |        AS BIGINT) <= ${(2.5 * m).toLong} AND s.v_zero > 0
           |      THEN CAST(FLOOR(64.0 * ln(64.0
           |        / CAST(s.v_zero AS DOUBLE))) AS BIGINT)
           |      ELSE CAST(FLOOR($numer / CAST(s.s AS DOUBLE))
           |        AS BIGINT) END AS est
           |  FROM sums s JOIN ex ON s.src = ex.src)
           |SELECT src AS source, CAST(n_grams AS BIGINT) AS n_grams,
           |  CAST(exact_distinct AS BIGINT) AS exact_distinct,
           |  CAST(v_zero AS BIGINT) AS v_zero, est,
           |  (abs(est - exact_distinct) * 1000000) // exact_distinct
           |    AS err_micro
           |FROM est""".stripMargin
      }) +
      ("p127_countmin" ->
        s"""WITH occ AS (SELECT unnest($oToks) AS tok FROM documents),
           |rs AS (SELECT unnest(generate_series(0, 3)) AS r),
           |cells AS (
           |  SELECT r, ${oHash(
                  "'cm' || CAST(r AS VARCHAR) || '_' || tok")} % 64 AS b,
           |    COUNT(*) AS c
           |  FROM occ, rs GROUP BY 1, 2),
           |top AS (
           |  SELECT tok, COUNT(*) AS exact FROM occ GROUP BY tok
           |  ORDER BY exact DESC, tok LIMIT 30),
           |probes AS (
           |  SELECT tok, exact, r, ${oHash(
                  "'cm' || CAST(r AS VARCHAR) || '_' || tok")} % 64 AS b
           |  FROM top, rs),
           |est AS (
           |  SELECT p.tok, p.exact, MIN(c.c) AS est
           |  FROM probes p JOIN cells c ON p.r = c.r AND p.b = c.b
           |  GROUP BY p.tok, p.exact)
           |SELECT ROW_NUMBER() OVER (ORDER BY exact DESC, tok) AS rank,
           |  tok, CAST(exact AS BIGINT) AS exact,
           |  CAST(est AS BIGINT) AS est,
           |  CAST(est - exact AS BIGINT) AS overshoot
           |FROM est""".stripMargin) +
      ("p126_domain_drift" ->
        s"""WITH occ AS (
           |  SELECT source AS src, unnest($oToks) AS tok
           |  FROM documents),
           |sc AS (
           |  SELECT src, tok, COUNT(*) AS cs FROM occ GROUP BY src, tok),
           |cc AS (SELECT tok, COUNT(*) AS cv FROM occ GROUP BY tok),
           |v AS (SELECT COUNT(*) AS v, SUM(cv) AS tc FROM cc),
           |st AS (
           |  SELECT sc.src, sc.tok, sc.cs, cc.cv,
           |    SUM(sc.cs) OVER (PARTITION BY sc.src) AS ts
           |  FROM sc JOIN cc ON sc.tok = cc.tok)
           |SELECT src AS source, CAST(MAX(ts) AS BIGINT) AS n_toks,
           |  CAST(COUNT(*) AS BIGINT) AS n_types,
           |  CAST(SUM(CAST(FLOOR(
           |    (CAST(cs + 1 AS DOUBLE) / CAST(ts + v.v AS DOUBLE))
           |    * ln((CAST(cs + 1 AS DOUBLE) / CAST(ts + v.v AS DOUBLE))
           |         / (CAST(cv + 1 AS DOUBLE) / CAST(tc + v.v AS DOUBLE)))
           |    * 1000000000.0) AS BIGINT)) AS BIGINT) AS kl_nano
           |FROM st, v
           |GROUP BY src""".stripMargin) +
      ("p125_dedup_sweep" -> {
        def tcte(t: Int) =
          s"""e$t(u, v) AS (
             |  SELECT doc_a, doc_b FROM allp WHERE j >= ${t / 100.0}
             |  UNION SELECT doc_b, doc_a FROM allp WHERE j >= ${t / 100.0}),
             |r$t(u, v) AS (
             |  SELECT u, u FROM (SELECT DISTINCT u FROM e$t)
             |  UNION
             |  SELECT r.u, e2.v FROM r$t r JOIN e$t e2 ON r.v = e2.u),
             |c$t AS (SELECT u AS doc_id, MIN(v) AS cluster_id
             |        FROM r$t GROUP BY u),
             |s$t AS (
             |  SELECT CAST($t AS BIGINT) AS threshold_pct,
             |    (SELECT COUNT(*) FROM allp WHERE j >= ${t / 100.0})
             |      AS n_pairs,
             |    SUM(CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END)
             |      AS n_clusters,
             |    COUNT(*) AS n_docs_in_clusters,
             |    SUM(CASE WHEN c.doc_id != c.cluster_id THEN 1 ELSE 0 END)
             |      AS n_docs_removed,
             |    SUM(CASE WHEN c.doc_id != c.cluster_id THEN tk.n_toks
             |        ELSE 0 END) AS toks_removed
             |  FROM c$t c JOIN tk ON c.doc_id = tk.doc_id)""".stripMargin
        s"""WITH RECURSIVE ${oPairCtes(4, 0.4, withJ = true)},
           |allp AS (SELECT doc_a, doc_b, j FROM pairs),
           |tk AS (SELECT doc_id, CAST(len($oToks) AS BIGINT) AS n_toks
           |       FROM documents),
           |${Seq(40, 90, 96, 98).map(tcte).mkString(",\n")}
           |SELECT threshold_pct, CAST(n_pairs AS BIGINT) AS n_pairs,
           |  CAST(n_clusters AS BIGINT) AS n_clusters,
           |  CAST(n_docs_in_clusters AS BIGINT) AS n_docs_in_clusters,
           |  CAST(n_docs_removed AS BIGINT) AS n_docs_removed,
           |  CAST(toks_removed AS BIGINT) AS toks_removed
           |FROM (SELECT * FROM s40 UNION ALL SELECT * FROM s90
           |      UNION ALL SELECT * FROM s96 UNION ALL SELECT * FROM s98)
           |""".stripMargin
      }) +
      ("p123_doc_features" ->
        s"""WITH $oScoreCtes,
           |l AS (SELECT * FROM (${oracle0("p08_lang_id")})),
           |r AS (SELECT * FROM (${oracle0("p20_repetition")})),
           |e AS (SELECT * FROM ($oEntropy)),
           |kn AS (SELECT * FROM ($oKnBigram)),
           |mr AS (SELECT * FROM (${oracle0("p105_memorization_risk")}))
           |SELECT d.doc_id, d.lang, d.source, qm.n_toks, q.score_micro,
           |  l.lang_pred, r.dup_3gram_frac, r.top_word_frac,
           |  e.chars_entropy_micro, e.toks_entropy_micro,
           |  kn.avg_nll_micro,
           |  mr.dup_frac_micro AS mem_risk_micro
           |FROM documents d
           |JOIN qm ON d.doc_id = qm.doc_id
           |JOIN q ON d.doc_id = q.doc_id
           |JOIN l ON d.doc_id = l.doc_id
           |JOIN r ON d.doc_id = r.doc_id
           |JOIN e ON d.doc_id = e.doc_id
           |JOIN kn ON d.doc_id = kn.doc_id
           |JOIN mr ON d.doc_id = mr.doc_id""".stripMargin) +
      ("p120_prf" -> oPrf) +
      ("p121_entropy" -> oEntropy) +
      ("p119_hybrid_rrf" -> oRrf) +
      ("p130_retrieval_scorecard" ->
        s"""WITH bmr AS (SELECT * FROM (${oBm25(k1 = 1.2, b = 0.75,
              qTerms = 4, topK = 10)})),
           |qlr AS (SELECT * FROM ($oQlTopK)),
           |pfr AS (SELECT * FROM ($oPrf)),
           |rfr AS (SELECT * FROM ($oRrf)),
           |bff AS (SELECT * FROM ($oBm25f))
           |${oScorecardRow("bmr", "bm25")}
           |UNION ALL
           |${oScorecardRow("bff", "bm25f")}
           |UNION ALL
           |${oScorecardRow("qlr", "ql")}
           |UNION ALL
           |${oScorecardRow("pfr", "prf")}
           |UNION ALL
           |${oScorecardRow("rfr", "rrf")}""".stripMargin) +
      ("p132_bm25f" -> oBm25f) +
      ("p138_pagerank_hubs" -> oPagerank(8)) +
      ("p140_cluster_quality" -> oClusterQuality(Seq(50, 25, 10), 2)) +
      ("p141_triangles" -> oTriangles) +
      ("p154_kcore" -> oKCore(Seq(2, 3), 6)) +
      ("p156_dedup_retrieval" -> oDedupRetrievalImpact) +
      ("p157_operating_points" ->
        s"""WITH nb AS (${oNbClassifier}),
           |taus AS (SELECT CAST(tau AS BIGINT) AS tau FROM (VALUES
           |  (0), (2000000), (4000000), (6000000), (10000000)) v(tau)),
           |cf AS (
           |  SELECT t.tau,
           |    CAST(SUM(CASE WHEN nb.llr_micro >= t.tau AND nb.cls = 1
           |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |    CAST(SUM(CASE WHEN nb.llr_micro >= t.tau AND nb.cls = 0
           |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |    CAST(SUM(CASE WHEN nb.llr_micro < t.tau AND nb.cls = 1
           |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |    CAST(SUM(CASE WHEN nb.llr_micro < t.tau AND nb.cls = 0
           |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
           |  FROM nb CROSS JOIN taus t GROUP BY t.tau)
           |SELECT tau, tp, fp, fn, tn,
           |  CASE WHEN tp + fp = 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((tp * 1000000) // (tp + fp) AS BIGINT)
           |  END AS precision_micro,
           |  CASE WHEN tp + fn = 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((tp * 1000000) // (tp + fn) AS BIGINT)
           |  END AS recall_micro,
           |  CASE WHEN tp * 2 + fp + fn = 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((tp * 2000000) // (tp * 2 + fp + fn) AS BIGINT)
           |  END AS f1_micro
           |FROM cf""".stripMargin) +
      ("p158_repetition" ->
        s"""WITH base AS (SELECT doc_id, $oToks AS toks FROM documents),
           |bs AS (SELECT doc_id, toks,
           |    CAST(len(toks) AS BIGINT) AS n_toks,
           |    CAST(COALESCE(list_sum(list_transform(toks,
           |      t -> length(t))), 0) AS BIGINT) AS n_chars
           |  FROM base),
           |g2 AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS p,
           |    array_to_string(toks[i:i+1], ' ') AS g,
           |    CAST(list_sum(list_transform(toks[i:i+1],
           |      t -> length(t))) AS BIGINT) AS gc
           |  FROM (SELECT doc_id, toks,
           |          unnest(generate_series(1, len(toks) - 1)) AS i
           |        FROM bs WHERE n_toks >= 2)),
           |c2 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt,
           |    MAX(gc) AS gc
           |  FROM g2 GROUP BY doc_id, g),
           |t2 AS (SELECT doc_id, cnt AS top_cnt, cnt * gc AS top_chars
           |  FROM (SELECT doc_id, g, cnt, gc, ROW_NUMBER() OVER (
           |      PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
           |    FROM c2)
           |  WHERE rn = 1),
           |g5 AS (
           |  SELECT doc_id, CAST(i AS BIGINT) AS p,
           |    array_to_string(toks[i:i+2], ' ') AS g
           |  FROM (SELECT doc_id, toks,
           |          unnest(generate_series(1, len(toks) - 2)) AS i
           |        FROM bs WHERE n_toks >= 3)),
           |c5 AS (SELECT doc_id, g FROM g5
           |  GROUP BY doc_id, g HAVING COUNT(*) >= 2),
           |d5 AS (SELECT DISTINCT doc_id, cp FROM (
           |  SELECT g5.doc_id,
           |    unnest(generate_series(g5.p, g5.p + 2)) AS cp
           |  FROM g5 JOIN c5 ON g5.doc_id = c5.doc_id AND g5.g = c5.g)),
           |pl AS (SELECT doc_id, CAST(i AS BIGINT) AS cp,
           |    CAST(length(toks[i]) AS BIGINT) AS len
           |  FROM (SELECT doc_id, toks,
           |          unnest(generate_series(1, len(toks))) AS i
           |        FROM bs)),
           |dc AS (SELECT d5.doc_id, CAST(SUM(pl.len) AS BIGINT)
           |    AS dup_chars
           |  FROM d5 JOIN pl ON d5.doc_id = pl.doc_id AND d5.cp = pl.cp
           |  GROUP BY d5.doc_id)
           |SELECT bs.doc_id, bs.n_toks, bs.n_chars,
           |  COALESCE(t2.top_cnt, CAST(0 AS BIGINT)) AS top_cnt,
           |  CASE WHEN bs.n_chars = 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((COALESCE(t2.top_chars, 0) * 1000000)
           |      // bs.n_chars AS BIGINT)
           |  END AS top2_frac_micro,
           |  CASE WHEN bs.n_chars = 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((COALESCE(dc.dup_chars, 0) * 1000000)
           |      // bs.n_chars AS BIGINT)
           |  END AS dup3_frac_micro
           |FROM bs LEFT JOIN t2 ON bs.doc_id = t2.doc_id
           |LEFT JOIN dc ON bs.doc_id = dc.doc_id""".stripMargin) +
      ("p155_pr_auc" ->
        s"""WITH nb AS (${oNbClassifier}),
           |bys AS (
           |  SELECT llr_micro AS s, SUM(cls) AS tp,
           |    COUNT(*) - SUM(cls) AS fp
           |  FROM nb GROUP BY llr_micro),
           |cm AS (
           |  SELECT s, tp, fp,
           |    SUM(tp) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW) AS cum_tp,
           |    SUM(tp + fp) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
           |      PRECEDING AND CURRENT ROW) AS cum
           |  FROM bys),
           |tot AS (SELECT CAST(SUM(tp) AS BIGINT) AS n_pos,
           |  CAST(SUM(fp) AS BIGINT) AS n_neg FROM bys),
           |terms AS (
           |  SELECT CAST((cm.tp * cm.cum_tp * 1000000)
           |      // (cm.cum * tot.n_pos) AS BIGINT) AS term_micro
           |  FROM cm, tot)
           |SELECT tot.n_pos, tot.n_neg,
           |  CAST((SELECT SUM(term_micro) FROM terms) AS BIGINT)
           |    AS ap_micro,
           |  CAST((tot.n_pos * 1000000) // (tot.n_pos + tot.n_neg)
           |    AS BIGINT) AS prevalence_micro
           |FROM tot""".stripMargin) +
      ("p142_detector_agreement" -> oDetectorAgreement) +
      ("p143_chi_square" -> oChiSquare) +
      ("p153_epoch_schedule" ->
        s"""WITH per AS (SELECT source,
           |    CAST(SUM(len($oToks)) AS BIGINT) AS avail_toks
           |  FROM documents GROUP BY source),
           |tot AS (SELECT CAST(SUM(avail_toks) AS BIGINT) AS total,
           |    CAST(COUNT(*) AS BIGINT) AS ns FROM per),
           |x AS (SELECT source, avail_toks,
           |    (tot.total * 4) // (tot.ns * 1) AS target_toks
           |  FROM per, tot),
           |y AS (SELECT source, avail_toks, target_toks,
           |    (target_toks * 1000000) // avail_toks AS epochs_micro,
           |    LEAST(target_toks, 4 * avail_toks) AS effective_toks
           |  FROM x)
           |SELECT source, avail_toks, target_toks, epochs_micro,
           |  effective_toks,
           |  target_toks - effective_toks AS deficit_toks,
           |  CASE WHEN epochs_micro > 4000000 THEN CAST(1 AS BIGINT)
           |       ELSE CAST(0 AS BIGINT) END AS over_cap
           |FROM y""".stripMargin) +
      ("p151_source_dup_rates" -> oSourceDupRates) +
      ("p152_split_leakage" ->
        s"""WITH RECURSIVE ${oPairCtes(4, 0.4)},
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(u, v) AS (
           |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |dec AS (SELECT u AS doc_id, MIN(v) AS comp
           |        FROM reach GROUP BY u),
           |sp AS (SELECT doc_id,
           |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM (SELECT doc_id,
           |    ${oHash("'split' || CAST(doc_id AS VARCHAR)")} % 100
           |      AS h FROM documents)),
           |pr AS (SELECT LEAST(a.split, b.split) AS s1,
           |    GREATEST(a.split, b.split) AS s2
           |  FROM pairs p JOIN sp a ON p.doc_a = a.doc_id
           |  JOIN sp b ON p.doc_b = b.doc_id),
           |bp AS (SELECT s1 || '|' || s2 AS bucket,
           |    CAST(COUNT(*) AS BIGINT) AS n FROM pr GROUP BY s1, s2),
           |cl AS (SELECT dec.comp, COUNT(DISTINCT sp.split) AS ns
           |  FROM dec JOIN sp ON dec.doc_id = sp.doc_id
           |  GROUP BY dec.comp),
           |sm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           |    CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_straddling FROM cl)
           |SELECT bucket, n FROM bp
           |UNION ALL SELECT 'clusters_total', n_clusters FROM sm
           |UNION ALL SELECT 'clusters_straddling', n_straddling
           |FROM sm""".stripMargin) +
      ("p159_split_repair" ->
        s"""WITH RECURSIVE ${oPairCtes(4, 0.4)},
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(u, v) AS (
           |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |dec AS (SELECT u AS doc_id, MIN(v) AS comp
           |        FROM reach GROUP BY u),
           |sp AS (SELECT doc_id,
           |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM (SELECT doc_id,
           |    ${oHash("'split' || CAST(doc_id AS VARCHAR)")} % 100
           |      AS h FROM documents))
           |SELECT f.split AS from_split, t.split AS to_split,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs
           |FROM dec
           |JOIN sp f ON dec.doc_id = f.doc_id
           |JOIN sp t ON dec.comp = t.doc_id
           |GROUP BY f.split, t.split""".stripMargin) +
      ("p171_shard_files" ->
        // p160's manifest replay + per-shard rollup with the p86-style
        // positional checksum; order_inversions is the literal 0 the
        // Spark side must reproduce from the PHYSICAL file order
        s"""WITH n AS (SELECT doc_id, text,
           |    CAST(len($oToks) AS BIGINT) AS n_toks,
           |    ${oHash("'shard' || CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents),
           |c AS (SELECT doc_id, text, n_toks,
           |    CAST(SUM(n_toks) OVER (ORDER BY h, doc_id
           |      ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT)
           |      AS start_tok
           |  FROM n),
           |m AS (SELECT doc_id, n_toks,
           |    CAST(start_tok // 4096 AS BIGINT) AS chunk_idx,
           |    CAST(start_tok % 4096 AS BIGINT) AS chunk_off,
           |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp
           |  FROM c)
           |SELECT chunk_idx, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_toks) AS BIGINT) AS n_toks,
           |  CAST(SUM(${oHash("fp || ':' || CAST(chunk_off AS VARCHAR)")}
           |           % 268435456) AS BIGINT) AS shard_sum,
           |  CAST(0 AS BIGINT) AS order_inversions
           |FROM m GROUP BY chunk_idx""".stripMargin) +
      ("p160_shard_manifest" ->
        s"""WITH n AS (SELECT doc_id,
           |    CAST(len($oToks) AS BIGINT) AS n_toks,
           |    ${oHash("'shard' || CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents),
           |c AS (SELECT doc_id, n_toks,
           |    CAST(SUM(n_toks) OVER (ORDER BY h, doc_id
           |      ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT)
           |      AS start_tok
           |  FROM n)
           |SELECT doc_id, n_toks,
           |  CAST(start_tok // 4096 AS BIGINT) AS chunk_idx,
           |  CAST(start_tok % 4096 AS BIGINT) AS chunk_off
           |FROM c""".stripMargin) +
      ("p161_hard_negatives" ->
        s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 4)},
           |neg AS (
           |  SELECT query_id, doc_id, n_terms, score_micro,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY score_micro DESC, doc_id) AS rank
           |  FROM sc WHERE doc_id <> query_id)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
           |  CAST(n_terms AS BIGINT) AS n_terms, score_micro
           |FROM neg WHERE rank <= 5""".stripMargin) +
      ("p170_quantization_probe" -> {
        // the p169 chain, parameterized over (tag, relation, vector
        // col): budget-strided queries probe nprobe=2 IVF cells over
        // budget-strided seed centroids — the oracle twin of
        // Similarity.ivfTopKWith's assignment and tie rules
        def chain(tag: String, rel: String, vcol: String) =
          s"""ct$tag AS (SELECT vec_id AS cent_id, $vcol AS ce
             |  FROM $rel WHERE vec_id % ${oQStride(rel, 32)} = 0),
             |as$tag AS (SELECT e.vec_id, e.$vcol AS v,
             |    CAST(e.label AS BIGINT) AS lab, cent_id,
             |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
             |      ORDER BY ${oCos(s"e.$vcol", "ce")} DESC,
             |        cent_id ASC) AS crn
             |  FROM $rel e, ct$tag),
             |cl$tag AS (SELECT vec_id, v, lab, cent_id
             |  FROM as$tag WHERE crn = 1),
             |q$tag AS (SELECT vec_id AS query_id, v AS qv, lab
             |    AS true_label, cent_id
             |  FROM as$tag
             |  WHERE crn <= 2 AND vec_id % ${oQStride(rel, 256)} = 0),
             |sc$tag AS (SELECT query_id, c.vec_id AS cand_id,
             |    c.lab AS nl, ${oCos("qv", "c.v")} AS sim
             |  FROM q$tag q JOIN cl$tag c ON q.cent_id = c.cent_id
             |    AND c.vec_id != q.query_id),
             |r$tag AS (SELECT query_id, nl,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY sim DESC, cand_id) AS rank
             |  FROM sc$tag),
             |v$tag AS (SELECT query_id, nl, COUNT(*) AS votes
             |  FROM r$tag WHERE rank <= 10 GROUP BY 1, 2),
             |p$tag AS (SELECT query_id, nl AS pred,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |      ORDER BY votes DESC, nl ASC) AS vr
             |  FROM v$tag),
             |ql$tag AS (SELECT DISTINCT query_id, true_label
             |  FROM q$tag),
             |j$tag AS (SELECT ql$tag.true_label, p$tag.pred
             |  FROM p$tag JOIN ql$tag USING (query_id) WHERE vr = 1)"""
            .stripMargin
        def sel(tag: String, method: String) =
          s"""SELECT '$method' AS method, true_label,
             |  CAST(COUNT(*) AS BIGINT) AS n_queries,
             |  CAST(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  CAST((SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
             |    * 1000000) // COUNT(*) AS BIGINT) AS accuracy_micro
             |FROM j$tag GROUP BY true_label""".stripMargin
        s"""WITH sq AS (SELECT vec_id, label,
           |    127.0 / list_max(list_transform(embedding,
           |      y -> abs(CAST(y AS DOUBLE)))) AS s, embedding
           |  FROM embeddings),
           |e8 AS (SELECT vec_id, label,
           |    list_transform(embedding,
           |      x -> FLOOR(CAST(x AS DOUBLE) * s)) AS emb8
           |  FROM sq),
           |${chain("a", "embeddings", "embedding")},
           |${chain("b", "e8", "emb8")}
           |${sel("a", "raw")} UNION ALL ${sel("b", "int8")}"""
          .stripMargin
      }) +
      ("p169_knn_probe" ->
        // the IVF probe chain: budget-strided queries over nprobe=2
        // cells on budget-strided seed centroids (the p170 `chain`
        // shape over the raw relation only)
        s"""WITH ct AS (SELECT vec_id AS cent_id, embedding AS ce
           |  FROM embeddings
           |  WHERE vec_id % ${oQStride("embeddings", 32)} = 0),
           |asg AS (SELECT e.vec_id, e.embedding AS v,
           |    CAST(e.label AS BIGINT) AS lab, cent_id,
           |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${oCos("e.embedding", "ce")} DESC,
           |        cent_id ASC) AS crn
           |  FROM embeddings e, ct),
           |cl AS (SELECT vec_id, v, lab, cent_id
           |  FROM asg WHERE crn = 1),
           |q AS (SELECT vec_id AS query_id, v AS qv,
           |    lab AS true_label, cent_id
           |  FROM asg
           |  WHERE crn <= 2
           |    AND vec_id % ${oQStride("embeddings", 256)} = 0),
           |sc AS (SELECT query_id, c.vec_id AS cand_id, c.lab AS nl,
           |    ${oCos("qv", "c.v")} AS sim
           |  FROM q JOIN cl c ON q.cent_id = c.cent_id
           |    AND c.vec_id != q.query_id),
           |r AS (SELECT query_id, nl,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, cand_id) AS rank
           |  FROM sc),
           |v AS (SELECT query_id, nl, COUNT(*) AS votes
           |  FROM r WHERE rank <= 10 GROUP BY 1, 2),
           |p AS (SELECT query_id, nl AS pred,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY votes DESC, nl ASC) AS vr
           |  FROM v),
           |ql AS (SELECT DISTINCT query_id, true_label FROM q),
           |j AS (SELECT ql.true_label, p.pred
           |  FROM p JOIN ql USING (query_id) WHERE vr = 1)
           |SELECT true_label, CAST(COUNT(*) AS BIGINT) AS n_queries,
           |  CAST(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_correct,
           |  CAST((SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
           |    * 1000000) // COUNT(*) AS BIGINT) AS accuracy_micro
           |FROM j GROUP BY 1""".stripMargin) +
      ("p168_k_anonymity" ->
        """WITH u AS (
          |  SELECT user_id,
          |    array_to_string(list_sort(list(DISTINCT event_type)), '|')
          |      AS sig
          |  FROM events GROUP BY user_id),
          |c AS (SELECT sig, CAST(COUNT(*) AS BIGINT) AS k
          |  FROM u GROUP BY sig)
          |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_signatures,
          |  CAST(SUM(k) AS BIGINT) AS n_users
          |FROM c GROUP BY k""".stripMargin) +
      ("p167_jsonl_roundtrip" ->
        s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           |  CAST(SUM(len($oToks)) AS BIGINT) AS n_toks
           |FROM documents GROUP BY source""".stripMargin) +
      ("p166_epoch_decorrelation" -> {
        def rankCte(e: Int) =
          s"""r$e AS (SELECT doc_id,
             |    ROW_NUMBER() OVER (ORDER BY
             |      ${oHash(s"'epoch$e|' || CAST(doc_id AS VARCHAR)")},
             |      doc_id) AS r
             |  FROM documents),
             |p$e AS (SELECT doc_id AS pred,
             |    LEAD(doc_id) OVER (ORDER BY r) AS succ
             |  FROM r$e QUALIFY succ IS NOT NULL)""".stripMargin
        def row(a: Int, b: Int) =
          s"""SELECT CAST($a AS BIGINT) AS epoch_a,
             |  CAST($b AS BIGINT) AS epoch_b,
             |  (SELECT CAST(COUNT(*) - 1 AS BIGINT) FROM documents)
             |    AS n_pairs,
             |  (SELECT CAST(COUNT(*) AS BIGINT)
             |   FROM p$a JOIN p$b USING (pred, succ))
             |    AS repeated_adjacent""".stripMargin
        s"""WITH ${rankCte(1)},
           |${rankCte(2)},
           |${rankCte(3)}
           |${row(1, 2)} UNION ALL ${row(1, 3)} UNION ALL ${row(2, 3)}"""
          .stripMargin
      }) +
      ("p164_crop_pairs" ->
        s"""WITH d AS (SELECT doc_id, $oToks AS toks,
           |    CAST(len($oToks) AS BIGINT) AS n FROM documents),
           |f AS (SELECT * FROM d WHERE n >= 8),
           |c AS (SELECT doc_id, toks, n,
           |    GREATEST(1, CAST((n * (40 +
           |      ${oHash("'cropla' || CAST(doc_id AS VARCHAR)")} % 31))
           |      // 100 AS BIGINT)) AS a_len,
           |    GREATEST(1, CAST((n * (40 +
           |      ${oHash("'croplb' || CAST(doc_id AS VARCHAR)")} % 31))
           |      // 100 AS BIGINT)) AS b_len
           |  FROM f),
           |p AS (SELECT doc_id, toks, n, a_len, b_len,
           |    1 + ${oHash("'cropsa' || CAST(doc_id AS VARCHAR)")}
           |      % (n - a_len + 1) AS a_start,
           |    1 + ${oHash("'cropsb' || CAST(doc_id AS VARCHAR)")}
           |      % (n - b_len + 1) AS b_start
           |  FROM c)
           |SELECT doc_id, n AS n_toks, a_start, a_len, b_start, b_len,
           |  GREATEST(0, LEAST(a_start + a_len, b_start + b_len)
           |    - GREATEST(a_start, b_start)) AS overlap_toks,
           |  array_to_string(toks[a_start:a_start + a_len - 1], ' ')
           |    AS crop_a,
           |  array_to_string(toks[b_start:b_start + b_len - 1], ' ')
           |    AS crop_b
           |FROM p""".stripMargin) +
      ("p163_mix_interleave" ->
        s"""$oMixInterleaveCtes
           |SELECT doc_id, source, n_toks, vtime,
           |  CAST(start_tok // 4096 AS BIGINT) AS chunk_idx,
           |  CAST(start_tok % 4096 AS BIGINT) AS chunk_off
           |FROM st""".stripMargin) +
      ("p173_ltr_rerank" -> oLtrRerank(iters = 12, lrNum = 50L)) +
      ("p178_index_export" -> oServingCertify("embeddings")) +
      ("p181_index_append" -> oServingCertify("allv", pre = s"""
         |dmx AS (SELECT MAX(vec_id) + 1 AS base FROM embeddings),
         |delta AS (
         |  SELECT e.vec_id + dmx.base AS vec_id,
         |    ${oRotate("e.embedding", "p181")} AS embedding
         |  FROM embeddings e, dmx
         |  WHERE (e.vec_id + dmx.base) % 10 = 3),
         |allv AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id, embedding FROM delta),
         |""".stripMargin)) +
      ("p183_index_delete" -> {
        val doomed =
          "vec_id % 9 = 2 AND vec_id % 25 != 0 AND vec_id >= 8"
        s"""SELECT 'pre' AS phase, artifact, n_rows, checksum FROM (
           |${oServingCertify("embeddings")}
           |UNION ALL
           |SELECT 'tombstones' AS artifact,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(${oHash("CAST(vec_id AS VARCHAR)")} % 268435456)
           |    AS BIGINT) AS checksum
           |FROM embeddings WHERE $doomed)
           |UNION ALL
           |SELECT 'post' AS phase, artifact, n_rows, checksum FROM (
           |${oServingCertify(
             s"(SELECT vec_id, embedding FROM embeddings" +
               s" WHERE NOT ($doomed))")})""".stripMargin
      }) +
      ("p188_image_ingest_gate" ->
        s"""SELECT a.doc_id AS media_id, e.doc_id AS match_id,
           |  CAST(e.doc_id IS NOT NULL AS BIGINT) AS is_dup
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
           |LEFT JOIN (SELECT doc_id FROM documents
           |           WHERE doc_id % 2 = 0) e
           |  ON e.doc_id = a.doc_id - 1""".stripMargin) +
      ("p187_admission_pipeline" -> {
        s"""${oMinhashSigCtes(3, 12)},
           |bds AS (SELECT unnest(generate_series(0, 5)) AS bd),
           |bl AS (SELECT doc_id, bd,
           |    list_slice(sig, bd*2 + 1, bd*2 + 2) AS sl
           |  FROM sg, bds),
           |basebl AS (SELECT * FROM bl WHERE doc_id % 7 != 2),
           |bsz AS (SELECT bd, sl, COUNT(*) AS n, MIN(doc_id) AS bmin
           |  FROM basebl GROUP BY 1, 2),
           |fb AS (SELECT basebl.doc_id, basebl.bd, basebl.sl
           |  FROM basebl JOIN bsz
           |    ON basebl.bd = bsz.bd AND basebl.sl = bsz.sl
           |  WHERE bsz.n <= 1024 OR basebl.doc_id = bsz.bmin),
           |abl AS (SELECT * FROM bl WHERE doc_id % 7 = 2),
           |candd AS (SELECT DISTINCT abl.doc_id AS new_doc,
           |    fb.doc_id AS idx_doc
           |  FROM abl JOIN fb ON abl.bd = fb.bd AND abl.sl = fb.sl),
           |agrd AS (SELECT cd.new_doc, cd.idx_doc,
           |    CAST(list_sum(list_transform(generate_series(1, 12),
           |      i -> CASE WHEN ns.sig[i] = xs.sig[i]
           |           THEN 1 ELSE 0 END)) AS BIGINT) AS n_agree
           |  FROM candd cd
           |  JOIN sg ns ON ns.doc_id = cd.new_doc
           |  JOIN sg xs ON xs.doc_id = cd.idx_doc),
           |bestd AS (SELECT new_doc, n_agree,
           |    ROW_NUMBER() OVER (PARTITION BY new_doc
           |      ORDER BY n_agree DESC, idx_doc ASC) AS rn FROM agrd),
           |ch AS (SELECT DISTINCT doc_id, ${oHash("s")} AS h
           |  FROM (SELECT doc_id, unnest(${oShingles(3)}) AS s
           |        FROM t)),
           |bp AS (SELECT doc_id AS bench_doc, h FROM ch
           |  WHERE doc_id % 7 != 2 AND doc_id % 20 = 0),
           |tp AS (SELECT doc_id, h FROM ch WHERE doc_id % 7 = 2),
           |cpairs AS (SELECT tp.doc_id, bench_doc,
           |    CAST(COUNT(*) AS BIGINT) AS n_shared
           |  FROM tp JOIN bp USING (h) GROUP BY 1, 2),
           |bestc AS (SELECT doc_id, n_shared,
           |    ROW_NUMBER() OVER (PARTITION BY doc_id
           |      ORDER BY n_shared DESC, bench_doc ASC) AS rn
           |  FROM cpairs),
           |g AS (${oGopherRules(minWords = 20, minStop = 1)}),
           |c AS (${oC4Lines(minLineWords = 3, requirePunct = false,
                    minSentences = 0)}),
           |q AS (${oracle0("p09_quality")}),
           |lab AS (
           |  SELECT d.doc_id,
           |    CAST(CASE WHEN q.score >= 0.5 THEN 1 ELSE 0 END
           |         * g.keep * c.page_keep AS BIGINT) AS cls
           |  FROM documents d
           |  JOIN g ON d.doc_id = g.doc_id
           |  JOIN c ON d.doc_id = c.doc_id
           |  JOIN q ON d.doc_id = q.doc_id),
           |arr AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 2)
           |SELECT arr.doc_id,
           |  COALESCE(bd.n_agree, 0) AS n_agree,
           |  COALESCE(bc.n_shared, 0) AS n_shared,
           |  lab.cls AS quality_keep,
           |  CASE WHEN COALESCE(bd.n_agree, 0) >= 8 THEN 'reject_dup'
           |       WHEN COALESCE(bc.n_shared, 0) >= 2
           |         THEN 'reject_contaminated'
           |       WHEN lab.cls = 0 THEN 'reject_quality'
           |       ELSE 'admit' END AS verdict
           |FROM arr
           |LEFT JOIN (SELECT * FROM bestd WHERE rn = 1) bd
           |  ON bd.new_doc = arr.doc_id
           |LEFT JOIN (SELECT * FROM bestc WHERE rn = 1) bc
           |  ON bc.doc_id = arr.doc_id
           |JOIN lab ON lab.doc_id = arr.doc_id""".stripMargin
      }) +
      ("p186_index_lifecycle" -> {
        val doomed =
          "vec_id % 9 = 2 AND vec_id % 25 != 0 AND vec_id >= 8"
        val deltaCtes = s"""
           |dmx AS (SELECT MAX(vec_id) + 1 AS base FROM embeddings),
           |delta AS (
           |  SELECT e.vec_id + dmx.base AS vec_id,
           |    ${oRotate("e.embedding", "p186")} AS embedding
           |  FROM embeddings e, dmx
           |  WHERE (e.vec_id + dmx.base) % 10 = 3),
           |allv AS (SELECT vec_id, embedding FROM embeddings
           |  UNION ALL SELECT vec_id, embedding FROM delta),
           |""".stripMargin
        val liveCtes = deltaCtes + s"""live AS (
           |  SELECT vec_id, embedding FROM allv
           |  WHERE vec_id NOT IN
           |    (SELECT vec_id FROM embeddings WHERE $doomed)),
           |""".stripMargin
        val tombRow = s"""SELECT 'tombstones' AS artifact,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(${oHash("CAST(vec_id AS VARCHAR)")} % 268435456)
           |    AS BIGINT) AS checksum
           |FROM embeddings WHERE $doomed""".stripMargin
        s"""SELECT '1_export' AS phase, artifact, n_rows, checksum
           |FROM (${oServingCertify("embeddings")})
           |UNION ALL
           |SELECT '2_append' AS phase, artifact, n_rows, checksum
           |FROM (${oServingCertify("allv", pre = deltaCtes)})
           |UNION ALL
           |SELECT '3_delete' AS phase, artifact, n_rows, checksum
           |FROM (${oServingCertify("allv", pre = deltaCtes)}
           |      UNION ALL
           |      $tombRow)
           |UNION ALL
           |SELECT '4_compact' AS phase, artifact, n_rows, checksum
           |FROM (${oServingCertify("live", pre = liveCtes)})"""
          .stripMargin
      }) +
      ("p185_ingest_decontaminate" ->
        s"""WITH sh AS (
           |  SELECT DISTINCT doc_id, ${oHash("s")} AS h
           |  FROM (SELECT doc_id, unnest(${oShingles(3)}) AS s
           |        FROM (SELECT doc_id, $oToks AS toks
           |              FROM documents))),
           |b AS (SELECT doc_id AS bench_doc, h FROM sh
           |  WHERE doc_id % 20 = 0),
           |tr AS (SELECT doc_id AS train_doc, h FROM sh
           |  WHERE doc_id % 20 != 0),
           |pairs AS (
           |  SELECT train_doc, bench_doc,
           |    CAST(COUNT(*) AS BIGINT) AS n_shared
           |  FROM tr JOIN b USING (h) GROUP BY 1, 2),
           |best AS (
           |  SELECT train_doc, n_shared, bench_doc,
           |    ROW_NUMBER() OVER (PARTITION BY train_doc
           |      ORDER BY n_shared DESC, bench_doc ASC) AS rn
           |  FROM pairs)
           |SELECT a.doc_id, COALESCE(x.n_shared, 0) AS n_shared,
           |  x.bench_doc AS match_bench,
           |  CAST(COALESCE(x.n_shared, 0) >= 2 AS BIGINT)
           |    AS is_contaminated
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 != 0) a
           |LEFT JOIN (SELECT * FROM best WHERE rn = 1) x
           |  ON x.train_doc = a.doc_id""".stripMargin) +
      ("p184_dedup_append" -> {
        s"""${oMinhashSigCtes(3, 12)},
           |bds AS (SELECT unnest(generate_series(0, 5)) AS bd),
           |bl AS (SELECT doc_id, bd,
           |    CAST(bd AS VARCHAR) || '_'
           |      || CAST(sig[bd*2 + 1] AS VARCHAR) || '_'
           |      || CAST(sig[bd*2 + 2] AS VARCHAR) AS key
           |  FROM sg, bds),
           |basebl AS (SELECT * FROM bl WHERE doc_id % 3 != 0),
           |bsz AS (SELECT key, COUNT(*) AS n, MIN(doc_id) AS bmin
           |  FROM basebl GROUP BY 1),
           |fb AS (
           |  SELECT b.key, b.doc_id FROM basebl b
           |  JOIN bsz ON b.key = bsz.key
           |  WHERE bsz.n <= 1024 OR b.doc_id = bsz.bmin
           |  UNION ALL
           |  SELECT key, doc_id FROM bl WHERE doc_id % 3 = 0)
           |SELECT 'bands' AS artifact,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(${oHash(
                 "key || ':' || CAST(doc_id AS VARCHAR)")}
           |    % 268435456) AS BIGINT) AS checksum
           |FROM fb
           |UNION ALL
           |SELECT 'sigs' AS artifact,
           |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_rows,
           |  CAST(SUM(${oHash(
                 "CAST(doc_id AS VARCHAR) || ':' ||" +
                   " CAST(i - 1 AS VARCHAR) || ':' ||" +
                   " CAST(sig[i] AS VARCHAR)")}
           |    % 268435456) AS BIGINT) AS checksum
           |FROM sg, (SELECT unnest(generate_series(1, 12)) AS i)"""
          .stripMargin
      }) +
      ("p182_ingest_dedup" -> {
        val P = 2147483647L
        val dsigs = TF.minhashSeeds(12).map { case (a, b) =>
          s"COALESCE(list_min(list_transform(dbh, h -> ($a * h + $b) % $P)), $P)"
        }.mkString(",\n      ")
        val idv = "CAST(t.doc_id AS VARCHAR)"
        val novel = s"'zqa' || $idv || ' zqb' || $idv || ' zqc' ||" +
          s" $idv || ' zqd' || $idv"
        s"""${oMinhashSigCtes(3, 12)},
           |bds AS (SELECT unnest(generate_series(0, 5)) AS bd),
           |bl AS (SELECT doc_id, bd,
           |    list_slice(sig, bd*2 + 1, bd*2 + 2) AS sl
           |  FROM sg, bds),
           |bsz AS (SELECT bd, sl, COUNT(*) AS n, MIN(doc_id) AS bmin
           |  FROM bl GROUP BY 1, 2),
           |fb AS (SELECT bl.doc_id, bl.bd, bl.sl FROM bl
           |  JOIN bsz ON bl.bd = bsz.bd AND bl.sl = bsz.sl
           |  WHERE bsz.n <= 1024 OR bl.doc_id = bsz.bmin),
           |dmx AS (SELECT MAX(doc_id) + 1 AS base FROM documents),
           |dd AS (SELECT t.doc_id + dmx.base AS doc_id,
           |    t.doc_id AS orig,
           |    CASE WHEN t.doc_id % 10 = 1 THEN 'copy'
           |         WHEN t.doc_id % 10 = 4 THEN 'trunc'
           |         ELSE 'novel' END AS kind,
           |    CASE WHEN t.doc_id % 10 = 1 THEN d.text
           |         WHEN t.doc_id % 10 = 4 THEN array_to_string(
           |           list_slice(t.toks, 1, (len(t.toks) + 1) // 2),
           |           ' ')
           |         ELSE $novel END AS dtext
           |  FROM t JOIN documents d ON t.doc_id = d.doc_id, dmx
           |  WHERE t.doc_id % 10 IN (1, 4, 7)),
           |ddt AS (SELECT doc_id, orig, kind,
           |    ${oToksOf("dtext")} AS toks FROM dd),
           |dshs AS (SELECT doc_id, orig, kind, ${oShingles(3)} AS sh
           |  FROM ddt),
           |dhh AS (SELECT doc_id, orig, kind,
           |    list_transform(sh, s0 -> ${oHash("s0")} % $P) AS dbh
           |  FROM dshs),
           |dsg AS (SELECT doc_id, orig, kind, [
           |      $dsigs] AS sig FROM dhh),
           |dbl AS (SELECT doc_id, bd,
           |    list_slice(sig, bd*2 + 1, bd*2 + 2) AS sl
           |  FROM dsg, bds),
           |cand AS (SELECT DISTINCT dbl.doc_id AS new_doc,
           |    fb.doc_id AS idx_doc
           |  FROM dbl JOIN fb ON dbl.bd = fb.bd AND dbl.sl = fb.sl),
           |agr AS (SELECT c.new_doc, c.idx_doc,
           |    CAST(list_sum(list_transform(generate_series(1, 12),
           |      i -> CASE WHEN ns.sig[i] = xs.sig[i]
           |           THEN 1 ELSE 0 END)) AS BIGINT) AS n_agree
           |  FROM cand c
           |  JOIN dsg ns ON ns.doc_id = c.new_doc
           |  JOIN sg xs ON xs.doc_id = c.idx_doc),
           |best AS (SELECT new_doc, n_agree, idx_doc,
           |    ROW_NUMBER() OVER (PARTITION BY new_doc
           |      ORDER BY n_agree DESC, idx_doc ASC) AS rn FROM agr)
           |SELECT d.doc_id, d.orig, d.kind,
           |  COALESCE(b.n_agree, 0) AS n_agree, b.idx_doc AS match_doc,
           |  CAST(COALESCE(b.n_agree, 0) >= 8 AS BIGINT) AS is_dup
           |FROM dsg d
           |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
           |  ON b.new_doc = d.doc_id""".stripMargin
      }) +
      ("p177_passage_retrieval" -> {
        val cavgdl = "(CAST(cst.sdl AS DOUBLE) / CAST(cst.nd AS DOUBLE))"
        val cidf = "ln(1.0 + (CAST(cst.nd AS DOUBLE) - CAST(f.df" +
          " AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))"
        val cnorm = s"(CAST(p.tf AS DOUBLE) * 2.2" +
          s" / (CAST(p.tf AS DOUBLE) + 1.2 * (0.25" +
          s" + 0.75 * (CAST(d.dl AS DOUBLE) / $cavgdl))))"
        s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 8,
              baseCteBody = Some(s"""
           |  SELECT d.doc_id,
           |    ${oToksOf("pp.pad || ' ' || d.text")}
           |      AS toks,
           |    $oToks AS qtoks
           |  FROM documents d
           |  JOIN (
           |    SELECT ((doc_id - 1 + nn.n) % nn.n) AS target,
           |      array_to_string(list_transform($oToks,
           |        x -> x || ' xfillerx xfillerx xfillerx xfillerx' ||
           |             ' xfillerx xfillerx'), ' ') AS pad
           |    FROM documents,
           |      (SELECT COUNT(*) AS n FROM documents) nn
           |  ) pp ON pp.target = d.doc_id""".stripMargin))},
           |cw AS (SELECT doc_id, toks,
           |    CASE WHEN len(toks) <= 32 THEN 1
           |         ELSE (len(toks) - 32 + 23) // 24 + 1 END AS nw
           |  FROM base WHERE len(toks) > 0),
           |ctk AS (SELECT doc_id * 10000 + seq AS cid,
           |    toks[seq * 24 + 1 : seq * 24 + 32] AS ct
           |  FROM (SELECT doc_id, toks,
           |          unnest(generate_series(0, nw - 1)) AS seq
           |        FROM cw)),
           |cdl AS (SELECT cid, CAST(len(ct) AS BIGINT) AS dl FROM ctk),
           |cst AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
           |    CAST(SUM(dl) AS BIGINT) AS sdl FROM cdl),
           |cpost AS (
           |  SELECT tok, cid, COUNT(*) AS tf
           |  FROM (SELECT cid, unnest(ct) AS tok FROM ctk)
           |  GROUP BY tok, cid),
           |cdfq AS (
           |  SELECT p.tok, COUNT(*) AS df FROM cpost p
           |  WHERE p.tok IN (SELECT DISTINCT tok FROM qt)
           |  GROUP BY p.tok),
           |csc AS (
           |  SELECT q.query_id, p.cid,
           |    CAST(SUM(CAST(FLOOR($cidf * $cnorm * 1000000.0)
           |      AS BIGINT)) AS BIGINT) AS score_micro
           |  FROM cpost p
           |  JOIN qt q ON p.tok = q.tok
           |  JOIN cdfq f ON p.tok = f.tok
           |  JOIN cdl d ON p.cid = d.cid
           |  CROSS JOIN cst
           |  GROUP BY q.query_id, p.cid),
           |crk AS (
           |  SELECT query_id, cid, score_micro,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY score_micro DESC, cid) AS rank
           |  FROM csc),
           |mp AS (SELECT query_id, cid // 10000 AS doc_id,
           |    MAX(score_micro) AS ms
           |  FROM crk WHERE rank <= 30 GROUP BY 1, 2),
           |mrk AS (SELECT query_id, doc_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY ms DESC, doc_id) AS rank
           |  FROM mp)
           |${oScorecardRow(
              "(SELECT query_id, doc_id, rank FROM rk WHERE rank <= 10)",
              "doc_bm25")}
           |UNION ALL
           |${oScorecardRow(
              "(SELECT query_id, doc_id, rank FROM mrk WHERE rank <= 10)",
              "chunk_maxp")}""".stripMargin
      }) +
      ("p176_doc_chunks" ->
        s"""WITH d AS (SELECT doc_id, $oToks AS toks FROM documents),
           |n AS (SELECT doc_id, toks,
           |    CAST(len(toks) AS BIGINT) AS n FROM d),
           |w AS (SELECT doc_id, toks, n,
           |    CASE WHEN n <= 32 THEN 1
           |         ELSE (n - 32 + 23) // 24 + 1 END AS nw
           |  FROM n WHERE n > 0),
           |x AS (SELECT doc_id, toks, n,
           |    unnest(generate_series(0, nw - 1)) AS chunk_seq
           |  FROM w)
           |SELECT doc_id, CAST(chunk_seq AS BIGINT) AS chunk_seq,
           |  CAST(chunk_seq * 24 AS BIGINT) AS start_tok,
           |  CAST(LEAST(32, n - chunk_seq * 24) AS BIGINT)
           |    AS n_chunk_toks,
           |  array_to_string(toks[chunk_seq * 24 + 1 :
           |    chunk_seq * 24 + 32], ' ') AS chunk_text
           |FROM x""".stripMargin) +
      ("p175_release_diff" -> oReleaseDiffCard) +
      ("p174_shard_append" ->
        // the p172 append manifest + the p171 checksum rollup: the
        // incrementally-extended shard directory must certify exactly
        // as a full write of the appended manifest would
        s"""$oAppendManifestCtes,
           |um AS (
           |  SELECT doc_id, n_toks,
           |    CAST(start_tok // 4096 AS BIGINT) AS chunk_idx,
           |    CAST(start_tok % 4096 AS BIGINT) AS chunk_off
           |  FROM stb
           |  UNION ALL
           |  SELECT doc_id, n_toks,
           |    CAST(start_tok // 4096 AS BIGINT) AS chunk_idx,
           |    CAST(start_tok % 4096 AS BIGINT) AS chunk_off
           |  FROM std),
           |mf AS (
           |  SELECT um.chunk_idx, um.chunk_off, um.n_toks,
           |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp
           |  FROM um JOIN documents d ON um.doc_id = d.doc_id)
           |SELECT chunk_idx, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_toks) AS BIGINT) AS n_toks,
           |  CAST(SUM(${oHash("fp || ':' || CAST(chunk_off AS VARCHAR)")}
           |           % 268435456) AS BIGINT) AS shard_sum,
           |  CAST(0 AS BIGINT) AS order_inversions
           |FROM mf GROUP BY chunk_idx""".stripMargin) +
      ("p172_manifest_append" ->
        s"""$oAppendManifestCtes
           |SELECT doc_id, source, n_toks, vtime,
           |  CAST(start_tok // 4096 AS BIGINT) AS chunk_idx,
           |  CAST(start_tok % 4096 AS BIGINT) AS chunk_off
           |FROM stb
           |UNION ALL
           |SELECT doc_id, source, n_toks, vtime,
           |  CAST(start_tok // 4096 AS BIGINT) AS chunk_idx,
           |  CAST(start_tok % 4096 AS BIGINT) AS chunk_off
           |FROM std""".stripMargin) +
      ("p165_shard_mix" ->
        s"""$oMixInterleaveCtes,
           |m AS (SELECT doc_id, source, n_toks,
           |    CAST(start_tok // 4096 AS BIGINT) AS chunk_idx FROM st),
           |sh AS (SELECT chunk_idx, CAST(COUNT(*) AS BIGINT)
           |    AS shard_docs FROM m GROUP BY 1),
           |tw AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS tw FROM w),
           |g AS (SELECT chunk_idx, source,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(n_toks) AS BIGINT) AS n_toks
           |  FROM m GROUP BY 1, 2)
           |SELECT g.chunk_idx, g.source, n_docs, n_toks,
           |  CAST(n_docs * 1000000 // shard_docs AS BIGINT)
           |    AS share_micro,
           |  CAST(weight_micro * 1000000 // tw AS BIGINT)
           |    AS target_micro,
           |  CAST(ABS(n_docs * 1000000 // shard_docs
           |    - weight_micro * 1000000 // tw) AS BIGINT)
           |    AS abs_dev_micro
           |FROM g JOIN sh USING (chunk_idx)
           |JOIN w ON g.source = w.source, tw""".stripMargin) +
      ("p162_distinct_n" ->
        s"""WITH base AS (SELECT source, $oToks AS toks FROM documents),
           |g AS (
           |  SELECT source, 1 AS n, toks[i] AS g
           |  FROM (SELECT source, toks,
           |          unnest(generate_series(1, len(toks))) AS i
           |        FROM base WHERE len(toks) >= 1)
           |  UNION ALL
           |  SELECT source, 2 AS n, array_to_string(toks[i:i+1], ' ')
           |  FROM (SELECT source, toks,
           |          unnest(generate_series(1, len(toks) - 1)) AS i
           |        FROM base WHERE len(toks) >= 2)
           |  UNION ALL
           |  SELECT source, 3 AS n, array_to_string(toks[i:i+2], ' ')
           |  FROM (SELECT source, toks,
           |          unnest(generate_series(1, len(toks) - 2)) AS i
           |        FROM base WHERE len(toks) >= 3)),
           |c AS (SELECT source, n, g, COUNT(*) AS cnt
           |  FROM g GROUP BY source, n, g)
           |SELECT source, CAST(n AS BIGINT) AS n,
           |  CAST(COUNT(*) AS BIGINT) AS distinct_grams,
           |  CAST(SUM(cnt) AS BIGINT) AS total_grams,
           |  CASE WHEN SUM(cnt) = 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((COUNT(*) * 1000000) // SUM(cnt) AS BIGINT)
           |  END AS distinct_frac_micro
           |FROM c GROUP BY source, n""".stripMargin) +
      ("p150_rate_spikes" ->
        """WITH hourly AS (
          |  SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
          |      AS ws_us,
          |    event_type, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2),
          |m1 AS (SELECT event_type, n AS median_n FROM (
          |    SELECT event_type, n, ws_us,
          |      ROW_NUMBER() OVER (PARTITION BY event_type
          |        ORDER BY n, ws_us) AS rn,
          |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
          |    FROM hourly) WHERE rn = (cnt + 1) // 2),
          |dev AS (SELECT h.event_type, h.ws_us, h.n, m1.median_n,
          |    ABS(h.n - m1.median_n) AS ad
          |  FROM hourly h JOIN m1 USING (event_type)),
          |m2 AS (SELECT event_type, ad AS mad_n FROM (
          |    SELECT event_type, ad, ws_us,
          |      ROW_NUMBER() OVER (PARTITION BY event_type
          |        ORDER BY ad, ws_us) AS rn,
          |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
          |    FROM dev) WHERE rn = (cnt + 1) // 2)
          |SELECT d.event_type, d.ws_us, d.n, d.median_n, m2.mad_n,
          |  CASE WHEN d.n > d.median_n + 3 * m2.mad_n
          |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
          |  END AS spike
          |FROM dev d JOIN m2 USING (event_type)""".stripMargin) +
      ("p149_survivor_policies" ->
        s"""WITH RECURSIVE ${oPairCtes(4, 0.4)},
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(u, v) AS (
           |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |dec AS (SELECT u AS doc_id, MIN(v) AS comp
           |        FROM reach GROUP BY u),
           |$oScoreCtes,
           |m AS (SELECT dec.doc_id, dec.comp, qm.n_toks, q.score_micro
           |      FROM dec JOIN qm ON dec.doc_id = qm.doc_id
           |               JOIN q ON dec.doc_id = q.doc_id),
           |mw AS (SELECT *,
           |    ROW_NUMBER() OVER (PARTITION BY comp ORDER BY doc_id)
           |      AS r_min,
           |    ROW_NUMBER() OVER (PARTITION BY comp
           |      ORDER BY n_toks DESC, doc_id) AS r_long,
           |    ROW_NUMBER() OVER (PARTITION BY comp
           |      ORDER BY score_micro DESC, doc_id) AS r_qual
           |  FROM m),
           |per AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz,
           |    CAST(SUM(n_toks) AS BIGINT) AS toks_all,
           |    MIN(doc_id) AS s_min,
           |    MAX(CASE WHEN r_min = 1 THEN n_toks END) AS t_min,
           |    MAX(CASE WHEN r_min = 1 THEN score_micro END) AS q_min,
           |    MAX(CASE WHEN r_long = 1 THEN doc_id END) AS s_long,
           |    MAX(CASE WHEN r_long = 1 THEN n_toks END) AS t_long,
           |    MAX(CASE WHEN r_long = 1 THEN score_micro END) AS q_long,
           |    MAX(CASE WHEN r_qual = 1 THEN doc_id END) AS s_qual,
           |    MAX(CASE WHEN r_qual = 1 THEN n_toks END) AS t_qual,
           |    MAX(CASE WHEN r_qual = 1 THEN score_micro END) AS q_qual
           |  FROM mw GROUP BY comp)
           |SELECT 'min_id' AS policy,
           |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
           |  CAST(SUM(sz - 1) AS BIGINT) AS n_dropped,
           |  CAST(SUM(toks_all - t_min) AS BIGINT) AS toks_removed,
           |  CAST(SUM(q_min) AS BIGINT) AS quality_kept_micro,
           |  CAST(0 AS BIGINT) AS changed_vs_min_id FROM per
           |UNION ALL
           |SELECT 'keep_longest', CAST(COUNT(*) AS BIGINT),
           |  CAST(SUM(sz - 1) AS BIGINT),
           |  CAST(SUM(toks_all - t_long) AS BIGINT),
           |  CAST(SUM(q_long) AS BIGINT),
           |  CAST(SUM(CASE WHEN s_long <> s_min THEN 1 ELSE 0 END)
           |    AS BIGINT) FROM per
           |UNION ALL
           |SELECT 'keep_best_quality', CAST(COUNT(*) AS BIGINT),
           |  CAST(SUM(sz - 1) AS BIGINT),
           |  CAST(SUM(toks_all - t_qual) AS BIGINT),
           |  CAST(SUM(q_qual) AS BIGINT),
           |  CAST(SUM(CASE WHEN s_qual <> s_min THEN 1 ELSE 0 END)
           |    AS BIGINT) FROM per""".stripMargin) +
      ("p148_hdr_quantiles" -> {
        val p = 3
        val eChain = (0 until 40).map(b =>
          s"CASE WHEN v >= ${1L << b} THEN $b ELSE 0 END")
          .mkString("GREATEST(", ", ", ")")
        s"""WITH vals AS (SELECT CAST(len($oToks) AS BIGINT) AS v
           |  FROM documents),
           |ve AS (SELECT v, $eChain AS e FROM vals),
           |vb AS (SELECT v,
           |    CASE WHEN v < 8 THEN v
           |         ELSE (e - $p) * 8
           |              + v // (CAST(1 AS BIGINT) << (e - $p)) END
           |      AS bid,
           |    CASE WHEN v < 8 THEN v
           |         ELSE (v // (CAST(1 AS BIGINT) << (e - $p)) + 1)
           |              * (CAST(1 AS BIGINT) << (e - $p)) - 1 END
           |      AS ub
           |  FROM ve),
           |bk AS (SELECT bid, ub, CAST(COUNT(*) AS BIGINT) AS c
           |       FROM vb GROUP BY bid, ub),
           |bc AS (SELECT bid, ub, c,
           |    CAST(SUM(c) OVER (ORDER BY bid ROWS UNBOUNDED PRECEDING)
           |      AS BIGINT) AS cum FROM bk),
           |xc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c
           |       FROM vals GROUP BY v),
           |xcc AS (SELECT v,
           |    CAST(SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           |      AS BIGINT) AS cum FROM xc),
           |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
           |cp AS (SELECT unnest([50, 90, 99]) AS pct),
           |th AS (SELECT pct, (CAST(pct AS BIGINT) * nn.n + 99) // 100
           |         AS t, nn.n FROM cp, nn),
           |ex AS (SELECT th.pct, th.n,
           |    MIN(CASE WHEN xcc.cum >= th.t THEN xcc.v END) AS exact
           |  FROM th, xcc GROUP BY th.pct, th.n),
           |es AS (SELECT th.pct,
           |    MIN(CASE WHEN bc.cum >= th.t THEN bc.ub END) AS est
           |  FROM th, bc GROUP BY th.pct)
           |SELECT CAST(ex.pct AS BIGINT) AS pct, ex.n AS n_values,
           |  ex.exact, es.est, es.est - ex.exact AS overshoot,
           |  CASE WHEN ex.exact = 0 THEN CAST(0 AS BIGINT)
           |       ELSE ((es.est - ex.exact) * 1000000) // ex.exact
           |  END AS rel_err_micro
           |FROM ex JOIN es ON ex.pct = es.pct""".stripMargin
      }) +
      ("p147_vocab_growth" ->
        s"""WITH d AS (SELECT doc_id, $oToks AS toks,
           |    ${oHash("'vg' || CAST(doc_id AS VARCHAR)")} % 16 AS b
           |  FROM documents),
           |occ AS (SELECT b, unnest(toks) AS tok FROM d),
           |tm AS (SELECT tok, MIN(b) AS mb FROM occ GROUP BY tok),
           |da AS (SELECT b, COUNT(*) AS nd, SUM(len(toks)) AS occ
           |       FROM d GROUP BY b),
           |cp AS (SELECT unnest([1, 2, 4, 8, 16]) AS c),
           |ds AS (SELECT cp.c,
           |    CAST(COALESCE(SUM(CASE WHEN da.b < cp.c THEN da.nd END),
           |      0) AS BIGINT) AS n_docs,
           |    CAST(COALESCE(SUM(CASE WHEN da.b < cp.c THEN da.occ END),
           |      0) AS BIGINT) AS n_occurrences
           |  FROM cp LEFT JOIN da ON 1=1 GROUP BY cp.c),
           |vs AS (SELECT cp.c,
           |    CAST(COALESCE(SUM(CASE WHEN tm.mb < cp.c THEN 1 END),
           |      0) AS BIGINT) AS vocab
           |  FROM cp LEFT JOIN tm ON 1=1 GROUP BY cp.c)
           |SELECT CAST(ds.c AS BIGINT) AS sixteenths, n_docs,
           |  n_occurrences, vs.vocab,
           |  CASE WHEN n_occurrences = 0 THEN CAST(0 AS BIGINT)
           |       ELSE (vs.vocab * 1000000) // n_occurrences
           |  END AS ttr_micro
           |FROM ds JOIN vs ON ds.c = vs.c""".stripMargin) +
      ("p146_bootstrap_ci" ->
        s"""WITH rb AS (SELECT * FROM (${oBm25(k1 = 1.2, b = 0.75,
              qTerms = 4, topK = 10)})),
           |qs AS (SELECT doc_id AS query_id FROM documents
           |       WHERE doc_id % ${oQStride("documents")} = 0),
           |rr AS (SELECT q.query_id, COALESCE(h.rr0, 0) AS rr
           |  FROM qs q LEFT JOIN
           |    (SELECT query_id, 1000000 // rank AS rr0 FROM rb
           |     WHERE doc_id = query_id) h
           |  ON q.query_id = h.query_id),
           |ix AS (SELECT query_id, rr,
           |    ROW_NUMBER() OVER (ORDER BY query_id) - 1 AS idx FROM rr),
           |nqt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM ix),
           |grid AS (
           |  SELECT b, j, nqt.nq,
           |    ${oHash("'boot' || CAST(b AS VARCHAR) || '_' ||" +
                " CAST(j AS VARCHAR)")} % nqt.nq AS idx
           |  FROM (SELECT unnest(generate_series(1, 200)) AS b),
           |       (SELECT unnest(generate_series(0,
           |          (SELECT nq FROM nqt) - 1)) AS j), nqt),
           |boot AS (
           |  SELECT g.b, CAST(SUM(ix.rr) AS BIGINT) // g.nq AS mrr
           |  FROM grid g JOIN ix ON g.idx = ix.idx
           |  GROUP BY g.b, g.nq),
           |rn AS (SELECT b, mrr,
           |    ROW_NUMBER() OVER (ORDER BY mrr ASC, b ASC) AS rn
           |  FROM boot),
           |ci AS (SELECT
           |    MAX(CASE WHEN rn = 10 THEN mrr END) AS ci_lo_micro,
           |    MAX(CASE WHEN rn = 190 THEN mrr END) AS ci_hi_micro
           |  FROM rn),
           |ob AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           |    CAST(SUM(rr) AS BIGINT) // COUNT(*) AS mrr_micro
           |  FROM rr)
           |SELECT 'bm25' AS method, n_queries,
           |  CAST(200 AS BIGINT) AS n_boot, mrr_micro,
           |  ci_lo_micro, ci_hi_micro
           |FROM ob, ci""".stripMargin) +
      ("p145_packing_efficiency" ->
        s"""WITH tk AS (SELECT source,
           |    CAST(len($oToks) AS BIGINT) AS n_toks FROM documents),
           |ag AS (
           |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(n_toks) AS BIGINT) AS total_toks,
           |    CAST(SUM((n_toks + 2047) // 2048) AS BIGINT)
           |      AS naive_chunks
           |  FROM tk GROUP BY source),
           |pk AS (SELECT *, (total_toks + 2047) // 2048
           |         AS packed_chunks FROM ag)
           |SELECT source, n_docs, total_toks, packed_chunks,
           |  packed_chunks * 2048 - total_toks AS packed_pad_toks,
           |  naive_chunks,
           |  naive_chunks * 2048 - total_toks AS naive_pad_toks,
           |  CASE WHEN naive_chunks = 0 THEN CAST(0 AS BIGINT)
           |       ELSE ((naive_chunks - packed_chunks) * 1000000)
           |            // naive_chunks END AS saved_chunks_pct_micro
           |FROM pk""".stripMargin) +
      ("p144_pmi_expansion" ->
        s"""WITH rb AS (SELECT * FROM (${oBm25(k1 = 1.2, b = 0.75,
              qTerms = 4, topK = 10)})),
           |rx AS (SELECT * FROM ($oBm25PmiExpanded))
           |${oScorecardRow("rb", "bm25")}
           |UNION ALL
           |${oScorecardRow("rx", "bm25_pmi")}""".stripMargin) +
      ("p139_classifier_agreement" -> {
        def fd(x: String, m: String) =
          s"(($x) - ((($x) % ($m)) + ($m)) % ($m)) // ($m)"
        s"""WITH nb AS (${oNbClassifier}),
           |lr AS (${oLrClassifier(buckets = 64, iters = 12,
              lrDen = 1)}),
           |jj AS (SELECT nb.pred AS pa, lr.pred AS pb
           |       FROM nb JOIN lr ON nb.doc_id = lr.doc_id),
           |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT)
           |    AS agree,
           |  CAST(SUM(pa) AS BIGINT) AS pos_a,
           |  CAST(SUM(pb) AS BIGINT) AS pos_b FROM jj),
           |r AS (SELECT n, agree, pos_a, pos_b,
           |  ${fd("agree * 1000000", "n")} AS po_micro,
           |  ${fd("(pos_a * pos_b + (n - pos_a) * (n - pos_b))" +
                " * 1000000", "n * n")} AS pe_micro
           |  FROM ag)
           |SELECT n, agree, pos_a, pos_b, po_micro, pe_micro,
           |  CASE WHEN pe_micro = 1000000 THEN 1000000
           |       ELSE ${fd("(po_micro - pe_micro) * 1000000",
                "1000000 - pe_micro")} END AS kappa_micro
           |FROM r""".stripMargin
      }) +
      ("p136_significance" ->
        s"""WITH qids AS (SELECT doc_id AS query_id FROM documents
           |  WHERE doc_id % ${oQStride("documents")} = 0),
           |rbm AS (SELECT * FROM (${oBm25(k1 = 1.2, b = 0.75,
              qTerms = 4, topK = 10)})),
           |rbf AS (SELECT * FROM ($oBm25f)),
           |rql AS (SELECT * FROM ($oQlTopK)),
           |rpf AS (SELECT * FROM ($oPrf)),
           |rrfx AS (SELECT * FROM ($oRrf)),
           |${oSigMetric("rbf", "xf")},
           |${oSigMetric("rbm", "xb")},
           |${oSigMetric("rql", "xq")},
           |${oSigMetric("rpf", "xp")},
           |${oSigMetric("rrfx", "xr")},
           |${oSigBlock("bm25f_vs_bm25", "xb")},
           |${oSigBlock("bm25f_vs_ql", "xq")},
           |${oSigBlock("bm25f_vs_prf", "xp")},
           |${oSigBlock("bm25f_vs_rrf", "xr")}
           |SELECT * FROM sxb UNION ALL SELECT * FROM sxq
           |UNION ALL SELECT * FROM sxp
           |UNION ALL SELECT * FROM sxr""".stripMargin) +
      ("p135_spell" ->
        s"""WITH vt AS (
           |  SELECT tok, COUNT(*) AS cnt
           |  FROM (SELECT unnest($oToks) AS tok FROM documents)
           |  GROUP BY tok),
           |vocab AS (SELECT tok FROM vt
           |          WHERE cnt >= 5 AND length(tok) >= 3),
           |probes AS (
           |  SELECT DISTINCT substr(tok, 1, 1) || substr(tok, 3)
           |    AS probe
           |  FROM vt WHERE cnt >= 20 AND length(tok) >= 4
           |    AND ${oHash("tok")} % 5 = 0),
           |vb AS (
           |  SELECT tok AS cand,
           |    unnest(list_distinct(list_transform(
           |      generate_series(1, length(tok) - 1),
           |      i -> substr(tok, i, 2)))) AS bg
           |  FROM vocab),
           |pb AS (
           |  SELECT probe,
           |    unnest(list_distinct(list_transform(
           |      generate_series(1, length(probe) - 1),
           |      i -> substr(probe, i, 2)))) AS bg
           |  FROM probes),
           |cnd AS (SELECT DISTINCT probe, cand
           |        FROM pb JOIN vb ON pb.bg = vb.bg),
           |scd AS (
           |  SELECT probe, cand,
           |    CAST(levenshtein(probe, cand) AS BIGINT) AS dist
           |  FROM cnd
           |  WHERE levenshtein(probe, cand) <= 2
           |    AND levenshtein(probe, cand) > 0),
           |fin AS (
           |  SELECT probe, cand, dist,
           |    COUNT(*) OVER (PARTITION BY probe) AS n_cands,
           |    ROW_NUMBER() OVER (PARTITION BY probe
           |      ORDER BY dist, cand) AS rn
           |  FROM scd)
           |SELECT probe, cand AS suggestion, dist,
           |  CAST(n_cands AS BIGINT) AS n_cands
           |FROM fin WHERE rn = 1""".stripMargin) +
      ("p134_proximity" ->
        s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 4)},
           |xcand AS (SELECT query_id, doc_id, score_micro FROM rk
           |          WHERE rank <= 10),
           |xpos AS (
           |  SELECT b.doc_id, b.i AS pos, b.toks[b.i] AS tok
           |  FROM (SELECT doc_id, toks,
           |          unnest(generate_series(1, len(toks))) AS i
           |        FROM base) b
           |  JOIN (SELECT DISTINCT doc_id FROM xcand) cd
           |    ON b.doc_id = cd.doc_id),
           |xm AS (
           |  SELECT c.query_id, c.doc_id, p.pos, p.tok
           |  FROM xcand c
           |  JOIN xpos p ON p.doc_id = c.doc_id
           |  JOIN qt q ON q.query_id = c.query_id AND q.tok = p.tok),
           |xd AS (
           |  SELECT a.query_id, a.doc_id,
           |    MIN(ABS(a.pos - b.pos)) AS min_pair_dist
           |  FROM xm a JOIN xm b ON a.query_id = b.query_id
           |    AND a.doc_id = b.doc_id AND a.tok != b.tok
           |  GROUP BY a.query_id, a.doc_id),
           |xf AS (
           |  SELECT c.query_id, c.doc_id, c.score_micro,
           |    CAST(COALESCE(d.min_pair_dist, 0) AS BIGINT)
           |      AS min_pair_dist,
           |    CAST(CASE WHEN d.min_pair_dist IS NULL THEN 0
           |         ELSE 1000000 // (d.min_pair_dist + 4) END
           |      AS BIGINT) AS prox_micro
           |  FROM xcand c LEFT JOIN xd d
           |    ON c.query_id = d.query_id AND c.doc_id = d.doc_id),
           |xr AS (
           |  SELECT xf.*,
           |    score_micro + prox_micro AS combined_micro,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY score_micro + prox_micro DESC, doc_id)
           |      AS rank
           |  FROM xf)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
           |  min_pair_dist, prox_micro, score_micro, combined_micro
           |FROM xr""".stripMargin) +
      ("p133_snippets" ->
        s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 4)},
           |scand AS (SELECT query_id, doc_id FROM rk WHERE rank <= 3),
           |stoks AS (
           |  SELECT b.doc_id, b.toks FROM base b
           |  JOIN (SELECT DISTINCT doc_id FROM scand) cd
           |    ON b.doc_id = cd.doc_id),
           |spos AS (
           |  SELECT doc_id, i AS pos, toks[i] AS tok
           |  FROM (SELECT doc_id, toks,
           |          unnest(generate_series(1, len(toks))) AS i
           |        FROM stoks)),
           |sm AS (
           |  SELECT c.query_id, c.doc_id, p.pos
           |  FROM scand c
           |  JOIN spos p ON p.doc_id = c.doc_id
           |  JOIN qt q ON q.query_id = c.query_id AND q.tok = p.tok),
           |sw AS (
           |  SELECT query_id, doc_id, pos,
           |    COUNT(*) OVER (PARTITION BY query_id, doc_id
           |      ORDER BY pos
           |      RANGE BETWEEN CURRENT ROW AND 7 FOLLOWING)
           |      AS n_matched
           |  FROM sm),
           |sb AS (
           |  SELECT query_id, doc_id, pos AS start_pos, n_matched,
           |    ROW_NUMBER() OVER (PARTITION BY query_id, doc_id
           |      ORDER BY n_matched DESC, pos) AS rn
           |  FROM sw)
           |SELECT s.query_id, s.doc_id,
           |  CAST(s.start_pos AS BIGINT) AS start_pos,
           |  CAST(s.n_matched AS BIGINT) AS n_matched,
           |  array_to_string(t.toks[s.start_pos:s.start_pos + 7], ' ')
           |    AS snippet
           |FROM sb s JOIN stoks t ON s.doc_id = t.doc_id
           |WHERE s.rn = 1""".stripMargin) +
      ("p131_phrase_rerank" ->
        s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 4)},
           |cand AS (SELECT query_id, doc_id, score_micro FROM rk
           |         WHERE rank <= 10),
           |phq AS (SELECT doc_id AS query_id,
           |    ${oHash("array_to_string(toks[1:4], ' ')")}
           |      % 2147483647 AS ph
           |  FROM base WHERE doc_id % ${oQStride("base")} = 0),
           |gr AS (
           |  SELECT b.doc_id,
           |    unnest(list_transform(${oShingles(4)},
           |      s -> ${oHash("s")} % 2147483647)) AS g
           |  FROM base b
           |  JOIN (SELECT DISTINCT doc_id FROM cand) cd
           |    ON b.doc_id = cd.doc_id),
           |hits AS (
           |  SELECT DISTINCT c.query_id, c.doc_id
           |  FROM cand c
           |  JOIN phq ON c.query_id = phq.query_id
           |  JOIN gr ON gr.doc_id = c.doc_id AND gr.g = phq.ph),
           |fin AS (
           |  SELECT c.query_id, c.doc_id, c.score_micro,
           |    CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END
           |      AS phrase_hit
           |  FROM cand c LEFT JOIN hits h
           |    ON c.query_id = h.query_id AND c.doc_id = h.doc_id),
           |rr AS (
           |  SELECT fin.*, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY phrase_hit DESC, score_micro DESC, doc_id)
           |    AS rank
           |  FROM fin)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
           |  CAST(phrase_hit AS BIGINT) AS phrase_hit, score_micro
           |FROM rr""".stripMargin)

  lazy val oracle0: Map[String, String] = Map(
    "p01_exact_dedup" ->
      s"""SELECT substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp,
         |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin,
    "p91_norm_dedup" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS raw_fp,
         |    substr(md5(array_to_string(string_split_regex(trim(
         |      regexp_replace(regexp_replace(lower(text), '[0-9]', '0', 'g'),
         |        '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), ' ')), 1, 16) AS fp
         |  FROM documents)
         |SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
         |  COUNT(DISTINCT raw_fp) AS n_raw_distinct
         |FROM n GROUP BY fp""".stripMargin,
    "p02_minhash_lsh" -> oJaccardPairs(k = 3, threshold = 0.5),
    "p179_lsh_bucket_audit" ->
      s"""${oMinhashSigCtes()},
         |bk AS (
         |  SELECT b.band, sg.sig[b.band * 2 + 1 : b.band * 2 + 2] AS key
         |  FROM sg, (SELECT unnest(generate_series(0, 5)) AS band) b),
         |bc AS (SELECT band, key, COUNT(*) AS n FROM bk GROUP BY band, key)
         |SELECT CAST(band AS BIGINT) AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(MAX(n) AS BIGINT) AS max_bucket,
         |  CAST(SUM(CASE WHEN n > 1024 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oversized,
         |  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pairs_exact,
         |  CAST(SUM(CASE WHEN n > 1024 THEN n - 1 ELSE n * (n - 1) // 2 END)
         |    AS BIGINT) AS pairs_capped
         |FROM bc GROUP BY band""".stripMargin,
    "p03_simhash" ->
      s"""WITH sims AS (
         |  SELECT doc_id, $oSimhash AS sim
         |  FROM (SELECT doc_id,
         |          list_transform($oToks, t -> ${oHash("t")}) AS hl
         |        FROM documents))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 2""".stripMargin,
    "p04_ngram_jaccard" -> oJaccardPairs(k = 4, threshold = 0.4),
    "p05_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT query_id, e.vec_id AS cand_id,
         |    ${oCos("qv", "e.embedding")} AS sim
         |  FROM embeddings e, q WHERE e.vec_id != query_id),
         |ranked AS (
         |  SELECT query_id, cand_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
         |  CAST(FLOOR(sim * 1e6) AS BIGINT) AS sim_micro
         |FROM ranked WHERE rank <= 5""".stripMargin,
    "p06_ann_lsh" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${oBucket("embedding")} AS bucket
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ${oCos("q.embedding", "c.embedding")} AS sim
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
         |  WHERE q.vec_id < 20),
         |ranked AS (
         |  SELECT query_id, cand_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
         |  CAST(FLOOR(sim * 1e6) AS BIGINT) AS sim_micro
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "p93_lsh_multiprobe" -> {
      val ds = (0 until 4)
        .map(p => s"${oPlaneDot("embedding", p)} AS d$p")
        .mkString(",\n    ")
      val bucket = (0 until 4)
        .map(p => s"(CASE WHEN d$p > 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      val margins = (0 until 4)
        .map(p => s"{'m': abs(d$p), 'p': $p}").mkString(", ")
      s"""WITH d AS (
         |  SELECT vec_id, embedding,
         |    $ds
         |  FROM embeddings),
         |b AS (
         |  SELECT vec_id, embedding, $bucket AS bucket,
         |    [$margins] AS margins
         |  FROM d),
         |qp AS (
         |  SELECT vec_id, embedding,
         |    unnest(list_concat([bucket],
         |      list_transform(list_sort(margins)[1:2],
         |        s -> xor(bucket, ([1, 2, 4, 8])[s.p + 1])))) AS bucket
         |  FROM b WHERE vec_id < 20),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ${oCos("q.embedding", "c.embedding")} AS sim
         |  FROM qp q JOIN b c ON q.bucket = c.bucket
         |   AND q.vec_id != c.vec_id),
         |ranked AS (
         |  SELECT query_id, cand_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
         |  CAST(FLOOR(sim * 1e6) AS BIGINT) AS sim_micro
         |FROM ranked WHERE rank <= 3""".stripMargin
    },
    "p07_embed_near_dup" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  CAST(FLOOR(${oCos("a.embedding", "b.embedding")} * 1e6) AS BIGINT) AS sim_micro
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${oCos("a.embedding", "b.embedding")} >= 0.4""".stripMargin,
    "p08_lang_id" -> {
      val hitCols = TF.stopwords
        .map { case (lang, ws) =>
          s"CAST(${oHits(lang, ws)} AS BIGINT) AS hits_$lang"
        }
        .mkString(",\n  ")
      s"""SELECT doc_id, $oLangCase AS lang_pred,
         |  hits_${TF.stopwords.map(_._1).mkString(", hits_")}
         |FROM (SELECT doc_id, $hitCols
         |      FROM (SELECT doc_id, $oToks AS toks FROM documents))""".stripMargin
    },
    "p09_quality" -> {
      val enSet = TF.stopwords.head._2.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, text, $oToks AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    list_sum(list_transform(toks, t -> length(t)))
         |      / CAST(len(toks) AS DOUBLE) AS mean_len,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
         |        / CAST(length(text) AS DOUBLE) END AS punct_ratio,
         |    len(list_filter(toks, t -> lower(t) IN ($enSet)))
         |      / CAST(len(toks) AS DOUBLE) AS stop_ratio
         |  FROM base)
         |SELECT doc_id, n_toks, mean_len, punct_ratio, stop_ratio,
         |  least(n_toks / 100.0, 1.0) * 0.4
         |  + least(mean_len / 10.0, 1.0) * 0.2
         |  + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2
         |  + least(stop_ratio * 5.0, 1.0) * 0.2 AS score
         |FROM m""".stripMargin
    },
    "p10_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len($oToks) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents""".stripMargin,
    "p11_fingerprint" ->
      s"""WITH s AS (
         |  SELECT doc_id, ${oShingles(3)} AS sh
         |  FROM (SELECT doc_id, $oToks AS toks FROM documents)),
         |f AS (
         |  SELECT doc_id,
         |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp
         |  FROM documents)
         |SELECT f.doc_id, f.fp,
         |  COALESCE(list_aggregate(list_transform(s.sh,
         |    x -> ${oHash("x")} % ${TF.P}), 'min'), ${TF.P}) AS min_shingle_hash
         |FROM f JOIN s ON f.doc_id = s.doc_id""".stripMargin,
    "p12_multimodal" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'text/plain' END AS mime,
        |  CASE WHEN doc_id % 2 = 1
        |    THEN CAST(octet_length(encode(text)) AS BIGINT) END AS n_bytes,
        |  CASE WHEN doc_id % 2 = 1 THEN md5(text) END AS checksum,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 16
        |       ELSE 64 + (ascii(substr(text, 1, 1)) % 192) END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + length(text) % 16
        |       ELSE 64 + (ascii(substr(text, 2, 1)) % 192) END AS BIGINT) AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    CAST(FLOOR((doc_id % 256) / 255.0 * 1000000) AS BIGINT) END AS luma_micro
        |FROM documents""".stripMargin,
    "p60_wav_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(100 + length(text) % 400 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 1000) * 30 AS BIGINT) AS peak
        |FROM documents""".stripMargin,
    "p61_gopher_rules" -> oGopherRules(),
    "p64_c4_lines" -> oC4Lines(),
    "p62_bpe_pairs" ->
      s"""WITH toks AS (
         |  SELECT regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS tk
         |  FROM documents),
         |pairs AS (
         |  SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS pair
         |  FROM toks)
         |SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM pairs GROUP BY pair
         |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "p63_audio_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(100 + length(text) % 400 AS BIGINT) AS n_frames,
        |  CAST(1 + (doc_id % 1000) * 30 AS BIGINT) AS peak,
        |  CAST((100 + length(text) % 400)
        |    * (1 + (doc_id % 1000) * 30) * (1 + (doc_id % 1000) * 30) AS BIGINT) AS energy,
        |  CAST((100 + length(text) % 400 - 1) // (1 + doc_id % 7) AS BIGINT) AS n_crossings
        |FROM documents""".stripMargin,
    "p57_png_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(1 + length(text) % 16 AS BIGINT) AS height,
        |  CAST((doc_id % 256) * 65793 AS BIGINT) AS px00
        |FROM documents""".stripMargin,
    "p103_funnel_timing" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |t1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM ev e
        |       JOIN t1 ON e.user_id = t1.user_id
        |       WHERE event_type = 'view' AND ts_us > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM ev e
        |       JOIN t2 ON e.user_id = t2.user_id
        |       WHERE event_type = 'click' AND ts_us > t2 GROUP BY 1),
        |t4 AS (SELECT e.user_id, MIN(ts_us) AS t4 FROM ev e
        |       JOIN t3 ON e.user_id = t3.user_id
        |       WHERE event_type = 'purchase' AND ts_us > t3 GROUP BY 1),
        |dd AS (
        |  SELECT 2 AS stage, 'view' AS event_type, t2.t2 - t1.t1 AS delta_us
        |  FROM t2 JOIN t1 ON t2.user_id = t1.user_id
        |  UNION ALL
        |  SELECT 3, 'click', t3.t3 - t2.t2
        |  FROM t3 JOIN t2 ON t3.user_id = t2.user_id
        |  UNION ALL
        |  SELECT 4, 'purchase', t4.t4 - t3.t3
        |  FROM t4 JOIN t3 ON t4.user_id = t3.user_id),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY stage
        |      ORDER BY delta_us) AS rn,
        |    COUNT(*) OVER (PARTITION BY stage) AS cnt
        |  FROM dd)
        |SELECT CAST(stage AS BIGINT) AS stage, event_type, q, delta_us
        |FROM r CROSS JOIN
        |  (SELECT CAST(UNNEST([25, 50, 75]) AS BIGINT) AS q) s
        |WHERE rn = CAST(FLOOR((cnt * q + 99) / 100.0) AS BIGINT)""".stripMargin,
    "p102_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(week) AS cohort_week
        |           FROM uw GROUP BY 1),
        |sizes AS (SELECT cohort_week, COUNT(*) AS n_cohort
        |          FROM cohort GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_week, uw.week - c.cohort_week AS k,
        |    COUNT(*) AS n_active
        |  FROM uw JOIN cohort c ON uw.user_id = c.user_id
        |  GROUP BY 1, 2)
        |SELECT a.cohort_week, a.k, a.n_active, s.n_cohort,
        |  (a.n_active * 1000000) // s.n_cohort AS retention_micro
        |FROM act a JOIN sizes s ON a.cohort_week = s.cohort_week""".stripMargin,
    "p101_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |t1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM ev e
        |       JOIN t1 ON e.user_id = t1.user_id
        |       WHERE event_type = 'view' AND ts_us > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM ev e
        |       JOIN t2 ON e.user_id = t2.user_id
        |       WHERE event_type = 'click' AND ts_us > t2 GROUP BY 1),
        |t4 AS (SELECT e.user_id, MIN(ts_us) AS t4 FROM ev e
        |       JOIN t3 ON e.user_id = t3.user_id
        |       WHERE event_type = 'purchase' AND ts_us > t3 GROUP BY 1),
        |c AS (SELECT (SELECT COUNT(*) FROM t1) AS n1,
        |             (SELECT COUNT(*) FROM t2) AS n2,
        |             (SELECT COUNT(*) FROM t3) AS n3,
        |             (SELECT COUNT(*) FROM t4) AS n4)
        |SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS event_type,
        |  n1 AS n_users,
        |  (n1 * 1000000) // n1 AS pct_of_start_micro,
        |  (n1 * 1000000) // n1 AS pct_of_prev_micro FROM c
        |UNION ALL SELECT 2, 'view', n2, (n2 * 1000000) // n1,
        |  (n2 * 1000000) // n1 FROM c
        |UNION ALL SELECT 3, 'click', n3, (n3 * 1000000) // n1,
        |  (n3 * 1000000) // n2 FROM c
        |UNION ALL SELECT 4, 'purchase', n4, (n4 * 1000000) // n1,
        |  (n4 * 1000000) // n3 FROM c""".stripMargin,
    "p13_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |l AS (
        |  SELECT *, lag(ts_us) OVER (PARTITION BY user_id
        |                             ORDER BY ts_us, event_id) AS prev
        |  FROM e),
        |s AS (
        |  SELECT *, SUM(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
        |                     THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM l)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(ts_us) AS session_start, MAX(ts_us) AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "p14_window_agg" ->
      """SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS ws_us,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "p15_json_props" ->
      """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10 AS k_mod,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1""".stripMargin,
    "p16_hash_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${oHash("'split' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${oHash("'split' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin,
    "p17_tfidf" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($oToks) AS term FROM documents),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
         |dfreq AS (
         |  SELECT term, COUNT(*) AS df
         |  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tf.term,
         |    CAST(FLOOR(CAST(tf AS DOUBLE)
         |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS score_micro
         |  FROM tf JOIN dfreq ON tf.term = dfreq.term, n),
         |ranked AS (
         |  SELECT doc_id, term, score_micro,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |                       ORDER BY score_micro DESC, term ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score_micro
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "p18_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    127.0 / list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale,
        |    list_transform(embedding,
        |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * scale) AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id,
        |  CAST(FLOOR(scale * 1e6) AS BIGINT) AS scale_micro,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
        |  CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max
        |FROM q""".stripMargin,
    "p19_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, cents),
         |cells AS (
         |  SELECT vec_id, embedding, cent_id FROM assign WHERE rn = 1),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ${oCos("q.embedding", "c.embedding")} AS sim
         |  FROM cells q JOIN cells c
         |    ON q.cent_id = c.cent_id AND q.vec_id != c.vec_id
         |  WHERE q.vec_id < 20),
         |ranked AS (
         |  SELECT query_id, cand_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
         |  CAST(FLOOR(sim * 1e6) AS BIGINT) AS sim_micro
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "p20_repetition" ->
      s"""WITH words AS (
         |  SELECT doc_id, UNNEST($oToks) AS w FROM documents),
         |wc AS (
         |  SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY 1, 2),
         |topf AS (
         |  SELECT doc_id,
         |    CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac
         |  FROM wc GROUP BY 1),
         |tri AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
         |    CASE WHEN len(toks) >= 3 THEN
         |      1.0 - CAST(len(${oShingles(3)}) AS DOUBLE) / (len(toks) - 2)
         |    ELSE 0.0 END AS dup_3gram_frac
         |  FROM (SELECT doc_id, $oToks AS toks FROM documents))
         |SELECT t.doc_id, t.n_words, t.dup_3gram_frac, f.top_word_frac
         |FROM tri t JOIN topf f USING (doc_id)""".stripMargin,
    "p21_kmeans" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, cents),
         |cells AS (
         |  SELECT vec_id, embedding, cent_id FROM assign WHERE rn = 1),
         |expl AS (
         |  SELECT cent_id, i - 1 AS dim,
         |    FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6) AS fx
         |  FROM cells
         |  CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) s)
         |SELECT cent_id, CAST(dim AS BIGINT) AS dim,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(FLOOR(SUM(fx) / COUNT(*)) AS BIGINT) AS mean_fixed
         |FROM expl GROUP BY 1, 2""".stripMargin,
    "p22_kmeans_train" -> oKmeansTrain(kmeansIters),
    "p52_ivf_trained" -> oIvfTrained(iters = 2, nprobe = 2, k = 3),
    "p23_stratified_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, source,
         |    ${oHash("'sample' || CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id)
         |      AS rank
         |  FROM h)
         |SELECT doc_id, source, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 10""".stripMargin,
    "p24_token_budget" ->
      s"""WITH h AS (
         |  SELECT doc_id, source, len($oToks) AS n_toks,
         |    ${oHash("'mix' || CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_toks,
         |    SUM(n_toks) OVER (PARTITION BY source ORDER BY hh, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM h)
         |SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks,
         |  CAST(cum AS BIGINT) AS cum_toks
         |FROM c WHERE cum <= 700""".stripMargin,
    "p45_source_overlap" ->
      s"""WITH toks AS (SELECT doc_id, $oToks AS toks FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 3 THEN CAST([] AS BIGINT[])
         |    ELSE list_transform(generate_series(1, len(toks) - 2),
         |      i -> ${oHash("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")})
         |    END AS h
         |  FROM toks),
         |fps AS (
         |  SELECT doc_id,
         |    CASE WHEN len(h) < 4 THEN list_distinct(h)
         |    ELSE list_distinct(list_transform(generate_series(1, len(h) - 3),
         |      j -> list_min(h[j:j+3])))
         |    END AS fps
         |  FROM h),
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         |sym AS (
         |  SELECT doc_a AS d, doc_b AS o FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |src AS (SELECT doc_id, source FROM documents)
         |SELECT sa.source AS src_a, sb.source AS src_b,
         |  CAST(COUNT(DISTINCT sym.d) AS BIGINT) AS n_mirrored
         |FROM sym
         |JOIN src sa ON sym.d = sa.doc_id
         |JOIN src sb ON sym.o = sb.doc_id
         |WHERE sa.source != sb.source
         |GROUP BY 1, 2""".stripMargin,
    "p44_mix_weights" ->
      s"""WITH ps AS (
         |  SELECT source, CAST(SUM(len($oToks)) AS BIGINT) AS toks
         |  FROM documents GROUP BY source),
         |t AS (
         |  SELECT CAST(SUM(toks) AS BIGINT) AS total,
         |         CAST(COUNT(*) AS BIGINT) AS n_sources
         |  FROM ps)
         |SELECT source, toks,
         |  CAST(FLOOR(total * 1000000.0 / (n_sources * toks)) AS BIGINT)
         |    AS weight_micro
         |FROM ps, t""".stripMargin,
    "p43_length_quantiles" ->
      s"""WITH d AS (
         |  SELECT source, CAST(len($oToks) AS BIGINT) AS n FROM documents),
         |r AS (
         |  SELECT source, n,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n) AS rn,
         |    COUNT(*) OVER (PARTITION BY source) AS cnt
         |  FROM d)
         |SELECT source, q, n AS value
         |FROM r CROSS JOIN
         |  (SELECT CAST(UNNEST([25, 50, 75]) AS BIGINT) AS q) s
         |WHERE rn = CAST(FLOOR((cnt * q + 99) / 100.0) AS BIGINT)""".stripMargin,
    "p41_vocab" ->
      s"""WITH c AS (SELECT unnest($oToks) AS tok FROM documents),
         |n AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY tok),
         |r AS (SELECT tok, n,
         |  ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rank FROM n)
         |SELECT tok, n, CAST(rank AS BIGINT) AS rank FROM r
         |WHERE rank <= 50""".stripMargin,
    "p42_oov_rate" ->
      s"""WITH c AS (SELECT doc_id, unnest($oToks) AS tok FROM documents),
         |n AS (SELECT tok, COUNT(*) AS n FROM c GROUP BY tok),
         |v AS (SELECT tok FROM n ORDER BY n DESC, tok ASC LIMIT 10)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(FLOOR(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    * 1000000.0 / COUNT(*)) AS BIGINT) AS oov_micro
         |FROM c LEFT JOIN v ON c.tok = v.tok GROUP BY doc_id""".stripMargin,
    "p40_semantic_dedup" ->
      s"""WITH RECURSIVE cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, cents),
         |cells AS (
         |  SELECT vec_id, embedding, cent_id FROM assign WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS ua, b.vec_id AS vb
         |  FROM cells a JOIN cells b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |  WHERE ${oCos("a.embedding", "b.embedding")} >= 0.4),
         |edges AS (
         |  SELECT ua AS u, vb AS v FROM pairs
         |  UNION SELECT vb, ua FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
         |comp AS (SELECT u, MIN(v) AS cmp FROM reach GROUP BY u)
         |SELECT a.vec_id, a.cent_id AS cell,
         |  COALESCE(c.cmp, a.vec_id) AS cluster_id,
         |  CAST(COALESCE(c.cmp, a.vec_id) = a.vec_id AS INT) AS keep
         |FROM cells a LEFT JOIN comp c ON a.vec_id = c.u""".stripMargin,
    "p37_dup_clusters" ->
      s"""WITH RECURSIVE ${oPairCtes(4, 0.4)},
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, MIN(v) AS cluster_id,
         |  CAST(u = MIN(v) AS INT) AS keep
         |FROM reach GROUP BY u""".stripMargin,
    "p107_dedup_impact" ->
      s"""WITH RECURSIVE ${oPairCtes(4, 0.4)},
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |dec AS (
         |  SELECT u AS doc_id, MIN(v) AS component,
         |    CASE WHEN u = MIN(v) THEN 1 ELSE 0 END AS keep
         |  FROM reach GROUP BY u),
         |tk AS (SELECT doc_id, CAST(len($oToks) AS BIGINT) AS n_toks
         |       FROM documents),
         |per AS (
         |  SELECT d.component, COUNT(*) AS cluster_size,
         |    SUM(CASE WHEN d.keep = 0 THEN tk.n_toks ELSE 0 END)
         |      AS toks_removed
         |  FROM dec d JOIN tk ON d.doc_id = tk.doc_id
         |  GROUP BY d.component)
         |SELECT CASE WHEN cluster_size = 2 THEN '2'
         |            WHEN cluster_size <= 4 THEN '3-4'
         |            WHEN cluster_size <= 8 THEN '5-8'
         |            ELSE '9+' END AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
         |  CAST(SUM(cluster_size - 1) AS BIGINT) AS n_docs_removed,
         |  CAST(SUM(toks_removed) AS BIGINT) AS toks_removed
         |FROM per GROUP BY 1""".stripMargin,
    "p46_merge_clusters" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $oToks AS toks FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 3 THEN CAST([] AS BIGINT[])
         |    ELSE list_transform(generate_series(1, len(toks) - 2),
         |      i -> ${oHash("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")})
         |    END AS h
         |  FROM toks),
         |fps AS (
         |  SELECT doc_id,
         |    CASE WHEN len(h) < 4 THEN list_distinct(h)
         |    ELSE list_distinct(list_transform(generate_series(1, len(h) - 3),
         |      j -> list_min(h[j:j+3])))
         |    END AS fps
         |  FROM h),
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
         |SELECT u AS doc_id, MIN(v) AS cluster_id
         |FROM reach GROUP BY u""".stripMargin,
    "p47_bloom_ingest" ->
      s"""WITH corpus AS (
         |  SELECT substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp
         |  FROM documents),
         |batch AS (
         |  SELECT doc_id + 1000000 AS doc_id, text, source, n_chars
         |  FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000, text || ' zzfresh', source, n_chars
         |  FROM documents WHERE doc_id % 7 = 0),
         |bfp AS (
         |  SELECT doc_id, source, n_chars,
         |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp
         |  FROM batch)
         |SELECT doc_id, source, n_chars FROM bfp b
         |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)"""
        .stripMargin,
    "p48_pq_codes" -> {
      def oDotSub(a: String, b: String): String =
        s"""list_sum(list_transform(generate_series(1, 16),
           |      i -> CAST($a[subs.s*16 + i] AS DOUBLE)
           |           * CAST($b[subs.s*16 + i] AS DOUBLE)))""".stripMargin
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id < 8),
         |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
         |scored AS (
         |  SELECT e.vec_id, subs.s, c.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, subs.s ORDER BY
         |      (${oDotSub("e.embedding", "e.embedding")}
         |       - 2 * ${oDotSub("e.embedding", "c.ce")}
         |       + ${oDotSub("c.ce", "c.ce")}) ASC,
         |      c.cent_id ASC) AS rn
         |  FROM embeddings e, cents c, subs)
         |SELECT vec_id, CAST(s AS BIGINT) AS subspace, cent_id AS code
         |FROM scored WHERE rn = 1""".stripMargin
    },
    "p55_pq_trained" -> oPqTrained(iters = 2),
    "p58_pq_trained_topk" -> oPqTrainedTopK(iters = 2, k = 5),
    "p49_pq_topk" -> oPqTopKSql("", "embeddings"),
    "p97_rot_pq" -> oPqTopKSql(
      s"""rotemb AS (
         |  SELECT vec_id, ${oRotate("embedding", "q97")} AS embedding
         |  FROM embeddings),
         |""".stripMargin, "rotemb"),
    "p111_novelty" ->
      s"""WITH t AS (SELECT doc_id, $oToks AS tk FROM documents),
         |g0 AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) < 8 THEN CAST([] AS BIGINT[])
         |    ELSE list_transform(generate_series(1, len(tk) - 7),
         |      i -> ${oHash("array_to_string(tk[i:i+7], ' ')")})
         |    END AS gs
         |  FROM t),
         |ing AS (SELECT doc_id, unnest(gs) AS gh FROM g0
         |        WHERE doc_id % 10 = 7),
         |ref AS (SELECT DISTINCT unnest(gs) AS gh FROM g0
         |        WHERE doc_id % 10 != 7),
         |per AS (
         |  SELECT i.doc_id, COUNT(*) AS n_windows,
         |    SUM(CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END) AS n_seen
         |  FROM ing i LEFT JOIN ref r ON i.gh = r.gh
         |  GROUP BY i.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(per.n_windows, 0) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(per.n_seen, 0) AS BIGINT) AS n_seen,
         |  CAST(COALESCE(((per.n_windows - per.n_seen) * 1000000)
         |    // per.n_windows, 1000000) AS BIGINT) AS novelty_micro
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
         |LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,
    "p105_memorization_risk" ->
      s"""WITH t AS (SELECT doc_id, $oToks AS tk FROM documents),
         |g0 AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) < 8 THEN CAST([] AS BIGINT[])
         |    ELSE list_transform(generate_series(1, len(tk) - 7),
         |      i -> ${oHash("array_to_string(tk[i:i+7], ' ')")})
         |    END AS gs
         |  FROM t),
         |g AS (SELECT doc_id, unnest(gs) AS gh FROM g0),
         |occ AS (SELECT gh, COUNT(*) AS occ FROM g GROUP BY gh),
         |per AS (
         |  SELECT g.doc_id, COUNT(*) AS n_windows,
         |    SUM(CASE WHEN occ.occ >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM g JOIN occ ON g.gh = occ.gh GROUP BY g.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(per.n_windows, 0) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(per.n_dup, 0) AS BIGINT) AS n_dup_windows,
         |  CAST(COALESCE((per.n_dup * 1000000) // per.n_windows, 0)
         |    AS BIGINT) AS dup_frac_micro
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,
    "p104_bbit_minhash" ->
      s"""${oMinhashSigCtes()},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  WHERE ${oBandEq()}),
         |m AS (
         |  SELECT c.doc_a, c.doc_b, a.sh AS sh_a, b.sh AS sh_b,
         |    CAST(list_sum(list_transform(generate_series(1, 12),
         |      i -> CASE WHEN a.sig[i] % 4 = b.sig[i] % 4
         |           THEN 1 ELSE 0 END)) AS BIGINT) AS n_match
         |  FROM cand c
         |  JOIN sg a ON a.doc_id = c.doc_a
         |  JOIN sg b ON b.doc_id = c.doc_b),
         |j AS (
         |  SELECT *, len(list_intersect(sh_a, sh_b))
         |    / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE)
         |    AS jac FROM m)
         |SELECT doc_a, doc_b, n_match,
         |  (GREATEST(n_match * 4 - 12, 0) * 1000000) // 36 AS est_micro,
         |  CAST(FLOOR(jac * 1e6) AS BIGINT) AS exact_micro,
         |  ABS((GREATEST(n_match * 4 - 12, 0) * 1000000) // 36
         |    - CAST(FLOOR(jac * 1e6) AS BIGINT)) AS abs_err_micro
         |FROM j WHERE jac >= 0.5""".stripMargin,
    "p109_zipf_fit" ->
      s"""WITH c AS (
         |  SELECT tok, COUNT(*) AS n
         |  FROM (SELECT unnest($oToks) AS tok FROM documents)
         |  GROUP BY tok),
         |r AS (
         |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
         |  FROM c),
         |p AS (
         |  SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 1e3) AS BIGINT)
         |      AS x,
         |    CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1e3) AS BIGINT) AS y
         |  FROM r WHERE rank <= 500),
         |s AS (
         |  SELECT COUNT(*) AS np, SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
         |  FROM p)
         |SELECT CAST(np AS BIGINT) AS n_points,
         |  CAST(FLOOR(CAST(np * sxy - sx * sy AS DOUBLE)
         |    / CAST(np * sxx - sx * sx AS DOUBLE) * 1e6) AS BIGINT)
         |    AS slope_micro,
         |  CAST(FLOOR((CAST(sy AS DOUBLE) / 1000.0 / np
         |    - CAST(np * sxy - sx * sy AS DOUBLE)
         |      / CAST(np * sxx - sx * sx AS DOUBLE)
         |      * (CAST(sx AS DOUBLE) / 1000.0 / np)) * 1e6) AS BIGINT)
         |    AS intercept_micro,
         |  CAST(FLOOR(CAST(np * sxy - sx * sy AS DOUBLE)
         |    * CAST(np * sxy - sx * sy AS DOUBLE)
         |    / (CAST(np * sxx - sx * sx AS DOUBLE)
         |       * CAST(np * syy - sy * sy AS DOUBLE)) * 1e6) AS BIGINT)
         |    AS r2_micro
         |FROM s""".stripMargin,
    "p108_lsh_recall_sweep" ->
      s"""${oMinhashSigCtes(sampleBudget = Some(256))},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  WHERE ${oBandEq()}),
         |hd AS (SELECT doc_id, list_distinct(bh) AS hs FROM hh),
         |truth AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(FLOOR(len(list_intersect(a.hs, b.hs))
         |      / CAST(len(list_distinct(list_concat(a.hs, b.hs)))
         |             AS DOUBLE) * 1e6) AS BIGINT) AS jm
         |  FROM hd a JOIN hd b ON a.doc_id < b.doc_id
         |  WHERE len(list_distinct(list_concat(a.hs, b.hs))) > 0),
         |th AS (SELECT CAST(UNNEST([30, 40, 50, 60, 70]) AS BIGINT) AS t)
         |SELECT t AS threshold_pct,
         |  CAST(COUNT(*) AS BIGINT) AS n_truth,
         |  CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_caught,
         |  CAST((SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000) // COUNT(*) AS BIGINT) AS recall_micro,
         |  CAST(FLOOR((1.0 - pow(1.0
         |    - pow(CAST(t AS DOUBLE) / 100.0, 2.0), 6.0)) * 1000000.0)
         |    AS BIGINT) AS theory_floor_micro
         |FROM truth tr
         |CROSS JOIN th
         |LEFT JOIN cand c ON tr.doc_a = c.doc_a AND tr.doc_b = c.doc_b
         |WHERE tr.jm >= t * 10000
         |GROUP BY t""".stripMargin,
    "p100_hashed_neardup" ->
      s"""${oHashedVecCtes()}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(FLOOR(${oCosN("a.embedding", "b.embedding", 128)} * 1e6)
         |    AS BIGINT) AS sim_micro
         |FROM nz a JOIN nz b ON a.doc_id < b.doc_id
         |WHERE ${oCosN("a.embedding", "b.embedding", 128)} >= 0.5""".stripMargin,
    "p106_text_neardup" ->
      s"""${oHashedVecCtes()},
         |cents AS (
         |  SELECT doc_id AS cent_id, embedding AS ce FROM nz
         |  WHERE doc_id % 25 = 0),
         |assign AS (
         |  SELECT e.doc_id, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.doc_id
         |      ORDER BY ${oCosN("e.embedding", "ce", 128)} DESC,
         |        cent_id ASC) AS rn
         |  FROM nz e, cents),
         |cells AS (SELECT doc_id, cent_id FROM assign WHERE rn = 1),
         |probes AS (SELECT doc_id, cent_id FROM assign
         |           WHERE rn <= 3 AND doc_id % 10 = 7)
         |SELECT pr.doc_id AS query_id, cl.doc_id AS cand_id,
         |  CAST(FLOOR(${oCosN("q.embedding", "c.embedding", 128)} * 1e6)
         |    AS BIGINT) AS sim_micro
         |FROM probes pr
         |JOIN nz q ON q.doc_id = pr.doc_id
         |JOIN cells cl ON cl.cent_id = pr.cent_id
         |JOIN nz c ON c.doc_id = cl.doc_id
         |WHERE pr.doc_id != cl.doc_id
         |  AND FLOOR(${oCosN("q.embedding", "c.embedding", 128)} * 1e6)
         |    >= 500000""".stripMargin,
    "p76_embed_ingest" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |assign AS (
         |  SELECT e.vec_id, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, cents),
         |cells AS (SELECT vec_id, cent_id FROM assign WHERE rn = 1),
         |probes AS (SELECT vec_id, cent_id FROM assign
         |           WHERE rn <= 3 AND vec_id % 10 = 7)
         |SELECT pr.vec_id AS query_id, cl.vec_id AS cand_id,
         |  CAST(FLOOR(${oCos("q.embedding", "c.embedding")} * 1e6) AS BIGINT) AS sim_micro
         |FROM probes pr
         |JOIN embeddings q ON q.vec_id = pr.vec_id
         |JOIN cells cl ON cl.cent_id = pr.cent_id
         |JOIN embeddings c ON c.vec_id = cl.vec_id
         |WHERE pr.vec_id != cl.vec_id
         |  AND FLOOR(${oCos("q.embedding", "c.embedding")} * 1e6) >= 200000""".stripMargin,
    "p74_ivfpq" ->
      s"""$oIvfPqAd
         |SELECT query_id, cand_id, CAST(rn AS BIGINT) AS rank,
         |  CAST(FLOOR(adist * 1e6) AS BIGINT) AS adist_micro
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY adist ASC, cand_id ASC) AS rn FROM ad)
         |WHERE rn <= 5""".stripMargin,
    "p83_ivfpq_refine" -> oIvfPqRefineSql,
    "p85_ivf_occupancy" ->
      s"""WITH ccents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, ccents),
         |cells AS (SELECT vec_id, embedding, cent_id FROM assign WHERE rn = 1),
         |counts AS (
         |  SELECT cent_id, COUNT(*) AS n_members,
         |    MIN(vec_id) AS seed_a, MAX(vec_id) AS seed_b
         |  FROM cells GROUP BY cent_id),
         |tot AS (SELECT SUM(n_members) AS total, COUNT(*) AS n_cells
         |        FROM counts),
         |flags AS (
         |  SELECT c.*, CASE WHEN c.n_members * t.n_cells * 100
         |                        > 130 * t.total
         |              THEN 1 ELSE 0 END AS oversized
         |  FROM counts c, tot t),
         |sub AS (
         |  SELECT m.cent_id,
         |    SUM(CASE WHEN ${oCos("m.embedding", "a.embedding")}
         |               >= ${oCos("m.embedding", "b.embedding")}
         |        THEN 1 ELSE 0 END) AS n_a,
         |    SUM(CASE WHEN ${oCos("m.embedding", "a.embedding")}
         |               >= ${oCos("m.embedding", "b.embedding")}
         |        THEN 0 ELSE 1 END) AS n_b
         |  FROM cells m
         |  JOIN flags f ON m.cent_id = f.cent_id AND f.oversized = 1
         |  JOIN embeddings a ON a.vec_id = f.seed_a
         |  JOIN embeddings b ON b.vec_id = f.seed_b
         |  GROUP BY m.cent_id)
         |SELECT f.cent_id,
         |  CAST(f.n_members AS BIGINT) AS n_members,
         |  CAST(f.oversized AS BIGINT) AS oversized,
         |  CASE WHEN f.oversized = 1 THEN f.seed_a END AS seed_a,
         |  CASE WHEN f.oversized = 1 THEN f.seed_b END AS seed_b,
         |  CAST(s.n_a AS BIGINT) AS n_a, CAST(s.n_b AS BIGINT) AS n_b
         |FROM flags f LEFT JOIN sub s ON f.cent_id = s.cent_id""".stripMargin,
    "p96_ivf_split" ->
      s"""WITH ccents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, ccents),
         |cells AS (SELECT vec_id, embedding, cent_id FROM assign WHERE rn = 1),
         |counts AS (
         |  SELECT cent_id, COUNT(*) AS n_members,
         |    MIN(vec_id) AS seed_a, MAX(vec_id) AS seed_b
         |  FROM cells GROUP BY cent_id),
         |tot AS (SELECT SUM(n_members) AS total, COUNT(*) AS n_cells
         |        FROM counts),
         |flags AS (
         |  SELECT c.*, CASE WHEN c.n_members * t.n_cells * 100
         |                        > 130 * t.total
         |              THEN 1 ELSE 0 END AS oversized
         |  FROM counts c, tot t),
         |sv AS (
         |  SELECT f.cent_id, a.embedding AS va, b.embedding AS vb
         |  FROM flags f
         |  JOIN embeddings a ON a.vec_id = f.seed_a
         |  JOIN embeddings b ON b.vec_id = f.seed_b
         |  WHERE f.oversized = 1),
         |mem AS (
         |  SELECT m.cent_id, m.embedding,
         |    CASE WHEN ${oCos("m.embedding", "sv.va")}
         |           >= ${oCos("m.embedding", "sv.vb")}
         |    THEN 'a' ELSE 'b' END AS sub
         |  FROM cells m JOIN sv ON m.cent_id = sv.cent_id),
         |expl AS (
         |  SELECT cent_id, sub, i - 1 AS dim,
         |    FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6) AS fx
         |  FROM mem
         |  CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) s)
         |SELECT cent_id, sub, CAST(dim AS BIGINT) AS dim,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(FLOOR(SUM(fx) / COUNT(*)) AS BIGINT) AS mean_fixed
         |FROM expl GROUP BY 1, 2, 3""".stripMargin,
    "p50_temp_mix" ->
      s"""WITH c AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1),
         |d AS (
         |  SELECT list_sum(list_sort(list(sqrt(CAST(n_docs AS DOUBLE)))))
         |    AS denom FROM c)
         |SELECT source, n_docs,
         |  CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) / denom * 1e6) AS BIGINT)
         |    AS p_micro
         |FROM c, d""".stripMargin,
    "p51_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 20),
         |scored AS (
         |  SELECT query_id, e.vec_id AS cand_id,
         |    ${oCos("qv", "e.embedding")} AS sim
         |  FROM embeddings e, q WHERE e.vec_id != query_id),
         |ranked AS (
         |  SELECT query_id, cand_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM scored WHERE sim < 0.8)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
         |  CAST(FLOOR(sim * 1e6) AS BIGINT) AS sim_micro
         |FROM ranked WHERE rank <= 5""".stripMargin,
    "p53_chunks" ->
      s"""WITH d AS (SELECT doc_id, $oToks AS toks FROM documents),
         |st AS (
         |  SELECT doc_id, toks,
         |    unnest(range(0, greatest(len(toks), 1), 24)) AS start
         |  FROM d),
         |c AS (
         |  SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_id,
         |    toks[start + 1 : start + 32] AS chunk
         |  FROM st)
         |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_tokens,
         |  ${oHash("array_to_string(chunk, ' ')")} AS chunk_hash
         |FROM c""".stripMargin,
    "p54_snapshot_diff" ->
      s"""WITH o AS (
         |  SELECT doc_id,
         |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS ofp
         |  FROM documents WHERE doc_id % 7 != 0),
         |n0 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END
         |      AS text
         |  FROM documents WHERE doc_id % 5 != 0),
         |n AS (
         |  SELECT doc_id,
         |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS nfp
         |  FROM n0)
         |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN ofp = nfp THEN 'unchanged'
         |       ELSE 'modified' END AS status
         |FROM o FULL OUTER JOIN n USING (doc_id)""".stripMargin,
    "p38_pii_scrub" ->
      s"""WITH lines AS (
         |  SELECT event_id,
         |    event_type || ' user=' || CAST(user_id AS VARCHAR) ||
         |    ' amount=' || CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR)
         |      AS line
         |  FROM events),
         |s1 AS (
         |  SELECT event_id,
         |    CAST(len(regexp_extract_all(line,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
         |      AS n_email,
         |    regexp_replace(line,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
         |      '<EMAIL>', 'g') AS t1
         |  FROM lines),
         |s2 AS (
         |  SELECT event_id, n_email,
         |    CAST(len(regexp_extract_all(t1,
         |      '\\+?[0-9][0-9()\\- ]{6,}[0-9]')) AS BIGINT) AS n_phone,
         |    regexp_replace(t1, '\\+?[0-9][0-9()\\- ]{6,}[0-9]',
         |      '<PHONE>', 'g') AS t2
         |  FROM s1)
         |SELECT event_id,
         |  regexp_replace(t2, '[0-9]+', '<ID>', 'g') AS clean,
         |  n_email, n_phone,
         |  CAST(len(regexp_extract_all(t2, '[0-9]+')) AS BIGINT) AS n_id
         |FROM s2""".stripMargin,
    "p39_line_dedup" ->
      s"""WITH segs AS (
         |  SELECT DISTINCT doc_id, ${oHash("seg")} AS h
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      generate_series(1, CAST(CEIL(len(toks) / 10.0) AS BIGINT)),
         |      i -> array_to_string(list_slice(toks, (i-1)*10+1, i*10), ' '))) AS seg
         |    FROM (SELECT doc_id, $oToks AS toks FROM documents))),
         |owners AS (SELECT h, MIN(doc_id) AS owner FROM segs GROUP BY h)
         |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
         |  CAST(SUM(CASE WHEN s.doc_id = o.owner THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(COUNT(*) AS BIGINT) -
         |  CAST(SUM(CASE WHEN s.doc_id = o.owner THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped
         |FROM segs s JOIN owners o USING (h) GROUP BY s.doc_id""".stripMargin,
    "p71_bpe_train" -> oBpeTrain(100),
    "p75_bpe_encode" -> oBpeEncode(100),
    "p137_wordpiece_encode" -> oBpeEncode(100, wordPiece = true),
    // the plant list in closed form: (2k, 2k+1) share a pattern, and
    // the operator side can only reproduce it by decoding both codecs
    "p77_image_neardup" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0""".stripMargin,
    // same plant-list contract as p77: (2k, 2k+1) share a contour,
    // recoverable only by decoding both differently-scaled WAVs
    "p80_audio_neardup" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0""".stripMargin,
    "p78_exact_substrings" ->
      s"""WITH t AS (SELECT doc_id, $oToks AS tk FROM documents),
         |g0 AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) < 8 THEN CAST([] AS STRUCT(gpos BIGINT, gh BIGINT)[])
         |    ELSE list_transform(generate_series(1, len(tk) - 7),
         |      i -> {'gpos': CAST(i - 1 AS BIGINT),
         |            'gh': ${oHash("array_to_string(tk[i:i+7], ' ')")}})
         |    END AS gs
         |  FROM t),
         |g AS (SELECT doc_id, u.gpos AS gpos, u.gh AS gh FROM (
         |  SELECT doc_id, unnest(gs) AS u FROM g0)),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
         |d AS (SELECT g.doc_id, g.gpos FROM g JOIN dup USING (gh)),
         |isl AS (SELECT doc_id, gpos,
         |  gpos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY gpos) AS grp FROM d),
         |spans AS (SELECT doc_id, MIN(gpos) AS s, MAX(gpos) + 7 AS e
         |  FROM isl GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS dup_tokens
         |  FROM spans GROUP BY doc_id),
         |tok AS (SELECT doc_id, u.i AS i, u.tok AS tok FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk)),
         |    i -> {'i': CAST(i - 1 AS BIGINT), 'tok': tk[i]})) AS u
         |  FROM t)),
         |kept AS (
         |  SELECT tok.doc_id, string_agg(tok.tok, ' ' ORDER BY tok.i) AS clean
         |  FROM tok
         |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |    WHERE sp.doc_id = tok.doc_id AND tok.i BETWEEN sp.s AND sp.e)
         |  GROUP BY tok.doc_id)
         |SELECT t.doc_id,
         |  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  substr(md5(COALESCE(k.clean, '')), 1, 16) AS clean_fp
         |FROM t LEFT JOIN agg a USING (doc_id) LEFT JOIN kept k USING (doc_id)""".stripMargin,
    "p72_jpeg_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS mime,
        |  CAST(1 + doc_id % 16 AS BIGINT) AS width,
        |  CAST(1 + length(text) % 16 AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS px_ok
        |FROM documents""".stripMargin,
    "p68_unigram_lm" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($oToks) AS tok FROM documents),
         |cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
         |tot AS (SELECT SUM(c) AS t FROM cnt),
         |vocab AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 500),
         |cost AS (
         |  SELECT tok,
         |    CAST(FLOOR(-ln((c + 1) / CAST(t + 501 AS DOUBLE)) * 1e6)
         |      AS BIGINT) AS cost
         |  FROM vocab, tot),
         |oov AS (
         |  SELECT CAST(FLOOR(-ln(1 / CAST(t + 501 AS DOUBLE)) * 1e6)
         |    AS BIGINT) AS oov_cost
         |  FROM tot)
         |SELECT t2.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(COALESCE(cost.cost, oov.oov_cost)) AS BIGINT) AS nll_micro,
         |  CAST(SUM(COALESCE(cost.cost, oov.oov_cost)) AS BIGINT) // COUNT(*)
         |    AS avg_nll_micro
         |FROM toks t2 CROSS JOIN oov LEFT JOIN cost ON t2.tok = cost.tok
         |GROUP BY t2.doc_id""".stripMargin,
    "p69_cluster_best" ->
      s"""WITH RECURSIVE ${oPairCtes(4, 0.4)},
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |clus AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
         |$oScoreCtes,
         |r2 AS (
         |  SELECT cluster_id, c2.doc_id, score_micro,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY score_micro DESC, c2.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS n
         |  FROM clus c2 JOIN q ON c2.doc_id = q.doc_id)
         |SELECT cluster_id, doc_id AS best_doc_id,
         |  score_micro AS best_score_micro, CAST(n AS BIGINT) AS cluster_size
         |FROM r2 WHERE rn = 1""".stripMargin,
    "p70_importance_sample" ->
      s"""WITH $oScoreCtes,
         |mx AS (SELECT MAX(score_micro) AS mx FROM q)
         |SELECT q.doc_id, d.source, q.score_micro,
         |  ${oHash("'imp' || CAST(q.doc_id AS VARCHAR)")} % 1000000 AS draw,
         |  CAST((${oHash("'imp' || CAST(q.doc_id AS VARCHAR)")} % 1000000)
         |       * mx.mx < q.score_micro * 1000000 AS INT) AS accept
         |FROM q JOIN documents d ON q.doc_id = d.doc_id CROSS JOIN mx""".stripMargin,
    "p67_keep_longest" ->
      s"""WITH base AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
         |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp
         |  FROM documents),
         |r AS (
         |  SELECT fp, doc_id, len,
         |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY len DESC, doc_id ASC) AS rn,
         |    COUNT(*) OVER (PARTITION BY fp) AS n
         |  FROM base)
         |SELECT fp, doc_id AS keep_id, len AS keep_len,
         |  CAST(n AS BIGINT) AS n_copies
         |FROM r WHERE rn = 1""".stripMargin,
    "p65_segment_scrub" ->
      s"""WITH base AS (SELECT doc_id, $oToks AS toks FROM documents),
         |exp AS (
         |  SELECT doc_id AS doc,
         |    unnest(generate_series(1, CAST(CEIL(len(toks) / 10.0) AS BIGINT))) AS pos,
         |    toks
         |  FROM base),
         |segs AS (
         |  SELECT doc, pos,
         |    array_to_string(list_slice(toks, (pos-1)*10+1, pos*10), ' ') AS seg
         |  FROM exp),
         |flag AS (
         |  SELECT doc, pos, seg,
         |    CASE WHEN ROW_NUMBER() OVER (
         |      PARTITION BY ${oHash("seg")} ORDER BY doc, pos) = 1
         |    THEN 1 ELSE 0 END AS kept
         |  FROM segs)
         |SELECT doc AS doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_segs,
         |  CAST(SUM(kept) AS BIGINT) AS n_kept,
         |  substr(md5(COALESCE(
         |    string_agg(CASE WHEN kept = 1 THEN seg END, ' ' ORDER BY pos),
         |    '')), 1, 16) AS clean_fp
         |FROM flag GROUP BY doc""".stripMargin,
    "p36_random_projection" -> (0 until 16).map { p =>
      s"""SELECT vec_id, CAST($p AS BIGINT) AS dim,
         |  CAST(FLOOR(list_sum(list_transform(generate_series(1, 64),
         |    i -> CAST(embedding[i] AS DOUBLE) *
         |         (${oHash(s"'hp${p}_' || CAST(i AS VARCHAR)")} % 2001 - 1000)))
         |    * 1000000.0) AS BIGINT) AS proj_fixed
         |FROM embeddings""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "p35_winnow_pairs" ->
      s"""WITH toks AS (SELECT doc_id, $oToks AS toks FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 3 THEN CAST([] AS BIGINT[])
         |    ELSE list_transform(generate_series(1, len(toks) - 2),
         |      i -> ${oHash("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")})
         |    END AS h
         |  FROM toks),
         |fps AS (
         |  SELECT doc_id,
         |    CASE WHEN len(h) < 4 THEN list_distinct(h)
         |    ELSE list_distinct(list_transform(generate_series(1, len(h) - 3),
         |      j -> list_min(h[j:j+3])))
         |    END AS fps
         |  FROM h),
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM fps)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,
    "p33_rare_tokens" ->
      s"""WITH occ AS (
         |  SELECT doc_id, unnest($oToks) AS tok FROM documents),
         |dfreq AS (
         |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY tok),
         |j AS (SELECT doc_id, df FROM occ JOIN dfreq USING (tok)),
         |thr AS (SELECT COUNT(*) // 5 AS t FROM documents)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
         |  CAST(SUM(CASE WHEN df <= (SELECT t FROM thr) THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  CAST(FLOOR(CAST(SUM(CASE WHEN df <= (SELECT t FROM thr) THEN 1 ELSE 0 END) AS DOUBLE)
         |    * 1000000.0 / COUNT(*)) AS BIGINT) AS rare_micro
         |FROM j GROUP BY doc_id""".stripMargin,
    "p34_winnow" ->
      s"""WITH toks AS (SELECT doc_id, $oToks AS toks FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 3 THEN CAST([] AS BIGINT[])
         |    ELSE list_transform(generate_series(1, len(toks) - 2),
         |      i -> ${oHash("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")})
         |    END AS h
         |  FROM toks),
         |fps AS (
         |  SELECT doc_id,
         |    CASE WHEN len(h) < 4 THEN list_distinct(h)
         |    ELSE list_distinct(list_transform(generate_series(1, len(h) - 3),
         |      j -> list_min(h[j:j+3])))
         |    END AS fps
         |  FROM h)
         |SELECT doc_id, unnest(fps) AS fp FROM fps""".stripMargin,
    "p31_shard_export" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${oHash("'shard' || CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents)
         |SELECT doc_id, CAST(hh % 8 AS BIGINT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
         |    AS BIGINT) AS pos
         |FROM h""".stripMargin,
    "p98_shard_offsets" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${oHash("'shard' || CAST(doc_id AS VARCHAR)")} AS hh,
         |    CAST(len($oToks) AS BIGINT) AS n_tokens
         |  FROM documents)
         |SELECT CAST(hh % 8 AS BIGINT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
         |    AS BIGINT) AS pos,
         |  doc_id, n_tokens,
         |  CAST(SUM(n_tokens + 1) OVER (PARTITION BY hh % 8
         |      ORDER BY hh, doc_id ROWS UNBOUNDED PRECEDING)
         |    - (n_tokens + 1) AS BIGINT) AS token_offset
         |FROM h""".stripMargin,
    "p86_shard_manifest" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${oHash("'shard' || CAST(doc_id AS VARCHAR)")} AS hh,
         |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp,
         |    CAST(len($oToks) AS BIGINT) AS n_toks
         |  FROM documents),
         |sp AS (
         |  SELECT hh % 8 AS shard, fp, n_toks,
         |    ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
         |      AS pos
         |  FROM h)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(SUM(${oHash("fp || ':' || CAST(pos AS VARCHAR)")}
         |           % 268435456) AS BIGINT) AS manifest_sum
         |FROM sp GROUP BY shard""".stripMargin,
    "p32_seq_pack" ->
      s"""WITH h AS (
         |  SELECT doc_id, source, len($oToks) AS n_toks,
         |    ${oHash("'pack' || CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_toks,
         |    SUM(n_toks) OVER (PARTITION BY source ORDER BY hh, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks
         |      AS start_tok
         |  FROM h)
         |SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks,
         |  CAST(FLOOR(CAST(start_tok AS DOUBLE) / 2048) AS BIGINT) AS chunk_idx,
         |  CAST(start_tok % 2048 AS BIGINT) AS chunk_off
         |FROM c""".stripMargin,
    "p29_frame_sample" ->
      s"""WITH f AS (
         |  SELECT doc_id AS media_id, text,
         |    octet_length(encode(text)) // 40 + 1 AS nf
         |  FROM documents WHERE doc_id % 2 = 1)
         |SELECT media_id, CAST(i AS BIGINT) AS frame_idx,
         |  md5(text || '#' || CAST(i AS VARCHAR)) AS frame_checksum
         |FROM f CROSS JOIN (SELECT UNNEST(generate_series(0, 6, 2)) AS i) s
         |WHERE i < nf
         |UNION ALL
         |SELECT doc_id AS media_id, CAST(0 AS BIGINT) AS frame_idx,
         |  md5(CAST(1 + doc_id % 16 AS VARCHAR) || 'x' ||
         |      CAST(1 + length(text) % 16 AS VARCHAR) || ':' ||
         |      CAST((doc_id % 256) * 65793 AS VARCHAR)) AS frame_checksum
         |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    "p59_resize_png" ->
      s"""WITH d AS (
         |  SELECT doc_id AS media_id,
         |    1 + doc_id % 16 AS w,
         |    1 + length(text) % 16 AS h
         |  FROM documents)
         |SELECT media_id,
         |  CAST(224 AS INTEGER) AS target_w, CAST(224 AS INTEGER) AS target_h,
         |  CAST(FLOOR(224 * 1000000.0 / w) AS BIGINT) AS scale_x_micro,
         |  CAST(FLOOR(224 * 1000000.0 / h) AS BIGINT) AS scale_y_micro
         |FROM d""".stripMargin,
    "p30_resize_plan" ->
      s"""WITH d AS (
         |  SELECT doc_id AS media_id,
         |    CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 16
         |         ELSE 64 + (ascii(substr(text, 1, 1)) % 192) END AS w,
         |    CASE WHEN doc_id % 2 = 0 THEN 1 + length(text) % 16
         |         ELSE 64 + (ascii(substr(text, 2, 1)) % 192) END AS h
         |  FROM documents)
         |SELECT media_id,
         |  CAST(224 AS INTEGER) AS target_w, CAST(224 AS INTEGER) AS target_h,
         |  CAST(FLOOR(224 * 1000000.0 / w) AS BIGINT) AS scale_x_micro,
         |  CAST(FLOOR(224 * 1000000.0 / h) AS BIGINT) AS scale_y_micro
         |FROM d""".stripMargin,
    "p27_containment" ->
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id, ${oShingles(4)} AS sh
         |  FROM (SELECT doc_id, $oToks AS toks FROM documents)),
         |ndposts AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |ndsz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM sh),
         |pairs AS (
         |  SELECT c.doc_a AS da, c.doc_b AS db, c.inter,
         |    sa.n AS na, sb.n AS nb
         |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |          CAST(COUNT(*) AS BIGINT) AS inter
         |        FROM ndposts a JOIN ndposts b
         |          ON a.g = b.g AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2) c
         |  JOIN ndsz sa ON c.doc_a = sa.doc_id
         |  JOIN ndsz sb ON c.doc_b = sb.doc_id),
         |dirn AS (
         |  SELECT da AS contained, db AS container,
         |    inter / CAST(na AS DOUBLE) AS c
         |  FROM pairs WHERE na > 0
         |  UNION ALL
         |  SELECT db, da, inter / CAST(nb AS DOUBLE) FROM pairs WHERE nb > 0)
         |SELECT contained, container,
         |  CAST(FLOOR(c * 1e6) AS BIGINT) AS containment_micro
         |FROM dirn WHERE c >= 0.5""".stripMargin,
    "p28_corpus_stats" ->
      s"""WITH d AS (
         |  SELECT source, lang, len($oToks) AS n_toks FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
         |  CAST(FLOOR(CAST(SUM(n_toks) AS DOUBLE) * 1000000.0 / COUNT(*)) AS BIGINT)
         |    AS mean_toks_micro,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM d GROUP BY source""".stripMargin,
    "p26_ivf_nprobe" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, cents),
         |cells AS (
         |  SELECT vec_id, embedding, cent_id FROM assign WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id, embedding, cent_id FROM assign
         |  WHERE rn <= 2 AND vec_id < 20),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ${oCos("q.embedding", "c.embedding")} AS sim
         |  FROM probes q JOIN cells c
         |    ON q.cent_id = c.cent_id AND q.vec_id != c.vec_id),
         |ranked AS (
         |  SELECT query_id, cand_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
         |  CAST(FLOOR(sim * 1e6) AS BIGINT) AS sim_micro
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "p73_ivf_tuned" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, cents),
         |cells AS (
         |  SELECT vec_id, embedding, cent_id FROM assign WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id, embedding, cent_id FROM assign
         |  WHERE rn <= 8 AND vec_id < 20),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    ${oCos("q.embedding", "c.embedding")} AS sim
         |  FROM probes q JOIN cells c
         |    ON q.cent_id = c.cent_id AND q.vec_id != c.vec_id),
         |ranked AS (
         |  SELECT query_id, cand_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
         |  CAST(FLOOR(sim * 1e6) AS BIGINT) AS sim_micro
         |FROM ranked WHERE rank <= 3""".stripMargin,
    "p25_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, ${oHash("s")} AS h
         |  FROM (SELECT doc_id, unnest(${oShingles(3)}) AS s
         |        FROM (SELECT doc_id, $oToks AS toks FROM documents))),
         |b AS (SELECT doc_id AS bench_doc, h FROM sh WHERE doc_id % 20 = 0),
         |tr AS (SELECT doc_id AS train_doc, h FROM sh WHERE doc_id % 20 != 0)
         |SELECT train_doc, bench_doc, CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM tr JOIN b USING (h)
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin
  )
}
