package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{ConnectedComponents, Sessionize}
import graft.pipeline.{Bpe, Curation, Dedup, Ingest, Multimodal, Retrieval, Similarity, TextFunctions => TF}

/** DuckDB oracle SQL builders for [[PipelineQueries]] — part 1 of
  * the round-15 split of the 10k-line query file (round-14 review
  * nit #2): the leaf SQL-string helpers, verbatim moves with ZERO
  * behavior change (the composed map lives in [[PipelineOracles2]],
  * which PipelineQueries delegates to). Same portability contract
  * as the query file header.
  */
private[queries] object PipelineOracles {

  import PipelineOracles2.oracle0

  // ------------------------------------------------------------ SQL helpers

  /** DuckDB rendering of [[TF.hash60]]. */
  def oHash(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  val oToks = """string_split_regex(trim(text), '\s+')"""

  /** [[oToks]] over an arbitrary text expression. */
  def oToksOf(e: String): String =
    s"""string_split_regex(trim($e), '\\s+')"""

  /** In-plan absolute planted-query stride — the oracle twin of
    * [[graft.pipeline.Retrieval.plantedSample]]: ceil(count(rel) /
    * budget), so the planted evaluation-query count is ≈`budget` at
    * ANY scale factor instead of a fixed corpus fraction.
    */
  def oQStride(rel: String, budget: Int = 128): String =
    s"(SELECT GREATEST(CAST(1 AS BIGINT), (COUNT(*) + ${budget - 1})" +
      s" // $budget) FROM $rel)"

  /** Shared CTE chain of the p172/p174 oracles — the append fixture:
    * full-corpus temperature weights, base manifest over
    * doc_id % 3 != 0 (`stb`), resumed per-domain counters, and the
    * delta placement after the base token mass (`std`) —
    * Curation.mixtureAppend's arithmetic in flat-window form.
    */
  lazy val oAppendManifestCtes: String =
    s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           |  FROM documents GROUP BY 1),
           |d AS (SELECT list_sum(list_sort(list(sqrt(CAST(n_docs
           |    AS DOUBLE))))) AS denom FROM c),
           |w AS (SELECT source, CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE))
           |    / denom * 1e6) AS BIGINT) AS weight_micro FROM c, d),
           |nb AS (SELECT doc_id, source,
           |    CAST(len($oToks) AS BIGINT) AS n_toks,
           |    ${oHash("'mix' || CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents WHERE doc_id % 3 != 0),
           |kb AS (SELECT doc_id, nb.source, n_toks,
           |    CAST((ROW_NUMBER() OVER (PARTITION BY nb.source
           |        ORDER BY h, doc_id) * 1000000000) // weight_micro
           |      AS BIGINT) AS vtime
           |  FROM nb JOIN w ON nb.source = w.source),
           |stb AS (SELECT *, CAST(SUM(n_toks) OVER (ORDER BY vtime,
           |      source, doc_id ROWS UNBOUNDED PRECEDING) - n_toks
           |    AS BIGINT) AS start_tok FROM kb),
           |i0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS base_i
           |  FROM nb GROUP BY source),
           |t0 AS (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT)
           |    AS tok0 FROM nb),
           |nd AS (SELECT doc_id, source,
           |    CAST(len($oToks) AS BIGINT) AS n_toks,
           |    ${oHash("'mix' || CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents WHERE doc_id % 3 = 0),
           |kd AS (SELECT doc_id, nd.source, n_toks,
           |    CAST(((ROW_NUMBER() OVER (PARTITION BY nd.source
           |          ORDER BY h, doc_id) + COALESCE(base_i, 0))
           |        * 1000000000) // weight_micro
           |      AS BIGINT) AS vtime
           |  FROM nd JOIN w ON nd.source = w.source
           |  LEFT JOIN i0 ON nd.source = i0.source),
           |std AS (SELECT kd.*, CAST(SUM(n_toks) OVER (ORDER BY vtime,
           |      source, doc_id ROWS UNBOUNDED PRECEDING) - n_toks
           |      + tok0 AS BIGINT) AS start_tok
           |  FROM kd, t0)"""
      .stripMargin

  /** Shared CTE chain of the p163/p165 oracles: p50 temperature
    * weights → per-domain hash-ordered sequence → stride virtual
    * times → flat global token prefix sum (the single-window form the
    * two-level scans regroup associatively). Exposes `w (source,
    * weight_micro)` and `st (doc_id, source, n_toks, vtime,
    * start_tok)`.
    */
  lazy val oMixInterleaveCtes: String =
    s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |d AS (SELECT list_sum(list_sort(list(sqrt(CAST(n_docs
       |    AS DOUBLE))))) AS denom FROM c),
       |w AS (SELECT source, CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE))
       |    / denom * 1e6) AS BIGINT) AS weight_micro FROM c, d),
       |n AS (SELECT doc_id, source,
       |    CAST(len($oToks) AS BIGINT) AS n_toks,
       |    ${oHash("'mix' || CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |k AS (SELECT doc_id, n.source, n_toks,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY n.source
       |        ORDER BY h, doc_id) * 1000000000) // weight_micro
       |      AS BIGINT) AS vtime
       |  FROM n JOIN w ON n.source = w.source),
       |st AS (SELECT *, CAST(SUM(n_toks) OVER (ORDER BY vtime,
       |      source, doc_id ROWS UNBOUNDED PRECEDING) - n_toks
       |    AS BIGINT) AS start_tok FROM k)""".stripMargin

  /** DuckDB rendering of [[TF.shingles]] over an in-scope `toks`. */
  def oShingles(k: Int): String = {
    val cat = (0 until k).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")
    s"""CASE WHEN len(toks) >= $k
       |  THEN list_distinct(list_transform(
       |         generate_series(1, len(toks) - ${k - 1}), i -> $cat))
       |  ELSE CAST([] AS VARCHAR[]) END""".stripMargin
  }

  /** CTE pair (`qm`, `q`) rendering [[scoredDocs]]'s floored-micro p09
    * quality score — shared by the canonical-selection and
    * importance-sampling oracles.
    */
  lazy val oScoreCtes: String = {
    val enSet = TF.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""qm AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_toks,
       |    list_sum(list_transform(toks, t -> length(t)))
       |      / CAST(len(toks) AS DOUBLE) AS mean_len,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
       |        / CAST(length(text) AS DOUBLE) END AS punct_ratio,
       |    len(list_filter(toks, t -> lower(t) IN ($enSet)))
       |      / CAST(len(toks) AS DOUBLE) AS stop_ratio
       |  FROM (SELECT doc_id, text, $oToks AS toks FROM documents)),
       |q AS (
       |  SELECT doc_id,
       |    CAST(FLOOR((least(n_toks / 100.0, 1.0) * 0.4
       |      + least(mean_len / 10.0, 1.0) * 0.2
       |      + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2
       |      + least(stop_ratio * 5.0, 1.0) * 0.2) * 1e6) AS BIGINT)
       |      AS score_micro
       |  FROM qm)""".stripMargin
  }

  /** Iteration-by-iteration replay of [[Bpe.train]]: each round's CTEs
    * recount pairs from the previous round's re-segmented vocab, pick
    * the (count DESC, pair ASC) argmax, and apply the greedy
    * non-overlapping merge — consecutive match positions form islands
    * (only possible when lhs = rhs) and every other island position is
    * active, which is exactly the left-to-right scan.
    *
    * Every CTE is `AS MATERIALIZED`: DuckDB inlines plain CTEs, and
    * with each round referencing the previous round's vocab twice the
    * inlined plan doubles per round (n = 16 already exhausts file
    * handles re-scanning the parquet). Materialized, the replay is
    * linear — n = 100 runs in ~6 s at sf0.01. Rounds past pair
    * exhaustion yield an empty `win`, which the UNION ALL skips —
    * mirroring the trainer's early stop.
    */
  def oBpeTrain(n: Int): String =
    oBpeCtes(n) + "\n" + (1 to n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS it, l AS lhs, r AS rhs, " +
        s"pc AS pair_count FROM win$k").mkString("\nUNION ALL\n")

  /** [[oBpeTrain]] with the WordPiece winner rule (likelihood-ratio
    * argmax) — the p118 trajectory replay.
    */
  def oWordPieceTrain(n: Int): String =
    oBpeCtes(n, wordPiece = true) + "\n" + (1 to n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS it, l AS lhs, r AS rhs, " +
        s"pc AS pair_count, score AS score_q12 FROM win$k")
      .mkString("\nUNION ALL\n")

  /** The shared replay chain (w0..wN): each round counts pairs, picks
    * the winner, and re-segments. `m$$k` LEFT-joins the (≤1-row)
    * winner so rounds past pair exhaustion carry the word table
    * through UNCHANGED (`mt` is 0 under a NULL winner) — the train
    * replay reads the `win$$k`s, the encode replay reads the final
    * `w$$N` segmentation.
    */
  def oBpeCtes(n: Int, wordPiece: Boolean = false): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    list_transform(generate_series(1, length(word)),
         |      i -> substr(word, i, 1)) AS syms
         |  FROM (SELECT unnest($oToks) AS word FROM documents)
         |  WHERE length(word) > 0
         |  GROUP BY word)""".stripMargin)
    for (k <- 1 to n) {
      val p = k - 1
      // winner rule: BPE takes the raw pair-count argmax; WordPiece
      // normalizes by the symbol counts (likelihood ratio, exact
      // integer quotient) — the only difference between the replays
      val winner =
        if (wordPiece)
          s"""sc$k AS MATERIALIZED (
             |  SELECT sym, CAST(SUM(cnt) AS BIGINT) AS sc FROM (
             |    SELECT cnt, unnest(syms) AS sym FROM w$p)
             |  GROUP BY sym),
             |win$k AS MATERIALIZED (
             |  SELECT l, r, pc,
             |    (pc * 1000000000000) // (a.sc * b.sc) AS score
             |  FROM c$k JOIN sc$k a ON l = a.sym JOIN sc$k b ON r = b.sym
             |  ORDER BY score DESC, l, r LIMIT 1),""".stripMargin
        else
          s"""win$k AS MATERIALIZED (
             |  SELECT l, r, pc FROM c$k ORDER BY pc DESC, l, r LIMIT 1),"""
            .stripMargin
      sb.append(
        s""",
           |c$k AS MATERIALIZED (
           |  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
           |    SELECT cnt, syms[pos] AS l, syms[pos + 1] AS r FROM (
           |      SELECT cnt, syms,
           |        unnest(generate_series(1, len(syms) - 1)) AS pos
           |      FROM w$p WHERE len(syms) >= 2))
           |  GROUP BY l, r),
           |$winner
           |m$k AS MATERIALIZED (
           |  SELECT word, cnt, syms, pos,
           |    CASE WHEN pos < len(syms) AND syms[pos] = win.l
           |         AND syms[pos + 1] = win.r THEN 1 ELSE 0 END AS mt
           |  FROM (SELECT word, cnt, syms,
           |          unnest(generate_series(1, len(syms))) AS pos
           |        FROM w$p) b LEFT JOIN win$k win ON 1 = 1),
           |g$k AS MATERIALIZED (
           |  SELECT word, cnt, syms, pos,
           |    CASE WHEN mt = 1 AND (pos - MIN(pos) OVER (PARTITION BY word, grp))
           |         % 2 = 0 THEN 1 ELSE 0 END AS act
           |  FROM (SELECT *, CASE WHEN mt = 1 THEN pos - ROW_NUMBER()
           |          OVER (PARTITION BY word, mt ORDER BY pos) END AS grp
           |        FROM m$k)),
           |w$k AS MATERIALIZED (
           |  SELECT word, cnt,
           |    list(CASE WHEN act = 1 THEN syms[pos] || syms[pos + 1]
           |         ELSE syms[pos] END ORDER BY pos) AS syms
           |  FROM (SELECT *, LAG(act, 1, 0) OVER (PARTITION BY word ORDER BY pos)
           |          AS pa FROM g$k)
           |  WHERE pa = 0 GROUP BY word, cnt)""".stripMargin)
    }
    sb.toString
  }

  /** The encode replay: the same CTE chain, final segmentation joined
    * back to every word position of every document.
    */
  def oBpeEncode(n: Int, wordPiece: Boolean = false): String =
    s"""${oBpeCtes(n, wordPiece)}
       |SELECT d.doc_id, CAST(d.pos - 1 AS BIGINT) AS pos,
       |  CAST(len(w.syms) AS BIGINT) AS n_tokens,
       |  array_to_string(w.syms, ' ') AS tokens
       |FROM (SELECT doc_id, toks[pos] AS word, pos
       |      FROM (SELECT doc_id, toks,
       |              unnest(generate_series(1, len(toks))) AS pos
       |            FROM (SELECT doc_id, $oToks AS toks FROM documents))
       |      WHERE length(toks[pos]) > 0) d
       |JOIN w$n w ON w.word = d.word""".stripMargin

  /** p138 replay: exhaustive-pair near-dup edges, out-degrees, and
    * `iters` MATERIALIZED rounds of the integer PageRank recurrence —
    * the same `((pr·850000) div 10⁶) div outdeg` share order and
    * 150000 teleport as [[graft.operators.PageRank]].
    */
  def oPagerank(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      s"""pr$k AS MATERIALIZED (
         |  SELECT n.node, CAST(150000 + COALESCE(SUM(s.share), 0)
         |      AS BIGINT) AS pr
         |  FROM gn n LEFT JOIN (
         |    SELECT e.dst, ((p.pr * 850000) // 1000000) // d.outdeg
         |        AS share
         |    FROM ge e JOIN gd d ON e.src = d.src
         |    JOIN pr$p p ON e.src = p.node) s ON s.dst = n.node
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH gp AS MATERIALIZED (SELECT doc_a, doc_b FROM
       |  (${oJaccardPairs(4, 0.4)})),
       |ge AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM gp
       |  UNION SELECT doc_b AS src, doc_a AS dst FROM gp),
       |gd AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM ge
       |  GROUP BY src),
       |gn AS (SELECT doc_id AS node FROM documents),
       |pr0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS pr
       |  FROM gn),
       |$rounds
       |SELECT node AS doc_id, pr AS pr_micro FROM pr$iters"""
      .stripMargin
  }

  /** Expanded-BM25 replay for p144: the [[oBm25Ctes]] postings/stat
    * tables, the p116 PMI chain, the per-term top-1 collocate window
    * over the top-100 table, MAX-merged integer weights, and the
    * weighted score — final select is the ranked top-10.
    */
  lazy val oBm25PmiExpanded: String = {
    val k1 = 1.2; val b = 0.75
    val avgdl = "(CAST(st.sdl AS DOUBLE) / CAST(st.nd AS DOUBLE))"
    val idf = "ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(f.df AS DOUBLE)" +
      " + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))"
    val norm = s"(CAST(p.tf AS DOUBLE) * ${k1 + 1}" +
      s" / (CAST(p.tf AS DOUBLE) + $k1 * (${1 - b}" +
      s" + $b * (CAST(d.dl AS DOUBLE) / $avgdl))))"
    s"""WITH base AS (SELECT doc_id, $oToks AS toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
       |         CAST(SUM(dl) AS BIGINT) AS sdl FROM dl),
       |post AS (
       |  SELECT tok, doc_id, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
       |  GROUP BY tok, doc_id),
       |qt AS (
       |  SELECT doc_id AS query_id, toks[i] AS tok
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, least(len(toks), 4))) AS i
       |        FROM base WHERE doc_id % ${oQStride("base")} = 0)
       |  GROUP BY 1, 2),
       |occ AS (
       |  SELECT toks[i] AS cur,
       |    CASE WHEN i > 1 THEN toks[i - 1] END AS prev
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks))) AS i FROM base)),
       |uni AS (SELECT cur AS tok, COUNT(*) AS cu FROM occ GROUP BY cur),
       |tot AS (SELECT SUM(cu) AS t FROM uni),
       |bg AS (SELECT prev, cur, COUNT(*) AS cxy FROM occ
       |       WHERE prev IS NOT NULL GROUP BY prev, cur
       |       HAVING COUNT(*) >= 5),
       |bt AS (SELECT COUNT(*) AS bt FROM occ WHERE prev IS NOT NULL),
       |pmisc AS (
       |  SELECT b.prev AS tok_a, b.cur AS tok_b,
       |    CAST(FLOOR(ln(
       |      (CAST(b.cxy AS DOUBLE) / CAST(bt.bt AS DOUBLE))
       |      / ((CAST(ux.cu AS DOUBLE) / CAST(tot.t AS DOUBLE))
       |         * (CAST(uy.cu AS DOUBLE) / CAST(tot.t AS DOUBLE))))
       |      * 1000000.0) AS BIGINT) AS pmi_micro
       |  FROM bg b JOIN uni ux ON b.prev = ux.tok
       |  JOIN uni uy ON b.cur = uy.tok CROSS JOIN tot CROSS JOIN bt),
       |coll AS (
       |  SELECT tok_a, tok_b, pmi_micro,
       |    ROW_NUMBER() OVER (ORDER BY pmi_micro DESC, tok_a, tok_b)
       |      AS rank
       |  FROM pmisc),
       |top1 AS (
       |  SELECT tok_a, tok_b FROM (
       |    SELECT tok_a, tok_b,
       |      ROW_NUMBER() OVER (PARTITION BY tok_a
       |        ORDER BY pmi_micro DESC, tok_b ASC) AS r
       |    FROM coll WHERE rank <= 100)
       |  WHERE r = 1),
       |wq AS (
       |  SELECT query_id, tok, MAX(w) AS w FROM (
       |    SELECT query_id, tok, 2 AS w FROM qt
       |    UNION ALL
       |    SELECT q.query_id, t.tok_b AS tok, 1 AS w
       |    FROM qt q JOIN top1 t ON q.tok = t.tok_a)
       |  GROUP BY query_id, tok),
       |dfq AS (
       |  SELECT p.tok, COUNT(*) AS df FROM post p
       |  WHERE p.tok IN (SELECT DISTINCT tok FROM wq)
       |  GROUP BY p.tok),
       |sc AS (
       |  SELECT q.query_id, p.doc_id, COUNT(*) AS n_terms,
       |    CAST(SUM(CAST(FLOOR($idf * $norm * 1000000.0) AS BIGINT)
       |             * q.w) AS BIGINT) AS score_micro
       |  FROM post p
       |  JOIN wq q ON p.tok = q.tok
       |  JOIN dfq f ON p.tok = f.tok
       |  JOIN dl d ON p.doc_id = d.doc_id
       |  CROSS JOIN st
       |  GROUP BY q.query_id, p.doc_id),
       |rk AS (
       |  SELECT query_id, doc_id, n_terms, score_micro,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rank
       |  FROM sc)
       |SELECT query_id, doc_id, rank FROM rk WHERE rank <= 10"""
      .stripMargin
  }

  /** χ² feature-selection replay for p143: the funnel-label CTEs (as
    * [[oNbClassifier]]), distinct token presences, exact int64
    * contingency cells, and the single fixed-order double ratio.
    */
  lazy val oChiSquare: String =
    s"""WITH g AS (${oGopherRules(minWords = 20, minStop = 1)}),
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
       |pres AS (SELECT DISTINCT doc_id, tok FROM
       |  (SELECT doc_id, unnest($oToks) AS tok FROM documents)),
       |lt AS (SELECT p.tok, lab.cls
       |       FROM pres p JOIN lab ON p.doc_id = lab.doc_id),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |               CAST(SUM(cls) AS BIGINT) AS npos FROM lab),
       |cells AS (SELECT tok, CAST(SUM(cls) AS BIGINT) AS n11,
       |                 CAST(COUNT(*) - SUM(cls) AS BIGINT) AS n10
       |          FROM lt GROUP BY tok),
       |sc AS (SELECT tok, n11, n10, npos - n11 AS n01,
       |              n - npos - n10 AS n00, n, npos FROM cells, tot),
       |x AS (SELECT tok, n11, n10,
       |  CASE WHEN (CAST(n11 + n10 AS DOUBLE) * CAST(n01 + n00 AS DOUBLE)
       |             * CAST(npos AS DOUBLE) * CAST(n - npos AS DOUBLE)) = 0
       |       THEN CAST(0 AS BIGINT)
       |       ELSE CAST(FLOOR(CAST(n AS DOUBLE)
       |         * CAST(n11 * n00 - n10 * n01 AS DOUBLE)
       |         * CAST(n11 * n00 - n10 * n01 AS DOUBLE)
       |         / (CAST(n11 + n10 AS DOUBLE) * CAST(n01 + n00 AS DOUBLE)
       |            * CAST(npos AS DOUBLE) * CAST(n - npos AS DOUBLE))
       |         * 1e6) AS BIGINT) END AS chi2_micro
       |  FROM sc),
       |r AS (SELECT *, ROW_NUMBER() OVER
       |        (ORDER BY chi2_micro DESC, tok ASC) AS rank FROM x)
       |SELECT CAST(rank AS BIGINT) AS rank, tok AS token, n11, n10,
       |  chi2_micro
       |FROM r WHERE rank <= 50""".stripMargin

  /** ARI replay for p142: both exhaustive near-dup pair scans (4-gram
    * Jaccard and SimHash), both recursive min-id closures, singleton
    * fill-in over the full corpus, and the exact pair-count sums with
    * the single double division at the end.
    */
  lazy val oDetectorAgreement: String =
    s"""WITH RECURSIVE ${oPairCtes(4, 0.4)},
       |je AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |       UNION SELECT doc_b, doc_a FROM pairs),
       |jreach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM je)
       |  UNION
       |  SELECT r.u, e.v FROM jreach r JOIN je e ON r.v = e.u),
       |ja AS (SELECT u AS doc_id, MIN(v) AS cl FROM jreach GROUP BY u),
       |sims AS (
       |  SELECT doc_id, $oSimhash AS sim
       |  FROM (SELECT doc_id,
       |          list_transform($oToks, t -> ${oHash("t")}) AS hl
       |        FROM documents)),
       |sp AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sim, b.sim)) <= 2),
       |se AS (SELECT doc_a AS u, doc_b AS v FROM sp
       |       UNION SELECT doc_b, doc_a FROM sp),
       |sreach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM se)
       |  UNION
       |  SELECT r.u, e.v FROM sreach r JOIN se e ON r.v = e.u),
       |sa2 AS (SELECT u AS doc_id, MIN(v) AS cl FROM sreach GROUP BY u),
       |pa AS (SELECT d.doc_id, COALESCE(ja.cl, d.doc_id) AS ca
       |       FROM documents d LEFT JOIN ja ON d.doc_id = ja.doc_id),
       |pb AS (SELECT d.doc_id, COALESCE(sa2.cl, d.doc_id) AS cb
       |       FROM documents d LEFT JOIN sa2 ON d.doc_id = sa2.doc_id),
       |cells AS (SELECT ca, cb, CAST(COUNT(*) AS BIGINT) AS nij
       |          FROM pa JOIN pb ON pa.doc_id = pb.doc_id GROUP BY ca, cb),
       |t1 AS (SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sij,
       |              CAST(SUM(nij) AS BIGINT) AS n FROM cells),
       |t2 AS (SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS sa FROM
       |  (SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY ca)),
       |t3 AS (SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS sb FROM
       |  (SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY cb)),
       |f AS (SELECT n, sij, sa, sb, (n * (n - 1)) // 2 AS cn2
       |      FROM t1, t2, t3)
       |SELECT n, sij AS sum_nij_c2, sa AS sum_a_c2, sb AS sum_b_c2,
       |  CASE WHEN (cn2 * (sa + sb) - 2 * sa * sb) = 0
       |       THEN CAST(1000000 AS BIGINT)
       |       ELSE CAST(FLOOR(
       |         CAST(2 * cn2 * sij - 2 * sa * sb AS DOUBLE)
       |           / CAST(cn2 * (sa + sb) - 2 * sa * sb AS DOUBLE) * 1e6)
       |         AS BIGINT) END AS ari_micro
       |FROM f""".stripMargin

  /** Triangle replay over the p138 edge set: exhaustive pairs, the
    * (degree, id) compact-forward orientation, wedge-close joins, and
    * the per-node roll-up — the p141 oracle.
    */
  lazy val oTriangles: String =
    s"""WITH gp AS MATERIALIZED (SELECT doc_a, doc_b FROM
       |  (${oJaccardPairs(4, 0.4)})),
       |deg AS MATERIALIZED (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
       |  (SELECT doc_a AS n FROM gp UNION ALL SELECT doc_b AS n FROM gp)
       |  GROUP BY n),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND gp.doc_a < gp.doc_b)
       |              THEN gp.doc_a ELSE gp.doc_b END AS src,
       |         CASE WHEN da.d < db.d OR (da.d = db.d AND gp.doc_a < gp.doc_b)
       |              THEN gp.doc_b ELSE gp.doc_a END AS dst
       |  FROM gp JOIN deg da ON gp.doc_a = da.n
       |          JOIN deg db ON gp.doc_b = db.n),
       |tri AS MATERIALIZED (
       |  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
       |  FROM o o1 JOIN o o2 ON o1.dst = o2.src
       |  JOIN o o3 ON o3.src = o1.src AND o3.dst = o2.dst),
       |tc AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM
       |  (SELECT a AS n FROM tri UNION ALL SELECT b AS n FROM tri
       |   UNION ALL SELECT c AS n FROM tri) GROUP BY n)
       |SELECT deg.n AS doc_id, deg.d AS degree,
       |  COALESCE(tc.t, CAST(0 AS BIGINT)) AS tri_count
       |FROM deg LEFT JOIN tc ON deg.n = tc.n""".stripMargin

  /** k-core replay over the p138 edge set: exhaustive pairs, then for
    * each k the full sequence of simultaneous peel rounds as
    * materialized CTEs (degree count, survivor filter, edge
    * restriction) — the p154 oracle.
    */
  def oKCore(ks: Seq[Int], rounds: Int): String = {
    def peel(tag: String, k: Int): String =
      (1 to rounds).map { r =>
        val prev = if (r == 1) "ge0" else s"${tag}e${r - 1}"
        s"""${tag}a$r AS MATERIALIZED (SELECT src FROM $prev
           |  GROUP BY src HAVING COUNT(*) >= $k),
           |${tag}e$r AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM $prev e
           |  JOIN ${tag}a$r s ON e.src = s.src
           |  JOIN ${tag}a$r d ON e.dst = d.src)""".stripMargin
      }.mkString(",\n")
    val peels = ks.map(k => peel(s"k$k", k)).mkString(",\n")
    val selects = ks.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k, src AS doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM k${k}e$rounds GROUP BY src""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH gp AS MATERIALIZED (SELECT doc_a, doc_b FROM
       |  (${oJaccardPairs(4, 0.4)})),
       |ge0 AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM gp
       |  UNION SELECT doc_b AS src, doc_a AS dst FROM gp),
       |$peels
       |$selects""".stripMargin
  }

  /** p156 replay: the exhaustive near-dup pair scan and recursive
    * closure (the p151 decision CTEs), then the ENTIRE BM25 scoring
    * chain built twice — once from the full corpus, once from the
    * min-id-cut survivor set — against the one shared planted-prefix
    * query table, each chain ending in its scorecard row.
    */
  lazy val oDedupRetrievalImpact: String = {
    val k1 = 1.2; val b = 0.75
    val avgdl = "(CAST(st.sdl AS DOUBLE) / CAST(st.nd AS DOUBLE))"
    val idf = "ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(f.df AS DOUBLE)" +
      " + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))"
    val norm = s"(CAST(p.tf AS DOUBLE) * ${k1 + 1}" +
      s" / (CAST(p.tf AS DOUBLE) + $k1 * (${1 - b}" +
      s" + $b * (CAST(d.dl AS DOUBLE) / $avgdl))))"
    def chain(px: String, baseRel: String): String =
      s"""${px}dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl
         |  FROM $baseRel),
         |${px}st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         |  CAST(SUM(dl) AS BIGINT) AS sdl FROM ${px}dl),
         |${px}post AS (
         |  SELECT tok, doc_id, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS tok FROM $baseRel)
         |  GROUP BY tok, doc_id),
         |${px}dfq AS (
         |  SELECT p.tok, COUNT(*) AS df FROM ${px}post p
         |  WHERE p.tok IN (SELECT DISTINCT tok FROM qt)
         |  GROUP BY p.tok),
         |${px}sc AS (
         |  SELECT q.query_id, p.doc_id,
         |    CAST(SUM(CAST(FLOOR($idf * $norm * 1000000.0) AS BIGINT))
         |      AS BIGINT) AS score_micro
         |  FROM ${px}post p
         |  JOIN qt q ON p.tok = q.tok
         |  JOIN ${px}dfq f ON p.tok = f.tok
         |  JOIN ${px}dl d ON p.doc_id = d.doc_id
         |  CROSS JOIN ${px}st st
         |  GROUP BY q.query_id, p.doc_id),
         |${px}rk10 AS (
         |  SELECT query_id, doc_id, rank FROM (
         |    SELECT query_id, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY score_micro DESC, doc_id) AS rank
         |    FROM ${px}sc)
         |  WHERE rank <= 10)""".stripMargin
    s"""WITH RECURSIVE alldocs AS MATERIALIZED (
       |  SELECT doc_id, $oToks AS toks FROM documents),
       |${oPairCtes(4, 0.4, toksRel = "alldocs")},
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |dec AS (SELECT u AS doc_id,
       |    CASE WHEN u = MIN(v) THEN 1 ELSE 0 END AS keep
       |  FROM reach GROUP BY u),
       |qt AS (
       |  SELECT doc_id AS query_id, toks[i] AS tok
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, least(len(toks), 4))) AS i
       |        FROM alldocs WHERE doc_id % ${oQStride("alldocs")} = 0)
       |  GROUP BY 1, 2),
       |fbase AS (SELECT * FROM alldocs),
       |dbase AS (
       |  SELECT a.* FROM alldocs a
       |  LEFT JOIN dec ON a.doc_id = dec.doc_id
       |  WHERE COALESCE(dec.keep, 1) = 1),
       |${chain("f", "fbase")},
       |${chain("d", "dbase")}
       |${oScorecardRow("frk10", "full")}
       |UNION ALL
       |${oScorecardRow("drk10", "dedup_minid")}""".stripMargin
  }

  /** Bounded near-dup pair CTE chain — the oracle-side cost-diet twin
    * of the engine's own inverted-index candidate generation. Emits
    * CTEs `sh`, `ndposts`, `ndsz`, `ndcand`, and
    * `pairs(doc_a, doc_b[, j])`.
    *
    * EXACT, not approximate: for any threshold > 0 a qualifying pair
    * shares at least one k-shingle, so the shingle-equality self-join
    * finds every such pair; and because [[oShingles]] emits
    * `list_distinct` lists, the per-pair match count IS the
    * intersection size, giving J = inter / (|A| + |B| - inter)
    * exactly. Equivalence with the old exhaustive O(N²) scan is
    * pinned by `tools/oracle_equiv.py` (byte-identical result sets at
    * sf0.01 and an sf0.1 slice); cost drops from O(N²) string-list
    * intersections (~7 s at sf0.01, >5 min at sf0.1, replayed per CTE
    * reference by DuckDB's inlining) to O(Σ f_g²) grouped integer
    * counting behind a MATERIALIZED barrier (~0.05 s / ~0.8 s).
    *
    * `toksRel` is the relation exposing (doc_id, toks) — override when
    * an embedding oracle already has a token CTE (e.g. `alldocs`).
    */
  def oPairCtes(k: Int, threshold: Double,
      withJ: Boolean = false,
      toksRel: String = ""): String = {
    val toks =
      if (toksRel.nonEmpty) toksRel
      else s"(SELECT doc_id, $oToks AS toks FROM documents)"
    val j = "c.inter / CAST(sa.n + sb.n - c.inter AS DOUBLE)"
    val jcol = if (withJ) s",\n    $j AS j" else ""
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id, ${oShingles(k)} AS sh
       |  FROM $toks),
       |ndposts AS (SELECT doc_id, unnest(sh) AS g FROM sh),
       |ndsz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM sh),
       |ndcand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM ndposts a JOIN ndposts b
       |    ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b$jcol
       |  FROM ndcand c JOIN ndsz sa ON c.doc_a = sa.doc_id
       |  JOIN ndsz sb ON c.doc_b = sb.doc_id
       |  WHERE $j >= $threshold)""".stripMargin
  }

  /** Pair-Jaccard oracle shared by the dedup queries — the
    * [[oPairCtes]] inverted-index formulation (exact; see there). */
  def oJaccardPairs(k: Int, threshold: Double): String =
    s"""WITH ${oPairCtes(k, threshold, withJ = true)}
       |SELECT doc_a, doc_b, CAST(FLOOR(j * 1e6) AS BIGINT) AS jaccard_micro
       |FROM pairs""".stripMargin

  // ------------------------------------------------------------ oracle SQL

  /** DuckDB cosine between two in-scope DOUBLE-list expressions, same
    * op order as [[Similarity.cosine]].
    */
  def oCos(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |    * sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin

  /** The IVF-PQ ADC replay shared by p74 and p83: coarse assignment,
    * per-subspace code assignment (m=4 over dim 64, codebook vec_id<8,
    * coarse centroids vec_id%25=0), probe set (nprobe=4, queries
    * vec_id<20) and the asymmetric distance of every in-probe
    * candidate — the CTE chain ends at `ad(query_id, cand_id, adist)`.
    */
  lazy val oIvfPqAd: String = {
    def oDotAt(a: String, b: String, s: Int): String =
      s"""list_sum(list_transform(generate_series(1, 16),
         |        i -> CAST($a[${s * 16} + i] AS DOUBLE)
         |             * CAST($b[${s * 16} + i] AS DOUBLE)))""".stripMargin
    def oD2At(a: String, b: String, s: Int): String =
      s"""(${oDotAt(a, a, s)}
         |     - 2 * ${oDotAt(a, b, s)}
         |     + ${oDotAt(b, b, s)})""".stripMargin
    val terms = (0 until 4)
      .map(s => oD2At("q.qv", s"e$s.ce", s)).mkString("\n    + ")
    s"""WITH ccents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |  WHERE vec_id % 25 = 0),
       |assign AS (
       |  SELECT e.vec_id, cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
       |  FROM embeddings e, ccents),
       |cells AS (SELECT vec_id, cent_id FROM assign WHERE rn = 1),
       |probes AS (SELECT vec_id, cent_id FROM assign
       |           WHERE rn <= 4 AND vec_id < 20),
       |pcents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |  WHERE vec_id < 8),
       |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |scored AS (
       |  SELECT e.vec_id, subs.s, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, subs.s ORDER BY
       |      (list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(e.embedding[subs.s*16 + i] AS DOUBLE)
       |              * CAST(e.embedding[subs.s*16 + i] AS DOUBLE)))
       |       - 2 * list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(e.embedding[subs.s*16 + i] AS DOUBLE)
       |              * CAST(c.ce[subs.s*16 + i] AS DOUBLE)))
       |       + list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(c.ce[subs.s*16 + i] AS DOUBLE)
       |              * CAST(c.ce[subs.s*16 + i] AS DOUBLE)))) ASC,
       |      c.cent_id ASC) AS rn
       |  FROM embeddings e, pcents c, subs),
       |codesw AS (
       |  SELECT vec_id,
       |    MAX(CASE WHEN s = 0 THEN cent_id END) AS c0,
       |    MAX(CASE WHEN s = 1 THEN cent_id END) AS c1,
       |    MAX(CASE WHEN s = 2 THEN cent_id END) AS c2,
       |    MAX(CASE WHEN s = 3 THEN cent_id END) AS c3
       |  FROM scored WHERE rn = 1 GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |      WHERE vec_id < 20),
       |ad AS (
       |  SELECT q.query_id, w.vec_id AS cand_id,
       |    ($terms) AS adist
       |  FROM q
       |  JOIN probes pr ON pr.vec_id = q.query_id
       |  JOIN cells cc ON cc.cent_id = pr.cent_id
       |  JOIN codesw w ON w.vec_id = cc.vec_id
       |  JOIN pcents e0 ON e0.cent_id = w.c0
       |  JOIN pcents e1 ON e1.cent_id = w.c1
       |  JOIN pcents e2 ON e2.cent_id = w.c2
       |  JOIN pcents e3 ON e3.cent_id = w.c3
       |  WHERE q.query_id != w.vec_id)""".stripMargin
  }

  /** The p83 refine replay: ADC top-20 shortlist from [[oIvfPqAd]],
    * exact-cosine re-rank to top-5 (shared with the p56 scorecard's
    * refine row).
    */
  lazy val oIvfPqRefineSql: String =
    s"""$oIvfPqAd,
       |sl AS (
       |  SELECT query_id, cand_id, rn AS adc_rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY adist ASC, cand_id ASC) AS rn FROM ad)
       |  WHERE rn <= 20),
       |rer AS (
       |  SELECT sl.query_id, sl.cand_id, sl.adc_rank,
       |    ${oCos("qe.embedding", "ce.embedding")} AS sim
       |  FROM sl
       |  JOIN embeddings qe ON qe.vec_id = sl.query_id
       |  JOIN embeddings ce ON ce.vec_id = sl.cand_id)
       |SELECT query_id, CAST(rn AS BIGINT) AS rank, cand_id,
       |  CAST(FLOOR(sim * 1e6) AS BIGINT) AS sim_micro,
       |  CAST(adc_rank AS BIGINT) AS adc_rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, cand_id ASC) AS rn FROM rer)
       |WHERE rn <= 5""".stripMargin

  /** The p87 unigram-tokenizer replay: one Viterbi round = the pc
    * matrix (per-word (start, len) cost slots in matrix order), a
    * recursive-CTE DP carrying the cost vector as a list, and the
    * smallest-split-point backtrace — chained twice with the EM
    * recount/recost between rounds.
    */
  def oUnigramTokenizer(vocabSize: Int, maxLen: Int): String =
    s"""${oUnigramCtes(vocabSize, maxLen)}
       |SELECT word, freq, CAST(len(pieces) AS BIGINT) AS n_pieces,
       |  array_to_string(pieces, ' ') AS segmentation,
       |  CAST(total AS BIGINT) AS cost_micro
       |FROM seg1""".stripMargin

  /** p88: the trained segmentation applied back to every corpus word
    * position (the unigram sibling of [[oBpeEncode]]).
    */
  def oUnigramEncode(vocabSize: Int, maxLen: Int): String =
    s"""${oUnigramCtes(vocabSize, maxLen)}
       |SELECT d.doc_id, CAST(d.pos - 1 AS BIGINT) AS pos,
       |  CAST(len(w.pieces) AS BIGINT) AS n_tokens,
       |  array_to_string(w.pieces, ' ') AS tokens
       |FROM (SELECT doc_id, toks[pos] AS word, pos
       |      FROM (SELECT doc_id, toks,
       |              unnest(generate_series(1, len(toks))) AS pos
       |            FROM (SELECT doc_id, $oToks AS toks FROM documents))
       |      WHERE length(toks[pos]) > 0) d
       |JOIN seg1 w ON w.word = d.word""".stripMargin

  /** The shared p87/p88 replay chain, ending at
    * `seg1(word, freq, pieces, total)`.
    */
  def oUnigramCtes(vocabSize: Int, maxLen: Int): String = {
    def rnd(n: Int, cost: String): String =
      s"""mat$n AS (
         |  SELECT w.word, w.freq,
         |    list(CASE WHEN s.start + l.len - 1 <= length(w.word)
         |         THEN c.cost END
         |         ORDER BY s.start, l.len) AS pc
         |  FROM wrd w
         |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS start) s
         |  CROSS JOIN (SELECT unnest(generate_series(1, $maxLen)) AS len) l
         |  LEFT JOIN $cost c ON c.piece = substr(w.word, s.start, l.len)
         |  WHERE s.start <= length(w.word)
         |  GROUP BY w.word, w.freq),
         |dp$n AS (
         |  SELECT m.word, m.freq, m.pc, 0 AS i, [CAST(0 AS BIGINT)] AS costs
         |  FROM mat$n m
         |  UNION ALL
         |  SELECT word, freq, pc, i + 1,
         |    list_append(costs, (
         |      SELECT MIN(costs[j + 1] + pc[j * $maxLen + (i + 1 - j)])
         |      FROM (SELECT unnest(generate_series(
         |              CASE WHEN i + 1 - $maxLen > 0
         |              THEN i + 1 - $maxLen ELSE 0 END,
         |              i)) AS j)
         |      WHERE pc[j * $maxLen + (i + 1 - j)] IS NOT NULL))
         |  FROM dp$n WHERE i < length(word)),
         |dpf$n AS (SELECT word, freq, pc, costs FROM dp$n
         |          WHERE i = length(word)),
         |bt$n AS (
         |  SELECT word, freq, pc, costs, length(word) AS pos,
         |    CAST([] AS VARCHAR[]) AS pieces
         |  FROM dpf$n
         |  UNION ALL
         |  SELECT word, freq, pc, costs, jstar,
         |    list_prepend(substr(word, jstar + 1, pos - jstar), pieces)
         |  FROM (
         |    SELECT word, freq, pc, costs, pos, pieces, (
         |      SELECT MIN(j)
         |      FROM (SELECT unnest(generate_series(
         |              CASE WHEN pos - $maxLen > 0
         |              THEN pos - $maxLen ELSE 0 END,
         |              pos - 1)) AS j)
         |      WHERE pc[j * $maxLen + (pos - j)] IS NOT NULL
         |        AND costs[j + 1] + pc[j * $maxLen + (pos - j)]
         |            = costs[pos + 1]) AS jstar
         |    FROM bt$n WHERE pos > 0) s),
         |seg$n AS (
         |  SELECT word, freq, pieces, costs[length(word) + 1] AS total
         |  FROM bt$n WHERE pos = 0)""".stripMargin
    s"""WITH RECURSIVE
       |wrd AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($oToks) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY w),
       |grid AS (
       |  SELECT substr(w.word, s.start, l.len) AS piece, w.freq
       |  FROM wrd w
       |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS start) s
       |  CROSS JOIN (SELECT unnest(generate_series(1, $maxLen)) AS len) l
       |  WHERE s.start + l.len - 1 <= length(w.word)),
       |sp AS (SELECT piece, SUM(freq) AS c FROM grid GROUP BY piece),
       |sing AS (SELECT piece, c FROM sp WHERE length(piece) = 1),
       |mult AS (SELECT piece, c,
       |           ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS rn
       |         FROM sp WHERE length(piece) > 1),
       |voc AS (SELECT piece, c FROM sing
       |        UNION ALL
       |        SELECT piece, c FROM mult
       |        WHERE rn <= $vocabSize - (SELECT COUNT(*) FROM sing)),
       |cost0 AS (
       |  SELECT piece, CAST(FLOOR(-ln((c + 1)
       |    / CAST((SELECT SUM(c) FROM voc) + (SELECT COUNT(*) FROM voc)
       |           AS DOUBLE)) * 1e6) AS BIGINT) AS cost
       |  FROM voc),
       |${rnd(0, "cost0")},
       |cnt1 AS (
       |  SELECT p AS piece, SUM(freq) AS c
       |  FROM (SELECT unnest(pieces) AS p, freq FROM seg0) GROUP BY p),
       |cost1 AS (
       |  SELECT v.piece, CAST(FLOOR(-ln((COALESCE(c1.c, 0) + 1)
       |    / CAST((SELECT COALESCE(SUM(c), 0) FROM cnt1)
       |           + (SELECT COUNT(*) FROM voc) AS DOUBLE)) * 1e6)
       |    AS BIGINT) AS cost
       |  FROM voc v LEFT JOIN cnt1 c1 ON v.piece = c1.piece),
       |${rnd(1, "cost1")}""".stripMargin
  }

  /** The p21 Lloyd step chained `iters` times: each round assigns by
    * cosine (ties to the smaller centroid id), takes fixed-point
    * per-dimension means, and rebuilds the next round's centroid lists
    * as `CAST(mean_fixed / 1e6 AS FLOAT)` — the same two IEEE ops
    * [[Similarity.kmeansTrain]] performs driver-side.
    */
  def oKmeansTrain(iters: Int): String = {
    val sb = new StringBuilder(
      """WITH cents0 AS (
        |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
        |  WHERE vec_id % 25 = 0)""".stripMargin)
    for (it <- 0 until iters) {
      sb ++= s""",
         |assign$it AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, cents$it),
         |means$it AS (
         |  SELECT cent_id, i - 1 AS dim, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(FLOOR(SUM(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6)) / COUNT(*)) AS BIGINT) AS mean_fixed
         |  FROM (SELECT * FROM assign$it WHERE rn = 1)
         |  CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) s
         |  GROUP BY 1, 2)""".stripMargin
      if (it < iters - 1) sb ++= s""",
         |cents${it + 1} AS (
         |  SELECT cent_id,
         |    list(CAST(CAST(mean_fixed AS DOUBLE) / 1000000.0 AS FLOAT) ORDER BY dim) AS ce
         |  FROM means$it GROUP BY cent_id)""".stripMargin
    }
    sb ++= s"""
       |SELECT cent_id, CAST(dim AS BIGINT) AS dim, n, mean_fixed
       |FROM means${iters - 1}""".stripMargin
    sb.toString
  }

  /** Per-modulus k-means quality replay: the [[oKmeansTrain]] chain
    * (CTEs suffixed per modulus so all fits share one WITH), final
    * centroid assignment ranked to best + runner-up cell, per-vector
    * micro distances, the simplified-silhouette floor-division, then
    * one card row per modulus — the p140 oracle.
    */
  def oClusterQuality(moduli: Seq[Int], iters: Int): String = {
    def fd(x: String, m: String) =
      s"(($x) - ((($x) % ($m)) + ($m)) % ($m)) // ($m)"
    val blocks = moduli.map { m =>
      val sb = new StringBuilder(
        s"""c${m}_cents0 AS (
           |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
           |  WHERE vec_id % $m = 0)""".stripMargin)
      for (it <- 0 until iters) {
        sb ++= s""",
           |c${m}_assign$it AS (
           |  SELECT e.vec_id, e.embedding, cent_id,
           |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
           |  FROM embeddings e, c${m}_cents$it),
           |c${m}_means$it AS (
           |  SELECT cent_id, i - 1 AS dim, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(FLOOR(SUM(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6)) / COUNT(*)) AS BIGINT) AS mean_fixed
           |  FROM (SELECT * FROM c${m}_assign$it WHERE rn = 1)
           |  CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) s
           |  GROUP BY 1, 2),
           |c${m}_cents${it + 1} AS (
           |  SELECT cent_id,
           |    list(CAST(CAST(mean_fixed AS DOUBLE) / 1000000.0 AS FLOAT) ORDER BY dim) AS ce
           |  FROM c${m}_means$it GROUP BY cent_id)""".stripMargin
      }
      sb ++= s""",
         |c${m}_rank AS (
         |  SELECT e.vec_id, cent_id,
         |    1000000 - CAST(FLOOR(${oCos("e.embedding", "ce")} * 1e6) AS BIGINT) AS d,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, c${m}_cents$iters),
         |c${m}_ab AS (
         |  SELECT vec_id,
         |    MAX(CASE WHEN rn = 1 THEN d END) AS a,
         |    MAX(CASE WHEN rn = 1 THEN cent_id END) AS cell,
         |    MAX(CASE WHEN rn = 2 THEN d END) AS b
         |  FROM c${m}_rank WHERE rn <= 2 GROUP BY vec_id),
         |c${m}_s AS (
         |  SELECT vec_id, a, cell,
         |    CASE WHEN GREATEST(a, b) = 0 THEN 0
         |         ELSE ${fd("(b - a) * 1000000", "GREATEST(a, b)")} END AS s
         |  FROM c${m}_ab),
         |c${m}_card AS (
         |  SELECT CAST($m AS BIGINT) AS modulus,
         |    CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |    CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells,
         |    CAST(SUM(a) AS BIGINT) AS inertia_micro,
         |    CAST(${fd("CAST(SUM(s) AS BIGINT)", "COUNT(*)")} AS BIGINT) AS silhouette_micro
         |  FROM c${m}_s)""".stripMargin
      sb.toString
    }
    s"""WITH ${blocks.mkString(",\n")}
       |${moduli.map(m => s"SELECT * FROM c${m}_card")
          .mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** [[oKmeansTrain]]'s iteration chain, continued into a full IVF
    * replay over the TRAINED centroids: rebuild the final float
    * centroid lists, re-assign the corpus, probe `nprobe` cells per
    * query, rank top `k` — the p52 oracle.
    */
  def oIvfTrained(iters: Int, nprobe: Int, k: Int): String = {
    val sb = new StringBuilder(
      """WITH cents0 AS (
        |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
        |  WHERE vec_id % 25 = 0)""".stripMargin)
    for (it <- 0 until iters) {
      sb ++= s""",
         |assign$it AS (
         |  SELECT e.vec_id, e.embedding, cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
         |  FROM embeddings e, cents$it),
         |means$it AS (
         |  SELECT cent_id, i - 1 AS dim, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(FLOOR(SUM(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6)) / COUNT(*)) AS BIGINT) AS mean_fixed
         |  FROM (SELECT * FROM assign$it WHERE rn = 1)
         |  CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) s
         |  GROUP BY 1, 2),
         |cents${it + 1} AS (
         |  SELECT cent_id,
         |    list(CAST(CAST(mean_fixed AS DOUBLE) / 1000000.0 AS FLOAT) ORDER BY dim) AS ce
         |  FROM means$it GROUP BY cent_id)""".stripMargin
    }
    sb ++= s""",
       |assignT AS (
       |  SELECT e.vec_id, e.embedding, cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${oCos("e.embedding", "ce")} DESC, cent_id ASC) AS rn
       |  FROM embeddings e, cents$iters),
       |cells AS (SELECT vec_id, embedding, cent_id FROM assignT WHERE rn = 1),
       |probes AS (SELECT vec_id, embedding, cent_id FROM assignT
       |           WHERE rn <= $nprobe AND vec_id < 20),
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
       |FROM ranked WHERE rank <= $k""".stripMargin
    sb.toString
  }

  /** Per-subspace trained-PQ replay: cb0 is the seed codebook's
    * 16-element sub-slices; each iteration re-ranks every (vector,
    * subspace) against the current entries with the same ordered
    * three-term d² ([[Similarity]]'s `dist2` op order), aggregates
    * fixed-point member means, and rebuilds entries as
    * `(mean_fixed/1e6)::FLOAT` — the two IEEE ops the Spark driver
    * performs. Final select = code assignment against cb`iters`.
    */
  def oPqTrainedCtes(iters: Int): String = {
    def d2(ce: String): String =
      s"""(list_sum(list_transform(generate_series(1, 16),
         |    i -> CAST(e.embedding[c.s*16 + i] AS DOUBLE)
         |         * CAST(e.embedding[c.s*16 + i] AS DOUBLE)))
         | - 2 * list_sum(list_transform(generate_series(1, 16),
         |    i -> CAST(e.embedding[c.s*16 + i] AS DOUBLE)
         |         * CAST($ce[i] AS DOUBLE)))
         | + list_sum(list_transform(generate_series(1, 16),
         |    i -> CAST($ce[i] AS DOUBLE) * CAST($ce[i] AS DOUBLE))))""".stripMargin
    val sb = new StringBuilder(
      """WITH cb0 AS (
        |  SELECT subs.s, vec_id AS cid,
        |    list_transform(generate_series(1, 16),
        |      i -> embedding[subs.s*16 + i]) AS ce
        |  FROM embeddings, (SELECT UNNEST(generate_series(0, 3)) AS s) subs
        |  WHERE vec_id < 8)""".stripMargin)
    for (it <- 0 until iters) {
      sb ++= s""",
         |assign$it AS (
         |  SELECT e.vec_id, e.embedding, c.s, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.s
         |      ORDER BY ${d2("c.ce")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e, cb$it c),
         |means$it AS (
         |  SELECT s, cid, CAST(s*16 + i - 1 AS BIGINT) AS dim,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(FLOOR(SUM(FLOOR(CAST(embedding[s*16 + i] AS DOUBLE) * 1e6))
         |      / COUNT(*)) AS BIGINT) AS mean_fixed
         |  FROM (SELECT * FROM assign$it WHERE rn = 1)
         |  CROSS JOIN (SELECT UNNEST(generate_series(1, 16)) AS i) gi
         |  GROUP BY 1, 2, 3),
         |cb${it + 1} AS (
         |  SELECT s, cid,
         |    list(CAST(CAST(mean_fixed AS DOUBLE) / 1000000.0 AS FLOAT)
         |      ORDER BY dim) AS ce
         |  FROM means$it GROUP BY s, cid)""".stripMargin
    }
    sb ++= s""",
       |assignT AS (
       |  SELECT e.vec_id, c.s, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.s
       |      ORDER BY ${d2("c.ce")} ASC, c.cid ASC) AS rn
       |  FROM embeddings e, cb$iters c)""".stripMargin
    sb.toString
  }

  def oPqTrained(iters: Int): String =
    oPqTrainedCtes(iters) + """
      |SELECT vec_id, CAST(s AS BIGINT) AS subspace, cid AS code
      |FROM assignT WHERE rn = 1""".stripMargin

  /** Trained-ADC replay: the [[oPqTrainedCtes]] chain through the
    * trained codebook, then the p49 scan shape with each subspace's
    * entry joined from cb`iters` (local 1..16 indexing on the entry,
    * global offsets on the query) — same ordered four-term sum.
    */
  def oPqTrainedTopK(iters: Int, k: Int): String = {
    def d2At(s: Int): String =
      s"""(list_sum(list_transform(generate_series(1, 16),
         |    i -> CAST(q.qv[${s * 16} + i] AS DOUBLE)
         |         * CAST(q.qv[${s * 16} + i] AS DOUBLE)))
         | - 2 * list_sum(list_transform(generate_series(1, 16),
         |    i -> CAST(q.qv[${s * 16} + i] AS DOUBLE)
         |         * CAST(e$s.ce[i] AS DOUBLE)))
         | + list_sum(list_transform(generate_series(1, 16),
         |    i -> CAST(e$s.ce[i] AS DOUBLE) * CAST(e$s.ce[i] AS DOUBLE))))""".stripMargin
    val terms = (0 until 4).map(d2At).mkString("\n    + ")
    val joins = (0 until 4)
      .map(s => s"JOIN cb$iters e$s ON e$s.s = $s AND e$s.cid = w.c$s")
      .mkString("\n  ")
    oPqTrainedCtes(iters) + s""",
      |codesw AS (
      |  SELECT vec_id,
      |    MAX(CASE WHEN s = 0 THEN cid END) AS c0,
      |    MAX(CASE WHEN s = 1 THEN cid END) AS c1,
      |    MAX(CASE WHEN s = 2 THEN cid END) AS c2,
      |    MAX(CASE WHEN s = 3 THEN cid END) AS c3
      |  FROM assignT WHERE rn = 1 GROUP BY vec_id),
      |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      |      WHERE vec_id < 20),
      |ad AS (
      |  SELECT q.query_id, w.vec_id AS cand_id,
      |    ($terms) AS adist
      |  FROM codesw w
      |  $joins
      |  CROSS JOIN q
      |  WHERE q.query_id != w.vec_id)
      |SELECT query_id, cand_id, CAST(rn AS BIGINT) AS rank,
      |  CAST(FLOOR(adist * 1e6) AS BIGINT) AS adist_micro
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY adist ASC, cand_id ASC) AS rn FROM ad)
      |WHERE rn <= $k""".stripMargin
  }

  /** DuckDB 64-bit simhash over an in-scope `toks`, same semantics as
    * the native kernel behind [[Dedup.simhashPairs]]. The token hash is
    * the 60-bit hash60, so bits 60–63 can never win a vote — emitting
    * only the first 60 terms is exact and avoids the 1<<63 literal.
    */
  def oSimhash: String = {
    val bits = (0 until 60).map { i =>
      s"""(CASE WHEN list_sum(list_transform(hl,
         |   h -> CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         | THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)""".stripMargin
    }
    bits.mkString(" + ")
  }

  /** DuckDB hyperplane-LSH bucket, same hash-derived weights as
    * [[Similarity.lshBucket]] (4 planes over 64 dims).
    */
  /** MinHash signature replay shared by p104 and p108: the
    * [[TF.minhashSeeds]] family applied to 60-bit shingle hashes mod
    * P, empty-shingle docs getting the P sentinel — ending at
    * `sg(doc_id, sh, sig)`. Mirrors the native minhash kernel.
    * `sampleBudget` replays
    * [[graft.pipeline.Dedup.boundedCalibrationSample]]: keep docs
    * whose independent MinHash (permutation 13) lands on bucket 0 of
    * a corpus-count-derived modulus.
    */
  def oMinhashSigCtes(k: Int = 3, numHashes: Int = 12,
      sampleBudget: Option[Int] = None): String = {
    val P = 2147483647L
    val sigs = TF.minhashSeeds(numHashes).map { case (a, bb) =>
      s"COALESCE(list_min(list_transform(bh, h -> ($a * h + $bb) % $P)), $P)"
    }.mkString(",\n      ")
    val hhCtes = sampleBudget match {
      case None =>
        s"""hh AS (SELECT doc_id, sh,
           |  list_transform(sh, s -> ${oHash("s")} % $P) AS bh
           |  FROM shs)""".stripMargin
      case Some(budget) =>
        val (sa, sb) = TF.minhashSeeds(13).last
        s"""hh0 AS (SELECT doc_id, sh,
           |  list_transform(sh, s -> ${oHash("s")} % $P) AS bh
           |  FROM shs),
           |hh AS (
           |  SELECT hh0.doc_id, hh0.sh, hh0.bh FROM hh0,
           |    (SELECT GREATEST(CAST(1 AS BIGINT),
           |       (COUNT(*) + ${budget - 1}) // $budget) AS m
           |     FROM documents) sm
           |  WHERE COALESCE(list_min(list_transform(bh,
           |      h -> ($sa * h + $sb) % $P)), $P) % sm.m = 0)"""
          .stripMargin
    }
    s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
       |shs AS (SELECT doc_id, ${oShingles(k)} AS sh FROM t),
       |$hhCtes,
       |sg AS (SELECT doc_id, sh, [
       |      $sigs] AS sig FROM hh)""".stripMargin
  }

  /** The 6-band × 2-row LSH band-equality predicate over `a.sig` /
    * `b.sig` (mirrors [[graft.pipeline.Dedup.bandKeyArray]]).
    */
  def oBandEq(bands: Int = 6, rows: Int = 2): String =
    (0 until bands).map { bd =>
      val lo = bd * rows + 1
      val hi = (bd + 1) * rows
      s"a.sig[$lo:$hi] = b.sig[$lo:$hi]"
    }.mkString("\n     OR ")

  /** DuckDB rendering of cosine over `dim`-wide float lists —
    * index-order double accumulation like the codegen kernels.
    */
  def oCosN(a: String, b: String, dim: Int): String =
    s"""(list_sum(list_transform(generate_series(1, $dim), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(generate_series(1, $dim), i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |    * sqrt(list_sum(list_transform(generate_series(1, $dim), i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))))""".stripMargin

  /** The feature-hashed doc-vector replay shared by p100 and p106:
    * word 3-shingle features, signed hashing into 128 buckets, the
    * map pivot to a dense vector, ending at `nz(doc_id, embedding)`
    * with zero-norm docs excluded. Mirrors
    * [[Similarity.hashedDocVectors]].
    */
  def oHashedVecCtes(): String =
    s"""WITH t AS (SELECT doc_id, $oToks AS toks FROM documents),
       |occ AS (
       |  SELECT doc_id, unnest(${oShingles(3)}) AS tok FROM t),
       |bk AS (
       |  SELECT doc_id, ${oHash("tok")} % 128 AS bucket,
       |    CASE WHEN ${oHash("'fs' || tok")} % 2 = 0 THEN 1 ELSE -1 END
       |      AS sgn
       |  FROM occ WHERE length(tok) > 0),
       |sv AS (
       |  SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS v
       |  FROM bk GROUP BY 1, 2),
       |vec AS (SELECT doc_id, map(list(bucket), list(v)) AS m
       |        FROM sv GROUP BY 1),
       |emb AS (
       |  SELECT doc_id, list_transform(generate_series(0, 127),
       |    j -> CAST(COALESCE(m[j][1], 0) AS FLOAT)) AS embedding
       |  FROM vec),
       |nz AS (
       |  SELECT doc_id, embedding FROM emb
       |  WHERE sqrt(list_sum(list_transform(generate_series(1, 128),
       |    i -> CAST(embedding[i] AS DOUBLE)
       |         * CAST(embedding[i] AS DOUBLE)))) > 0)""".stripMargin

  /** DuckDB rendering of one hyperplane dot ⟨vec, w_p⟩ — the same
    * md5-derived weights as [[Similarity.planeWeights]]; `list_sum`
    * folds left-to-right like the codegen dot kernel.
    */
  def oPlaneDot(vec: String, p: Int): String =
    s"""list_sum(list_transform(generate_series(1, 64),
       |  i -> CAST($vec[i] AS DOUBLE) *
       |       (${oHash(s"'hp${p}_' || CAST(i AS VARCHAR)")} % 2001 - 1000)))""".stripMargin

  /** The p49 PQ/ADC replay, parameterized over the vector source so
    * the rotated twin (p97) reuses it verbatim: `lead` is an optional
    * extra leading CTE (e.g. the rotated-embedding projection) and
    * `src` the relation providing (vec_id, embedding).
    */
  def oPqTopKSql(lead: String, src: String): String = {
    // fixed-offset index-order dot over subspace s (a literal here,
    // unlike p48's correlated subs.s)
    def oDotAt(a: String, b: String, s: Int): String =
      s"""list_sum(list_transform(generate_series(1, 16),
         |        i -> CAST($a[${s * 16} + i] AS DOUBLE)
         |             * CAST($b[${s * 16} + i] AS DOUBLE)))""".stripMargin
    def oD2At(a: String, b: String, s: Int): String =
      s"""(${oDotAt(a, a, s)}
         |     - 2 * ${oDotAt(a, b, s)}
         |     + ${oDotAt(b, b, s)})""".stripMargin
    val terms = (0 until 4)
      .map(s => oD2At("q.qv", s"e$s.ce", s)).mkString("\n    + ")
    s"""WITH ${lead}cents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM $src
       |  WHERE vec_id < 8),
       |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |scored AS (
       |  SELECT e.vec_id, subs.s, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, subs.s ORDER BY
       |      (list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(e.embedding[subs.s*16 + i] AS DOUBLE)
       |              * CAST(e.embedding[subs.s*16 + i] AS DOUBLE)))
       |       - 2 * list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(e.embedding[subs.s*16 + i] AS DOUBLE)
       |              * CAST(c.ce[subs.s*16 + i] AS DOUBLE)))
       |       + list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(c.ce[subs.s*16 + i] AS DOUBLE)
       |              * CAST(c.ce[subs.s*16 + i] AS DOUBLE)))) ASC,
       |      c.cent_id ASC) AS rn
       |  FROM $src e, cents c, subs),
       |codesw AS (
       |  SELECT vec_id,
       |    MAX(CASE WHEN s = 0 THEN cent_id END) AS c0,
       |    MAX(CASE WHEN s = 1 THEN cent_id END) AS c1,
       |    MAX(CASE WHEN s = 2 THEN cent_id END) AS c2,
       |    MAX(CASE WHEN s = 3 THEN cent_id END) AS c3
       |  FROM scored WHERE rn = 1 GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM $src
       |      WHERE vec_id < 20),
       |ad AS (
       |  SELECT q.query_id, w.vec_id AS cand_id,
       |    ($terms) AS adist
       |  FROM codesw w
       |  JOIN cents e0 ON e0.cent_id = w.c0
       |  JOIN cents e1 ON e1.cent_id = w.c1
       |  JOIN cents e2 ON e2.cent_id = w.c2
       |  JOIN cents e3 ON e3.cent_id = w.c3
       |  CROSS JOIN q
       |  WHERE q.query_id != w.vec_id)
       |SELECT query_id, cand_id, CAST(rn AS BIGINT) AS rank,
       |  CAST(FLOOR(adist * 1e6) AS BIGINT) AS adist_micro
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY adist ASC, cand_id ASC) AS rn FROM ad)
       |WHERE rn <= 5""".stripMargin
  }

  /** DuckDB rendering of [[Similarity.rotateVec]]: the signed
    * permutation embedded as literal lists, computed by the SAME
    * [[Similarity.signedPerm]] at SQL-generation time.
    */
  def oRotate(vec: String, salt: String): String = {
    val (perm, signs) = graft.pipeline.Similarity.signedPerm(64, salt)
    s"""list_transform(generate_series(1, 64),
       |      j -> CAST($vec[([${perm.mkString(", ")}])[j]]
       |           * (([${signs.mkString(", ")}])[j]) AS FLOAT))""".stripMargin
  }

  def oBucket(vec: String): String =
    (0 until 4).map { p =>
      s"""(CASE WHEN ${oPlaneDot(vec, p)}
         |  > 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  val oLangCase: String = {
    val langs = TF.stopwords.map(_._1)
    val conds = langs.init.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1)
      val cond = later.map(o => s"hits_$lang >= hits_$o").mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }
    s"CASE ${conds.mkString(" ")} ELSE '${langs.last}' END"
  }

  def oHits(lang: String, words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, t -> lower(t) IN ($set)))"
  }

  /** The p56 oracle: each method's own oracle SQL (verbatim, as a
    * derived table) joined against the exact scan's — recall certified
    * end to end by the same replayed queries.
    */
  def oAnnRecall: String = {
    val ex = oracle0("p05_cosine_topk")
    def row(name: String, sql: String, km: Int): String =
      s"""  SELECT '$name' AS method,
         |    CAST((SELECT COUNT(*) FROM ($sql) a
         |          JOIN ex e ON a.query_id = e.query_id
         |           AND a.cand_id = e.cand_id AND e.rank <= $km)
         |      AS BIGINT) AS n_hits,
         |    CAST((SELECT COUNT(*) FROM ex WHERE rank <= $km)
         |      AS BIGINT) AS n_truth""".stripMargin
    s"""WITH ex AS (SELECT * FROM ($ex))
       |SELECT method, n_hits, n_truth,
       |  CAST(FLOOR((n_hits * 1e6) / n_truth) AS BIGINT) AS recall_micro
       |FROM (
       |${(Seq(("p06_ann_lsh", 3), ("p19_ivf", 3), ("p26_ivf_nprobe", 3),
              ("p49_pq_topk", 5), ("p58_pq_trained_topk", 5),
              ("p73_ivf_tuned", 3), ("p74_ivfpq", 5),
              ("p93_lsh_multiprobe", 3), ("p97_rot_pq", 5))
            .map { case (n, km) => row(n, oracle0(n), km) } :+
          row("p83_ivfpq_refine", oIvfPqRefineSql, 5))
            .mkString("\nUNION ALL\n")}
       |)""".stripMargin
  }

  /** The p79 oracle: fixture construction, cell assignment, probe
    * sets, the exact ranking, and the recall division — all replayed
    * from the closed form.
    */
  def oClusteredRecall: String = {
    val ceDef = s"""SELECT vec_id,
       |  list_transform(generate_series(1, 64), d ->
       |    CAST((${oHash("'cc' || CAST(vec_id % 32 AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 2001 - 1000
       |        + ${oHash("'cn' || CAST(vec_id AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 21 - 10) AS FLOAT)) AS embedding
       |FROM embeddings""".stripMargin
    def ivf(nprobe: Int) =
      s"""SELECT query_id, cand_id FROM (
         |  SELECT query_id, cand_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, cand_id ASC) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |      ${oCos("q.embedding", "c.embedding")} AS sim
         |    FROM (SELECT vec_id, embedding, cent_id FROM assign
         |          WHERE rn <= $nprobe AND vec_id < 20) q
         |    JOIN cells c ON q.cent_id = c.cent_id AND q.vec_id != c.vec_id))
         |WHERE rank <= 3""".stripMargin
    def row(nprobe: Int) =
      s"""  SELECT 'ivf_clustered_nlist32_nprobe$nprobe' AS method,
         |    CAST((SELECT COUNT(*) FROM (${ivf(nprobe)}) a
         |          JOIN ex USING (query_id, cand_id)) AS BIGINT) AS n_hits,
         |    CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_truth""".stripMargin
    s"""WITH ce AS ($ceDef),
       |cents AS (SELECT vec_id AS cent_id, embedding AS ce2 FROM ce
       |          WHERE vec_id < 32),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${oCos("e.embedding", "ce2")} DESC, cent_id ASC) AS rn
       |  FROM ce e, cents),
       |cells AS (SELECT vec_id, embedding, cent_id FROM assign WHERE rn = 1),
       |ex AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${oCos("q.embedding", "c.embedding")} DESC,
       |                 c.vec_id ASC) AS rank
       |    FROM ce q JOIN ce c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
       |  WHERE rank <= 3)
       |SELECT method, n_hits, n_truth,
       |  CAST(FLOOR((n_hits * 1e6) / n_truth) AS BIGINT) AS recall_micro
       |FROM (
       |${row(1)}
       |  UNION ALL
       |${row(2)}
       |)""".stripMargin
  }

  /** The p121 replay — split out so the p123 feature-store oracle
    * can reuse it as a CTE.
    */
  lazy val oEntropy: String = {

        def branch(explodeSql: String, out: String) =
          s"""SELECT doc_id, MAX(n) AS n_$out,
             |  SUM(CAST(FLOOR(-((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             |    * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
             |    * 1000000.0) AS BIGINT)) AS ${out}_entropy_micro
             |FROM (
             |  SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n
             |  FROM (SELECT doc_id, sym, COUNT(*) AS c
             |        FROM (SELECT doc_id, unnest($explodeSql) AS sym
             |              FROM documents)
             |        GROUP BY doc_id, sym))
             |GROUP BY doc_id""".stripMargin
        val charsExplode = "list_transform(generate_series(1, " +
          "length(text)), i -> substr(text, i, 1))"
        s"""WITH ch AS (${branch(charsExplode, "chars")}),
           |tk AS (${branch(oToks, "toks")})
           |SELECT ch.doc_id, CAST(ch.n_chars AS BIGINT) AS n_chars,
           |  CAST(ch.chars_entropy_micro AS BIGINT)
           |    AS chars_entropy_micro,
           |  CAST(tk.n_toks AS BIGINT) AS n_toks,
           |  CAST(tk.toks_entropy_micro AS BIGINT)
           |    AS toks_entropy_micro
           |FROM ch JOIN tk ON ch.doc_id = tk.doc_id""".stripMargin
        }

  /** The p122 replay: hierarchical fixture, coarse assignment,
    * residuals, BOTH codebooks (raw vectors / residuals of the same
    * rows), both per-subspace code assignments, nprobe=1 probe sets,
    * both ADC rankings, the exact truth, and the recall divisions.
    */
  def oResidualPq: String = {
    def oDotAt(a: String, b: String, s: Int): String =
      s"""list_sum(list_transform(generate_series(1, 16),
         |        i -> CAST($a[${s * 16} + i] AS DOUBLE)
         |             * CAST($b[${s * 16} + i] AS DOUBLE)))""".stripMargin
    def oD2At(a: String, b: String, s: Int): String =
      s"""(${oDotAt(a, a, s)}
         |     - 2 * ${oDotAt(a, b, s)}
         |     + ${oDotAt(b, b, s)})""".stripMargin
    def codesCtes(prefix: String, vecs: String, vcol: String,
        bookTable: String, bcol: String): String =
      s"""${prefix}scored AS (
         |  SELECT v.vec_id, subs.s, b.code_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, subs.s ORDER BY
         |      (list_sum(list_transform(generate_series(1, 16),
         |         i -> CAST(v.$vcol[subs.s*16 + i] AS DOUBLE)
         |              * CAST(v.$vcol[subs.s*16 + i] AS DOUBLE)))
         |       - 2 * list_sum(list_transform(generate_series(1, 16),
         |         i -> CAST(v.$vcol[subs.s*16 + i] AS DOUBLE)
         |              * CAST(b.$bcol[subs.s*16 + i] AS DOUBLE)))
         |       + list_sum(list_transform(generate_series(1, 16),
         |         i -> CAST(b.$bcol[subs.s*16 + i] AS DOUBLE)
         |              * CAST(b.$bcol[subs.s*16 + i] AS DOUBLE)))) ASC,
         |      b.code_id ASC) AS rn
         |  FROM $vecs v, $bookTable b, subs),
         |${prefix}codes AS (
         |  SELECT vec_id,
         |    MAX(CASE WHEN s = 0 THEN code_id END) AS c0,
         |    MAX(CASE WHEN s = 1 THEN code_id END) AS c1,
         |    MAX(CASE WHEN s = 2 THEN code_id END) AS c2,
         |    MAX(CASE WHEN s = 3 THEN code_id END) AS c3
         |  FROM ${prefix}scored WHERE rn = 1 GROUP BY vec_id)"""
        .stripMargin
    def adCtes(prefix: String, qTable: String, qcol: String,
        codes: String, bookTable: String, bcol: String): String = {
      val terms = (0 until 4)
        .map(s => oD2At(s"q.$qcol", s"e$s.$bcol", s)).mkString("\n    + ")
      val joins = (0 until 4)
        .map(s => s"JOIN $bookTable e$s ON e$s.code_id = w.c$s")
        .mkString("\n  ")
      s"""${prefix}ad AS (
         |  SELECT q.query_id, w.vec_id AS cand_id,
         |    ($terms) AS adist
         |  FROM $qTable q
         |  JOIN cells cc ON cc.cent_id = q.cent_id
         |  JOIN $codes w ON w.vec_id = cc.vec_id
         |  $joins
         |  WHERE q.query_id != w.vec_id),
         |${prefix}top AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id
         |      ORDER BY adist ASC, cand_id ASC) AS rank
         |    FROM ${prefix}ad)
         |  WHERE rank <= 10)""".stripMargin
    }
    def recallRow(method: String, top: String): String =
      s"""  SELECT '$method' AS method,
         |    CAST((SELECT COUNT(*) FROM $top a
         |          JOIN ex USING (query_id, cand_id)) AS BIGINT)
         |      AS n_hits,
         |    CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_truth"""
        .stripMargin
    s"""WITH ce AS (
       |  SELECT vec_id,
       |    list_transform(generate_series(1, 64), d ->
       |      CAST((${oHash("'hc' || CAST(vec_id % 8 AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 2001 - 1000
       |          + ${oHash("'hp' || CAST((vec_id // 8) % 4 AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 201 - 100
       |          + ${oHash("'hj' || CAST(vec_id AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 11 - 5) AS FLOAT))
       |      AS embedding
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cv FROM ce
       |          WHERE vec_id < 8),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${oCos("e.embedding", "cv")} DESC, cent_id ASC)
       |      AS rn
       |  FROM ce e, cents),
       |cells AS (SELECT vec_id, embedding, cent_id FROM assign
       |          WHERE rn = 1),
       |rcells AS (
       |  SELECT c.vec_id, c.cent_id,
       |    list_transform(generate_series(1, 64), i ->
       |      CAST(c.embedding[i] AS DOUBLE) - CAST(ct.cv[i] AS DOUBLE))
       |      AS rv
       |  FROM cells c JOIN cents ct ON c.cent_id = ct.cent_id),
       |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |pbook AS (SELECT vec_id AS code_id, embedding AS bv FROM ce
       |          WHERE vec_id < 32 AND vec_id % 8 = 0),
       |rbook AS (SELECT vec_id AS code_id, rv AS bv FROM rcells
       |          WHERE vec_id < 32 AND vec_id % 8 = 0),
       |${codesCtes("p_", "cells", "embedding", "pbook", "bv")},
       |${codesCtes("r_", "rcells", "rv", "rbook", "bv")},
       |qraw AS (SELECT vec_id AS query_id, cent_id, embedding AS qv
       |         FROM cells WHERE vec_id < 20),
       |qres AS (SELECT vec_id AS query_id, cent_id, rv AS qv
       |         FROM rcells WHERE vec_id < 20),
       |${adCtes("p_", "qraw", "qv", "p_codes", "pbook", "bv")},
       |${adCtes("r_", "qres", "qv", "r_codes", "rbook", "bv")},
       |rr_sl AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id
       |      ORDER BY adist ASC, cand_id ASC) AS rank
       |    FROM r_ad)
       |  WHERE rank <= 30),
       |rr_top AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT s.query_id, s.cand_id, ROW_NUMBER() OVER (
       |      PARTITION BY s.query_id
       |      ORDER BY ${oCos("q.embedding", "c.embedding")} DESC,
       |               s.cand_id ASC) AS rank
       |    FROM rr_sl s
       |    JOIN ce q ON s.query_id = q.vec_id
       |    JOIN ce c ON s.cand_id = c.vec_id)
       |  WHERE rank <= 10),
       |ex AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${oCos("q.embedding", "c.embedding")} DESC,
       |                 c.vec_id ASC) AS rank
       |    FROM ce q JOIN ce c ON q.vec_id < 20 AND q.vec_id != c.vec_id)
       |  WHERE rank <= 10)
       |SELECT method, n_hits, n_truth,
       |  CAST(FLOOR((n_hits * 1e6) / n_truth) AS BIGINT) AS recall_micro
       |FROM (
       |${recallRow("ivfpq_raw_hier", "p_top")}
       |  UNION ALL
       |${recallRow("ivfpq_residual_hier", "r_top")}
       |  UNION ALL
       |${recallRow("ivfpq_residual_refine_hier", "rr_top")}
       |)""".stripMargin
  }

  /** The p66 oracle: the three gate oracles composed verbatim as
    * derived tables (the p56 pattern) — a funnel pass certifies every
    * gate's own replay AND the rollup.
    */
  def oQualityFunnel: String =
    s"""WITH g AS (${oracle0("p61_gopher_rules")}),
       |c AS (${oracle0("p64_c4_lines")}),
       |q AS (${oracle0("p09_quality")}),
       |d AS (SELECT doc_id, source FROM documents)
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN q.score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_score,
       |  CAST(SUM(g.keep) AS BIGINT) AS n_gopher,
       |  CAST(SUM(c.page_keep) AS BIGINT) AS n_c4,
       |  CAST(SUM(CASE WHEN q.score >= 0.5 THEN 1 ELSE 0 END
       |           * g.keep * c.page_keep) AS BIGINT) AS n_all
       |FROM d
       |JOIN g ON d.doc_id = g.doc_id
       |JOIN c ON d.doc_id = c.doc_id
       |JOIN q ON d.doc_id = q.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** The p61 Gopher oracle, parameterized on the [[Curation.GateProfile]]
    * thresholds (the published defaults ARE the p61 entry).
    */
  def oGopherRules(minWords: Int = 50, minStop: Int = 2): String = {
    val stopCases = TF.gopherStopwords.map(w =>
      s"CASE WHEN list_contains(lw, '$w') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id, text, $oToks AS toks,
       |    string_split(text, chr(10)) AS lines
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_toks,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
       |    CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...')) AS BIGINT) AS n_ell,
       |    CAST(len(list_filter(lines, l ->
       |      substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS BIGINT) AS n_bul,
       |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
       |    ($stopCases) AS n_stop
       |  FROM (SELECT doc_id, text, toks, lines,
       |          list_transform(toks, t -> lower(t)) AS lw FROM base)),
       |f AS (
       |  SELECT doc_id, n_toks,
       |    CASE WHEN n_toks >= $minWords AND n_toks <= 100000 THEN 1 ELSE 0 END AS r_words,
       |    CASE WHEN sum_len >= n_toks * 3 AND sum_len <= n_toks * 10 THEN 1 ELSE 0 END AS r_mean_len,
       |    CASE WHEN n_hash * 10 <= n_toks THEN 1 ELSE 0 END AS r_hash,
       |    CASE WHEN n_ell * 10 <= n_lines * 3 THEN 1 ELSE 0 END AS r_ellipsis,
       |    CASE WHEN n_bul * 10 <= n_lines * 9 THEN 1 ELSE 0 END AS r_bullet,
       |    CASE WHEN n_alpha * 5 >= n_toks * 4 THEN 1 ELSE 0 END AS r_alpha,
       |    CASE WHEN n_stop >= $minStop THEN 1 ELSE 0 END AS r_stop
       |  FROM m)
       |SELECT doc_id, n_toks,
       |  CAST(r_words AS BIGINT) AS r_words,
       |  CAST(r_mean_len AS BIGINT) AS r_mean_len,
       |  CAST(r_hash AS BIGINT) AS r_hash,
       |  CAST(r_ellipsis AS BIGINT) AS r_ellipsis,
       |  CAST(r_bullet AS BIGINT) AS r_bullet,
       |  CAST(r_alpha AS BIGINT) AS r_alpha,
       |  CAST(r_stop AS BIGINT) AS r_stop,
       |  CAST(r_words * r_mean_len * r_hash * r_ellipsis * r_bullet
       |       * r_alpha * r_stop AS BIGINT) AS keep
       |FROM f""".stripMargin
  }

  /** The p64 C4 oracle, parameterized on the [[Curation.GateProfile]]
    * thresholds (the published defaults ARE the p64 entry).
    */
  def oC4Lines(minLineWords: Int = 5, requirePunct: Boolean = true,
      minSentences: Int = 3): String = {
    val punctCond =
      if (requirePunct)
        """AND substr(rtrim(l), -1, 1) IN ('.', '!', '?', '"')"""
      else ""
    s"""WITH base AS (
       |  SELECT doc_id, text, string_split(text, chr(10)) AS lines,
       |    list_filter(string_split(text, chr(10)),
       |      l -> len(string_split_regex(trim(l), '\\s+')) >= $minLineWords
       |           $punctCond) AS kept
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(len(kept) AS BIGINT) AS n_kept,
       |    CAST(len(list_filter(lines, l ->
       |      substr(rtrim(l), -1, 1) IN ('.', '!', '?', '"'))) AS BIGINT) AS n_punct_lines,
       |    CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
       |    CAST(CASE WHEN text LIKE '%{%' THEN 1 ELSE 0 END AS BIGINT) AS has_brace,
       |    CAST(CASE WHEN lower(text) LIKE '%lorem ipsum%' THEN 1 ELSE 0 END AS BIGINT) AS has_lorem,
       |    substr(md5(coalesce(array_to_string(kept, chr(10)), '')), 1, 16) AS clean_fp
       |  FROM base)
       |SELECT doc_id, n_lines, n_kept, n_punct_lines, n_sentences,
       |  has_brace, has_lorem,
       |  CAST(CASE WHEN has_brace = 0 AND has_lorem = 0
       |    AND n_sentences >= $minSentences AND n_kept >= 1
       |    THEN 1 ELSE 0 END AS BIGINT) AS page_keep,
       |  clean_fp
       |FROM m""".stripMargin
  }

  /** NB classifier refit from scratch: funnel labels via the p61/p64/
    * p09 oracle CTEs at the wordSalad gate profile (the corpus is
    * punctuation-free synthetic text — published thresholds would
    * label every document negative; see [[Curation.GateProfile]]),
    * one-pass class-conditional counts, the same
    * top-500 vocabulary cut / add-one smoothing / micro-nat floors as
    * [[Curation.nbCostTables]], prior from doc labels.
    */
  def oNbClassifier: String =
    s"""WITH g AS (${oGopherRules(minWords = 20, minStop = 1)}),
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
       |toks AS (SELECT doc_id, unnest($oToks) AS tok FROM documents),
       |lt AS (
       |  SELECT t.doc_id, t.tok, lab.cls
       |  FROM toks t JOIN lab ON t.doc_id = lab.doc_id),
       |cnt AS (
       |  SELECT tok, SUM(cls) AS c1, COUNT(*) - SUM(cls) AS c0,
       |    COUNT(*) AS cc
       |  FROM lt GROUP BY tok),
       |tot AS (SELECT SUM(c1) AS t1, SUM(c0) AS t0 FROM cnt),
       |vocab AS (SELECT tok, c1, c0 FROM cnt ORDER BY cc DESC, tok LIMIT 500),
       |costs AS (
       |  SELECT tok,
       |    CAST(FLOOR((ln((c1 + 1) / CAST(t1 + 501 AS DOUBLE))
       |              - ln((c0 + 1) / CAST(t0 + 501 AS DOUBLE))) * 1e6)
       |      AS BIGINT) AS llr
       |  FROM vocab, tot),
       |ov AS (
       |  SELECT CAST(FLOOR((ln(1 / CAST(t1 + 501 AS DOUBLE))
       |                   - ln(1 / CAST(t0 + 501 AS DOUBLE))) * 1e6)
       |    AS BIGINT) AS oov_llr
       |  FROM tot),
       |pri AS (
       |  SELECT CAST(FLOOR(ln((SUM(cls) + 1)
       |    / CAST(COUNT(*) - SUM(cls) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |    AS prior_llr
       |  FROM lab)
       |SELECT lt.doc_id, lt.cls,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(pri.prior_llr + SUM(COALESCE(costs.llr, ov.oov_llr))
       |    AS BIGINT) AS llr_micro,
       |  CAST(CASE WHEN pri.prior_llr
       |         + SUM(COALESCE(costs.llr, ov.oov_llr)) > 0
       |       THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM lt CROSS JOIN ov CROSS JOIN pri
       |LEFT JOIN costs ON lt.tok = costs.tok
       |GROUP BY lt.doc_id, lt.cls, pri.prior_llr""".stripMargin

  /** Bigram LM refit from scratch: positional predecessor extraction,
    * bigram/context/unigram count tables, and the same λ=0.5
    * interpolation + micro-nat floors as [[Curation.bigramLogLoss]].
    */
  def oBigramLm: String =
    s"""WITH base AS (SELECT doc_id, $oToks AS toks FROM documents),
       |occ AS (
       |  SELECT doc_id, toks[i] AS cur,
       |    CASE WHEN i > 1 THEN toks[i - 1] END AS prev
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks))) AS i
       |        FROM base)),
       |bg AS (
       |  SELECT prev, cur, COUNT(*) AS cbi FROM occ
       |  WHERE prev IS NOT NULL GROUP BY prev, cur),
       |ctx AS (SELECT prev, SUM(cbi) AS cctx FROM bg GROUP BY prev),
       |uni AS (SELECT cur, COUNT(*) AS cu FROM occ GROUP BY cur),
       |tot AS (SELECT SUM(cu) AS t FROM uni),
       |vocab AS (SELECT cur, cu FROM uni ORDER BY cu DESC, cur LIMIT 500)
       |SELECT o.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN o.prev IS NULL THEN
       |      FLOOR(-ln((COALESCE(v.cu, 0) + 1) / CAST(t + 501 AS DOUBLE)) * 1e6)
       |    ELSE
       |      FLOOR(-ln(0.5 * COALESCE(CAST(bg.cbi AS DOUBLE)
       |                             / CAST(ctx.cctx AS DOUBLE), 0.0)
       |        + 0.5 * ((COALESCE(v.cu, 0) + 1) / CAST(t + 501 AS DOUBLE)))
       |        * 1e6)
       |    END) AS BIGINT) AS nll_micro,
       |  CAST(SUM(CASE WHEN o.prev IS NULL THEN
       |      FLOOR(-ln((COALESCE(v.cu, 0) + 1) / CAST(t + 501 AS DOUBLE)) * 1e6)
       |    ELSE
       |      FLOOR(-ln(0.5 * COALESCE(CAST(bg.cbi AS DOUBLE)
       |                             / CAST(ctx.cctx AS DOUBLE), 0.0)
       |        + 0.5 * ((COALESCE(v.cu, 0) + 1) / CAST(t + 501 AS DOUBLE)))
       |        * 1e6)
       |    END) AS BIGINT) // COUNT(*) AS avg_nll_micro
       |FROM occ o
       |LEFT JOIN vocab v ON o.cur = v.cur
       |LEFT JOIN bg ON o.prev = bg.prev AND o.cur = bg.cur
       |LEFT JOIN ctx ON o.prev = ctx.prev
       |CROSS JOIN tot
       |GROUP BY o.doc_id""".stripMargin

  /** Kneser-Ney refit from scratch: the p82 count tables plus the
    * distinct-successor (n1fwd), distinct-predecessor (n1p), and
    * bigram-type-total (nbi) statistics, then the D=0.75 absolute
    * discount replayed per position with continuation back-off at
    * position 1 / unseen contexts. Mirrors [[Curation.knScore]].
    */
  def oKnBigram: String = {
    val pcont = "(COALESCE(ct.n1p, 0) + 1) / CAST(nbi + 501 AS DOUBLE)"
    val pkn = "GREATEST(COALESCE(bg.cbi, 0) - 0.75, 0)" +
      " / CAST(ctx.cctx AS DOUBLE)" +
      s" + 0.75 * ctx.n1fwd / CAST(ctx.cctx AS DOUBLE) * ($pcont)"
    s"""WITH base AS (SELECT doc_id, $oToks AS toks FROM documents),
       |occ AS (
       |  SELECT doc_id, toks[i] AS cur,
       |    CASE WHEN i > 1 THEN toks[i - 1] END AS prev
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks))) AS i
       |        FROM base)),
       |bg AS (
       |  SELECT prev, cur, COUNT(*) AS cbi FROM occ
       |  WHERE prev IS NOT NULL GROUP BY prev, cur),
       |ctx AS (
       |  SELECT prev, SUM(cbi) AS cctx, COUNT(*) AS n1fwd
       |  FROM bg GROUP BY prev),
       |uni AS (SELECT cur, COUNT(*) AS cu FROM occ GROUP BY cur),
       |vocab AS (SELECT cur, cu FROM uni ORDER BY cu DESC, cur LIMIT 500),
       |ct AS (
       |  SELECT v.cur, COALESCE(p.n1p, 0) AS n1p
       |  FROM vocab v LEFT JOIN (
       |    SELECT cur, COUNT(*) AS n1p FROM bg GROUP BY cur) p
       |  ON v.cur = p.cur),
       |nb AS (SELECT COUNT(*) AS nbi FROM bg)
       |SELECT o.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN o.prev IS NULL OR ctx.cctx IS NULL THEN
       |      FLOOR(-ln($pcont) * 1e6)
       |    ELSE FLOOR(-ln($pkn) * 1e6) END) AS BIGINT) AS nll_micro,
       |  CAST(SUM(CASE WHEN o.prev IS NULL OR ctx.cctx IS NULL THEN
       |      FLOOR(-ln($pcont) * 1e6)
       |    ELSE FLOOR(-ln($pkn) * 1e6) END) AS BIGINT) // COUNT(*)
       |    AS avg_nll_micro
       |FROM occ o
       |LEFT JOIN ct ON o.cur = ct.cur
       |LEFT JOIN bg ON o.prev = bg.prev AND o.cur = bg.cur
       |LEFT JOIN ctx ON o.prev = ctx.prev
       |CROSS JOIN nb
       |GROUP BY o.doc_id""".stripMargin
  }

  /** DSIR refit from scratch: the funnel label CTEs (wordSalad
    * thresholds, as oNbClassifier), hashed unigram+bigram buckets,
    * target-vs-raw add-one log-ratios, per-doc weight sums, and the
    * deterministic Gumbel top-k key replayed bit-for-bit. Mirrors
    * [[Curation.dsirPlan]].
    */
  def oDsir: String = {
    val draw = oHash("'dsir' || CAST(doc_id AS VARCHAR)") + " % 1000000"
    s"""WITH g AS (${oGopherRules(minWords = 20, minStop = 1)}),
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
       |base AS (SELECT doc_id, $oToks AS toks FROM documents),
       |feats AS (
       |  SELECT doc_id, ${oHash("tok")} % 512 AS bucket
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
       |  UNION ALL
       |  SELECT doc_id, ${oHash("toks[i] || ' ' || toks[i + 1]")} % 512
       |    AS bucket
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM base)),
       |lf AS (
       |  SELECT f.doc_id, f.bucket, lab.cls
       |  FROM feats f JOIN lab ON f.doc_id = lab.doc_id),
       |cnt AS (
       |  SELECT bucket, SUM(cls) AS ct, COUNT(*) AS cr
       |  FROM lf GROUP BY bucket),
       |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM cnt),
       |llr AS (
       |  SELECT bucket,
       |    CAST(FLOOR((ln((ct + 1) / CAST(tt + 512 AS DOUBLE))
       |              - ln((cr + 1) / CAST(tr + 512 AS DOUBLE))) * 1e6)
       |      AS BIGINT) AS llr_micro
       |  FROM cnt, tot),
       |sc AS (
       |  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |    CAST(SUM(COALESCE(l.llr_micro, 0)) AS BIGINT) AS logw_micro
       |  FROM feats f LEFT JOIN llr l ON f.bucket = l.bucket
       |  GROUP BY f.doc_id),
       |keyed AS (
       |  SELECT doc_id, n_feats, logw_micro,
       |    logw_micro + CAST(FLOOR(-ln(-ln((($draw) + 0.5) / 1e6)) * 1e6)
       |      AS BIGINT) AS key_micro
       |  FROM sc)
       |SELECT CAST(ROW_NUMBER()
       |    OVER (ORDER BY key_micro DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, n_feats, logw_micro, key_micro
       |FROM keyed ORDER BY key_micro DESC, doc_id LIMIT 100""".stripMargin
  }

  /** DoReMi-lite refit: the KN tables of oKnBigram, scoring grouped
    * by SOURCE, then the excess-loss weight chain — integer floors
    * before the cross-domain normalization, `//` exact after.
    * Mirrors [[Curation.domainMixWeightsPlan]].
    */
  /** The p92 refit as a PREFIXED CTE chain over an arbitrary source
    * relation (must expose doc_id, source, text), ending at
    * `${p}res(source, n_docs, n_tokens, avg_nll_micro, excess_micro,
    * weight_micro)` — so the iterated query (p110) can run the whole
    * chain twice in one statement.
    */
  def oDomainMixCtes(p: String, src: String): String = {
    val pcont = s"(COALESCE(${p}ct.n1p, 0) + 1) / CAST(nbi + 501 AS DOUBLE)"
    val pkn = s"GREATEST(COALESCE(${p}bg.cbi, 0) - 0.75, 0)" +
      s" / CAST(${p}ctx.cctx AS DOUBLE)" +
      s" + 0.75 * ${p}ctx.n1fwd / CAST(${p}ctx.cctx AS DOUBLE) * ($pcont)"
    val cost = s"""CASE WHEN o.prev IS NULL OR ${p}ctx.cctx IS NULL THEN
       |      FLOOR(-ln($pcont) * 1e6)
       |    ELSE FLOOR(-ln($pkn) * 1e6) END""".stripMargin
    s"""${p}base AS MATERIALIZED (
       |  SELECT doc_id, source, $oToks AS toks FROM $src),
       |${p}occ AS MATERIALIZED (
       |  SELECT doc_id, source, toks[i] AS cur,
       |    CASE WHEN i > 1 THEN toks[i - 1] END AS prev
       |  FROM (SELECT doc_id, source, toks,
       |          unnest(generate_series(1, len(toks))) AS i
       |        FROM ${p}base)),
       |${p}bg AS MATERIALIZED (
       |  SELECT prev, cur, COUNT(*) AS cbi FROM ${p}occ
       |  WHERE prev IS NOT NULL GROUP BY prev, cur),
       |${p}ctx AS (
       |  SELECT prev, SUM(cbi) AS cctx, COUNT(*) AS n1fwd
       |  FROM ${p}bg GROUP BY prev),
       |${p}uni AS (SELECT cur, COUNT(*) AS cu FROM ${p}occ GROUP BY cur),
       |${p}vocab AS (SELECT cur, cu FROM ${p}uni
       |              ORDER BY cu DESC, cur LIMIT 500),
       |${p}ct AS (
       |  SELECT v.cur, COALESCE(q.n1p, 0) AS n1p
       |  FROM ${p}vocab v LEFT JOIN (
       |    SELECT cur, COUNT(*) AS n1p FROM ${p}bg GROUP BY cur) q
       |  ON v.cur = q.cur),
       |${p}nb AS (SELECT COUNT(*) AS nbi FROM ${p}bg),
       |${p}sc AS (
       |  SELECT o.source,
       |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM($cost) AS BIGINT) // COUNT(*) AS avg_nll_micro
       |  FROM ${p}occ o
       |  LEFT JOIN ${p}ct ON o.cur = ${p}ct.cur
       |  LEFT JOIN ${p}bg ON o.prev = ${p}bg.prev AND o.cur = ${p}bg.cur
       |  LEFT JOIN ${p}ctx ON o.prev = ${p}ctx.prev
       |  CROSS JOIN ${p}nb
       |  GROUP BY o.source),
       |${p}nd AS (SELECT source, COUNT(*) AS n_docs FROM $src
       |       GROUP BY source),
       |${p}mn AS (SELECT MIN(avg_nll_micro) AS mn FROM ${p}sc),
       |${p}tt AS (SELECT SUM(n_tokens) AS ntot FROM ${p}sc),
       |${p}w AS (
       |  SELECT source, n_tokens, avg_nll_micro,
       |    avg_nll_micro - mn AS excess_micro,
       |    CAST(FLOOR((n_tokens / CAST(ntot AS DOUBLE))
       |      * exp((avg_nll_micro - mn) / 1e6) * 1e6) AS BIGINT) AS w_int
       |  FROM ${p}sc, ${p}mn, ${p}tt),
       |${p}sw AS (SELECT SUM(w_int) AS s FROM ${p}w),
       |${p}res AS (
       |  SELECT w.source, nd.n_docs, w.n_tokens, w.avg_nll_micro,
       |    w.excess_micro,
       |    CAST((w_int * 1000000) // s AS BIGINT) AS weight_micro
       |  FROM ${p}w w JOIN ${p}nd nd ON w.source = nd.source, ${p}sw)"""
      .stripMargin
  }

  def oDomainMix: String =
    s"""WITH ${oDomainMixCtes("", "documents")}
       |SELECT * FROM res""".stripMargin

  /** BM25 refit from scratch: postings/doclen/stats, query terms from
    * every budget-strided document's first `qTerms` tokens
    * ([[oQStride]] — absolute |Q| at any SF), df over the
    * query-pruned postings, and the exact micro-floored per-term
    * contributions of [[Retrieval.bm25ScoresFromHits]] — same
    * operation order as the Spark expressions, so the floors agree
    * bit-for-bit.
    */
  def oBm25(k1: Double, b: Double, qTerms: Int,
      topK: Int): String =
    s"""${oBm25Ctes(k1, b, qTerms)}
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |  CAST(n_terms AS BIGINT) AS n_terms, score_micro
       |FROM rk WHERE rank <= $topK""".stripMargin

  /** The [[oBm25]] chain up to the ranked candidates (`rk`) — shared
    * with the p119 fusion oracle.
    */
  /** `baseCteBody` overrides the CTE the index builds on: it must
    * yield (doc_id, toks, qtoks) where `toks` are the INDEXED tokens
    * (p177's long-doc fixture pads them) and `qtoks` what the planted
    * queries tokenize (always the unpadded span). The default reads
    * the raw table, with `qtoks` = `toks`.
    */
  def oBm25Ctes(k1: Double, b: Double,
      qTerms: Int, baseCteBody: Option[String] = None): String = {
    val avgdl = "(CAST(st.sdl AS DOUBLE) / CAST(st.nd AS DOUBLE))"
    val idf = "ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(f.df AS DOUBLE)" +
      " + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))"
    val norm = s"(CAST(p.tf AS DOUBLE) * ${k1 + 1}" +
      s" / (CAST(p.tf AS DOUBLE) + $k1 * (${1 - b}" +
      s" + $b * (CAST(d.dl AS DOUBLE) / $avgdl))))"
    val baseBody = baseCteBody.getOrElse(
      s"SELECT doc_id, $oToks AS toks, $oToks AS qtoks FROM documents")
    s"""WITH base AS ($baseBody),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl
       |       FROM base),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
       |         CAST(SUM(dl) AS BIGINT) AS sdl FROM dl),
       |post AS (
       |  SELECT tok, doc_id, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM base)
       |  GROUP BY tok, doc_id),
       |qt AS (
       |  SELECT doc_id AS query_id, qtoks[i] AS tok
       |  FROM (SELECT doc_id, qtoks,
       |          unnest(generate_series(1, least(len(qtoks), $qTerms)))
       |            AS i
       |        FROM base WHERE doc_id % ${oQStride("base")} = 0)
       |  GROUP BY 1, 2),
       |dfq AS (
       |  SELECT p.tok, COUNT(*) AS df FROM post p
       |  WHERE p.tok IN (SELECT DISTINCT tok FROM qt)
       |  GROUP BY p.tok),
       |sc AS (
       |  SELECT q.query_id, p.doc_id, COUNT(*) AS n_terms,
       |    CAST(SUM(CAST(FLOOR($idf * $norm * 1000000.0) AS BIGINT))
       |      AS BIGINT) AS score_micro
       |  FROM post p
       |  JOIN qt q ON p.tok = q.tok
       |  JOIN dfq f ON p.tok = f.tok
       |  JOIN dl d ON p.doc_id = d.doc_id
       |  CROSS JOIN st
       |  GROUP BY q.query_id, p.doc_id),
       |rk AS (
       |  SELECT query_id, doc_id, n_terms, score_micro,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rank
       |  FROM sc)""".stripMargin
  }

  /** Logistic-regression trajectory replay: the funnel-label CTEs (as
    * oNbClassifier), distinct hashed feature presences, and `iters`
    * generated rounds of (gradient, floor-division weight update,
    * margin, floored sigmoid residual) — mirroring
    * [[Curation.logisticRegression]] round for round. All
    * cross-row arithmetic is int64; the `(g - ((g % m) + m) % m) // m`
    * dance makes the division exact so truncating and flooring
    * engines agree.
    */
  def oLrClassifier(buckets: Int, iters: Int,
      lrDen: Int): String = {
    def sigma(z: String) =
      s"1.0 / (1.0 + exp(-(CAST($z AS DOUBLE) / 1000000.0)))"
    def fdiv(g: String) =
      s"(($g - ((($g) % nd.m) + nd.m) % nd.m) // nd.m)"
    val sb = new StringBuilder
    sb.append(s"""WITH g AS (${oGopherRules(minWords = 20, minStop = 1)}),
      |c AS (${oC4Lines(minLineWords = 3, requirePunct = false,
               minSentences = 0)}),
      |q AS (${oracle0("p09_quality")}),
      |lab AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    CAST(CASE WHEN q.score >= 0.5 THEN 1 ELSE 0 END
      |         * g.keep * c.page_keep AS BIGINT) AS cls
      |  FROM documents d
      |  JOIN g ON d.doc_id = g.doc_id
      |  JOIN c ON d.doc_id = c.doc_id
      |  JOIN q ON d.doc_id = q.doc_id),
      |feats AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, ${oHash("tok")} % $buckets AS bucket
      |  FROM (SELECT doc_id, unnest($oToks) AS tok FROM documents)),
      |nd AS MATERIALIZED (SELECT COUNT(*) * $lrDen AS m FROM lab),
      |r0 AS MATERIALIZED (SELECT doc_id, 500000 - cls * 1000000 AS r
      |  FROM lab)""")
    for (t <- 1 to iters) {
      sb.append(s""",
        |g$t AS MATERIALIZED (
        |  SELECT f.bucket, SUM(r.r) AS g
        |  FROM feats f JOIN r${t - 1} r ON f.doc_id = r.doc_id
        |  GROUP BY f.bucket),""")
      if (t == 1)
        sb.append(s"""
          |w1 AS MATERIALIZED (
          |  SELECT bucket, -${fdiv("g")} AS w FROM g1, nd)""")
      else
        sb.append(s"""
          |w$t AS MATERIALIZED (
          |  SELECT w.bucket, w.w - ${fdiv("g.g")} AS w
          |  FROM w${t - 1} w JOIN g$t g ON w.bucket = g.bucket, nd)""")
      if (t < iters)
        sb.append(s""",
          |z$t AS MATERIALIZED (
          |  SELECT f.doc_id, SUM(w.w) AS z
          |  FROM feats f JOIN w$t w ON f.bucket = w.bucket
          |  GROUP BY f.doc_id),
          |r$t AS MATERIALIZED (
          |  SELECT l.doc_id,
          |    CAST(FLOOR((${sigma("z.z")} - l.cls) * 1000000)
          |      AS BIGINT) AS r
          |  FROM lab l JOIN z$t z ON l.doc_id = z.doc_id)""")
    }
    sb.append(s"""
      |SELECT l.doc_id, l.cls, CAST(COUNT(*) AS BIGINT) AS n_feats,
      |  CAST(SUM(w.w) AS BIGINT) AS z_micro,
      |  CAST(CASE WHEN SUM(w.w) > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS pred
      |FROM feats f
      |JOIN w$iters w ON f.bucket = w.bucket
      |JOIN lab l ON f.doc_id = l.doc_id
      |GROUP BY l.doc_id, l.cls""")
    sb.toString.stripMargin
  }

  def oSourceDupRates: String =
    s"""WITH RECURSIVE ${oPairCtes(4, 0.4)},
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(u, v) AS (
           |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
           |dec AS (SELECT u AS doc_id,
           |    CASE WHEN u = MIN(v) THEN 1 ELSE 0 END AS keep
           |  FROM reach GROUP BY u),
           |nt AS (SELECT doc_id, source,
           |    CAST(len($oToks) AS BIGINT) AS n_toks FROM documents)
           |SELECT nt.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN dec.doc_id IS NOT NULL THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_clustered,
           |  CAST(SUM(CASE WHEN dec.keep = 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dropped,
           |  CAST(SUM(CASE WHEN dec.keep = 0 THEN nt.n_toks ELSE 0
           |    END) AS BIGINT) AS toks_dropped,
           |  (CAST(SUM(CASE WHEN dec.doc_id IS NOT NULL THEN 1 ELSE 0
           |    END) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
           |    AS dup_rate_micro
           |FROM nt LEFT JOIN dec ON nt.doc_id = dec.doc_id
           |GROUP BY nt.source""".stripMargin

  def oReleaseDiffCard: String =
    s"""WITH oldr AS (
           |  SELECT doc_id, source,
           |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp,
           |    CAST(len($oToks) AS BIGINT) AS nt
           |  FROM documents),
           |r2 AS (
           |  SELECT doc_id, source,
           |    CASE WHEN doc_id % 7 = 3
           |         THEN text || ' release2 amendment' ELSE text END
           |      AS text
           |  FROM documents WHERE doc_id % 7 != 2
           |  UNION ALL
           |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
           |    source,
           |    text || ' brand new document' AS text
           |  FROM documents WHERE doc_id % 7 = 4),
           |newr AS (
           |  SELECT doc_id, source,
           |    substr(md5(array_to_string($oToks, ' ')), 1, 16) AS fp,
           |    CAST(len($oToks) AS BIGINT) AS nt
           |  FROM r2),
           |j AS (
           |  SELECT COALESCE(n.source, o.source) AS source,
           |    CASE WHEN o.fp IS NULL THEN 'added'
           |         WHEN n.fp IS NULL THEN 'removed'
           |         WHEN o.fp != n.fp THEN 'modified'
           |         ELSE 'unchanged' END AS status,
           |    COALESCE(o.nt, 0) AS nt_o, COALESCE(n.nt, 0) AS nt_n
           |  FROM oldr o FULL OUTER JOIN newr n ON o.doc_id = n.doc_id)
           |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(nt_o) AS BIGINT) AS n_toks_old,
           |  CAST(SUM(nt_n) AS BIGINT) AS n_toks_new,
           |  CAST(SUM(nt_n) - SUM(nt_o) AS BIGINT) AS tok_delta
           |FROM j GROUP BY source, status""".stripMargin

  /** The serving-index certification replay, parameterized on the
    * relation feeding the CODES side (`rel` must expose
    * (vec_id, embedding)): p178 certifies the base export
    * (rel = embeddings); p181 certifies the APPENDED directory
    * (rel = base ∪ delta) against the same frozen centroid/codebook
    * rows. `pre` prepends extra CTEs (the delta construction).
    */
  def oServingCertify(rel: String, pre: String = ""): String = {
    def vecRow(tag: String, pred: String, idc: String) =
      s"""SELECT '$tag' AS artifact,
         |  CAST(COUNT(DISTINCT $idc) AS BIGINT) AS n_rows,
         |  CAST(SUM(${oHash(
            s"CAST($idc AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)" +
              " || ':' || CAST(CAST(FLOOR(CAST(embedding[i] AS DOUBLE)" +
              " * 1e6) AS BIGINT) AS VARCHAR)")}
         |    % 268435456) AS BIGINT) AS checksum
         |FROM embeddings,
         |  (SELECT unnest(generate_series(1, 64)) AS i)
         |WHERE $pred""".stripMargin
    s"""WITH $pre ccents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |  WHERE vec_id % 25 = 0),
       |asg AS (
       |  SELECT e.vec_id, cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${oCos("e.embedding", "ce")} DESC,
       |        cent_id ASC) AS rn
       |  FROM $rel e, ccents),
       |cells AS (SELECT vec_id, cent_id FROM asg WHERE rn = 1),
       |pcents AS (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |  WHERE vec_id < 8),
       |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |pq AS (
       |  SELECT e.vec_id, subs.s, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, subs.s ORDER BY
       |      (list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(e.embedding[subs.s*16 + i] AS DOUBLE)
       |              * CAST(e.embedding[subs.s*16 + i] AS DOUBLE)))
       |       - 2 * list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(e.embedding[subs.s*16 + i] AS DOUBLE)
       |              * CAST(c.ce[subs.s*16 + i] AS DOUBLE)))
       |       + list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(c.ce[subs.s*16 + i] AS DOUBLE)
       |              * CAST(c.ce[subs.s*16 + i] AS DOUBLE)))) ASC,
       |      c.cent_id ASC) AS rn
       |  FROM $rel e, pcents c, subs),
       |codes AS (
       |  SELECT p.vec_id, cl.cent_id, p.s AS subspace,
       |    p.cent_id AS code
       |  FROM pq p JOIN cells cl ON p.vec_id = cl.vec_id
       |  WHERE p.rn = 1)
       |${vecRow("centroids", "vec_id % 25 = 0", "vec_id")}
       |UNION ALL
       |${vecRow("codebook", "vec_id < 8", "vec_id")}
       |UNION ALL
       |SELECT 'codes' AS artifact,
       |  CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(${oHash(
            "CAST(vec_id AS VARCHAR) || ':' || CAST(cent_id AS VARCHAR)" +
              " || ':' || CAST(subspace AS VARCHAR) || ':' ||" +
              " CAST(code AS VARCHAR)")}
       |    % 268435456) AS BIGINT) AS checksum
       |FROM codes""".stripMargin
  }

  /** The p180 oracle: each section is the STANDALONE card's oracle,
    * embedded verbatim as a derived table and melted to the composite's
    * (section, item, metric, value) long format — so the composite is
    * certified to be exactly the standalone cards, reshaped.
    */
  def oReleaseSignoff: String = {
    def melt(section: String, itemSql: String, inner: String,
        metrics: Seq[String]): String =
      metrics.map { m =>
        s"""SELECT '$section' AS section,
           |  CAST($itemSql AS VARCHAR) AS item, '$m' AS metric,
           |  CAST($m AS BIGINT) AS value FROM ($inner)""".stripMargin
      }.mkString("\nUNION ALL\n")
    val sweep = Seq(40, 90, 96, 98).map { t =>
      s"""SELECT 'threshold_sweep' AS section,
         |  CAST($t AS VARCHAR) AS item, 'n_pairs' AS metric,
         |  CAST(COUNT(*) AS BIGINT) AS value
         |  FROM (${oJaccardPairs(k = 4, threshold = 0.4)})
         |  WHERE jaccard_micro >= ${t}0000""".stripMargin
    }.mkString("\nUNION ALL\n")
    Seq(
      melt("dedup_impact", "bucket", oracle0("p107_dedup_impact"),
        Seq("n_clusters", "n_docs", "n_docs_removed", "toks_removed")),
      sweep,
      melt("source_dup", "source", oSourceDupRates,
        Seq("n_docs", "n_clustered", "n_dropped", "toks_dropped",
          "dup_rate_micro")),
      melt("retrieval", "method", oDedupRetrievalImpact,
        Seq("n_queries", "n_hits", "mrr_micro", "ndcg_micro")),
      melt("release_diff", "source || '|' || status",
        oReleaseDiffCard,
        Seq("n_docs", "n_toks_old", "n_toks_new"))
    ).mkString("\nUNION ALL\n")
  }

  /** The p189 oracle: closed-form base + drifted fixtures, the frozen
    * quantizer (base rows < 32 / < 8), coarse assignment and PQ codes
    * over the FULL final mass (codes are append-invariant — the
    * frozen quantizer never re-codes, so one codes table serves every
    * stage restricted by id range), per-vector floored reconstruction
    * errors, and per (stage, mass) the served ADC top-3 against the
    * exact cosine ranking over that stage's union — all in the
    * integer/double op order the engine uses (the oIvfPqAd
    * conventions, green on p74/p178/p181).
    */
  lazy val oQuantizerDrift: String = {
    def oDotAt(a: String, b: String, s: Int): String =
      s"""list_sum(list_transform(generate_series(1, 16),
         |      i -> CAST($a[${s * 16} + i] AS DOUBLE)
         |           * CAST($b[${s * 16} + i] AS DOUBLE)))""".stripMargin
    def oD2At(a: String, b: String, s: Int): String =
      s"""(${oDotAt(a, a, s)}
         |   - 2 * ${oDotAt(a, b, s)}
         |   + ${oDotAt(b, b, s)})""".stripMargin
    val baseDef =
      s"""SELECT vec_id,
         |  list_transform(generate_series(1, 64), d ->
         |    CAST((${oHash("'cc' || CAST(vec_id % 32 AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 2001 - 1000
         |        + ${oHash("'cn' || CAST(vec_id AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 21 - 10) AS FLOAT)) AS embedding
         |FROM embeddings""".stripMargin
    def driftDef(stage: Int) =
      s"""SELECT vec_id,
         |  list_transform(generate_series(1, 64), d ->
         |    CAST((${oHash(s"'dc$stage' || CAST(vec_id % 32 AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 2001 - 1000
         |        + ${oHash(s"'dn$stage' || CAST(vec_id AS VARCHAR) || '_' || CAST(d AS VARCHAR)")} % 21 - 10) AS FLOAT)) AS embedding
         |FROM (SELECT vec_id + ${stage * 1000000L} AS vec_id
         |      FROM embeddings WHERE vec_id % 4 = $stage)""".stripMargin
    val adTerms = (0 until 4)
      .map(s => oD2At("q.embedding", s"e$s.ce", s)).mkString("\n  + ")
    // one (stage, mass) scorecard row: served ADC top-3 vs exact
    // cosine top-3 over the stage's union, plus the mass's recon stats
    def rowSql(stage: String, mass: String, unionPred: String,
        massPred: String, qPred: String): String = {
      val served =
        s"""SELECT query_id, cand_id FROM (
           |  SELECT q.vec_id AS query_id, w.vec_id AS cand_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |      ($adTerms) ASC, w.vec_id ASC) AS rn
           |  FROM (SELECT vec_id, embedding FROM u2 WHERE $qPred) q
           |  JOIN (SELECT qid, cent_id FROM (
           |          SELECT q2.vec_id AS qid, c.cent_id,
           |            ROW_NUMBER() OVER (PARTITION BY q2.vec_id
           |              ORDER BY ${oCos("q2.embedding", "c.ce")} DESC,
           |                c.cent_id ASC) AS prn
           |          FROM (SELECT vec_id, embedding FROM u2
           |                WHERE $qPred) q2, ccents c)
           |        WHERE prn <= 2) pr ON pr.qid = q.vec_id
           |  JOIN asg cc ON cc.cent_id = pr.cent_id
           |    AND ${unionPred.replace("vec_id", "cc.vec_id")}
           |  JOIN codesw w ON w.vec_id = cc.vec_id
           |  JOIN pcents e0 ON e0.cent_id = w.c0
           |  JOIN pcents e1 ON e1.cent_id = w.c1
           |  JOIN pcents e2 ON e2.cent_id = w.c2
           |  JOIN pcents e3 ON e3.cent_id = w.c3
           |  WHERE q.vec_id != w.vec_id) WHERE rn <= 3""".stripMargin
      val exact =
        s"""SELECT query_id, cand_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |      ORDER BY ${oCos("q.embedding", "c.embedding")} DESC,
           |        c.vec_id ASC) AS rn
           |  FROM (SELECT vec_id, embedding FROM u2 WHERE $qPred) q
           |  JOIN u2 c ON ${unionPred.replace("vec_id", "c.vec_id")}
           |    AND c.vec_id != q.vec_id) WHERE rn <= 3""".stripMargin
      s"""SELECT '$stage' AS stage, '$mass' AS mass,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM recon
         |   WHERE $massPred) AS n_vecs,
         |  (SELECT CAST(SUM(e) // COUNT(*) AS BIGINT) FROM recon
         |   WHERE $massPred) AS recon_err,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ($served) a
         |   JOIN ($exact) e ON a.query_id = e.query_id
         |    AND a.cand_id = e.cand_id) AS n_hits,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ($exact)) AS n_truth"""
        .stripMargin
    }
    val reconTerms = (0 until 4)
      .map(s => oD2At("v.embedding", s"e$s.ce", s)).mkString("\n  + ")
    val rows = Seq(
      ("0_export", "base", "vec_id < 1000000", "vec_id < 1000000",
        "vec_id < 16"),
      ("1_append25", "base", "vec_id < 2000000", "vec_id < 1000000",
        "vec_id < 16"),
      ("1_append25", "delta", "vec_id < 2000000",
        "vec_id >= 1000000 AND vec_id < 2000000",
        "vec_id >= 1000000 AND vec_id < 1000064"),
      ("2_append50", "base", "vec_id < 3000000", "vec_id < 1000000",
        "vec_id < 16"),
      ("2_append50", "delta", "vec_id < 3000000",
        "vec_id >= 1000000",
        "vec_id >= 1000000 AND vec_id < 1000064"))
      .map { case (st, ms, up, mp, qp) => rowSql(st, ms, up, mp, qp) }
      .mkString("\nUNION ALL\n")
    s"""WITH base AS MATERIALIZED ($baseDef),
       |d1 AS MATERIALIZED (${driftDef(1)}),
       |d2 AS MATERIALIZED (${driftDef(2)}),
       |u2 AS MATERIALIZED (
       |  SELECT * FROM base UNION ALL SELECT * FROM d1
       |  UNION ALL SELECT * FROM d2),
       |ccents AS MATERIALIZED (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM base
       |  WHERE vec_id < 32),
       |pcents AS MATERIALIZED (
       |  SELECT vec_id AS cent_id, embedding AS ce FROM base
       |  WHERE vec_id < 32),
       |subs AS (SELECT unnest(generate_series(0, 3)) AS s),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT e.vec_id, c.cent_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${oCos("e.embedding", "c.ce")} DESC,
       |          c.cent_id ASC) AS rn
       |    FROM u2 e, ccents c) WHERE rn = 1),
       |pqscored AS (
       |  SELECT e.vec_id, subs.s, c.cent_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, subs.s ORDER BY
       |      (list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(e.embedding[subs.s*16 + i] AS DOUBLE)
       |              * CAST(e.embedding[subs.s*16 + i] AS DOUBLE)))
       |       - 2 * list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(e.embedding[subs.s*16 + i] AS DOUBLE)
       |              * CAST(c.ce[subs.s*16 + i] AS DOUBLE)))
       |       + list_sum(list_transform(generate_series(1, 16),
       |         i -> CAST(c.ce[subs.s*16 + i] AS DOUBLE)
       |              * CAST(c.ce[subs.s*16 + i] AS DOUBLE)))) ASC,
       |      c.cent_id ASC) AS rn
       |  FROM u2 e, pcents c, subs),
       |codesw AS MATERIALIZED (
       |  SELECT vec_id,
       |    MAX(CASE WHEN s = 0 THEN cent_id END) AS c0,
       |    MAX(CASE WHEN s = 1 THEN cent_id END) AS c1,
       |    MAX(CASE WHEN s = 2 THEN cent_id END) AS c2,
       |    MAX(CASE WHEN s = 3 THEN cent_id END) AS c3
       |  FROM pqscored WHERE rn = 1 GROUP BY vec_id),
       |recon AS MATERIALIZED (
       |  SELECT v.vec_id, CAST(FLOOR($reconTerms) AS BIGINT) AS e
       |  FROM u2 v
       |  JOIN codesw w ON w.vec_id = v.vec_id
       |  JOIN pcents e0 ON e0.cent_id = w.c0
       |  JOIN pcents e1 ON e1.cent_id = w.c1
       |  JOIN pcents e2 ON e2.cent_id = w.c2
       |  JOIN pcents e3 ON e3.cent_id = w.c3),
       |refr AS (SELECT SUM(e) // COUNT(*) AS r FROM recon
       |         WHERE vec_id < 1000000)
       |SELECT stage, mass, n_vecs, recon_err, n_hits, n_truth,
       |  CAST(FLOOR(n_hits * 1e6 / n_truth) AS BIGINT) AS recall_micro,
       |  CAST(CASE WHEN recon_err > 4 * refr.r THEN 1 ELSE 0 END
       |    AS BIGINT) AS retrain_recommended
       |FROM ($rows) CROSS JOIN refr""".stripMargin
  }

  /** Dirichlet query-likelihood replay (p129; reused by the p130
    * scorecard): the [[oBm25Ctes]] postings chain plus the three
    * floored score components of [[Retrieval.qlTopK]].
    */
  def oQlTopK: String = {
    val muP = "(100.0 * (CAST(c.cf AS DOUBLE)" +
      " / CAST(st.sdl AS DOUBLE)))"
    s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 4)},
       |cfq AS (
       |  SELECT p.tok, SUM(p.tf) AS cf FROM post p
       |  WHERE p.tok IN (SELECT DISTINCT tok FROM qt)
       |  GROUP BY p.tok),
       |qs AS (
       |  SELECT q.query_id, COUNT(*) AS nq,
       |    CAST(SUM(CAST(FLOOR(ln($muP) * 1000000.0) AS BIGINT))
       |      AS BIGINT) AS aq
       |  FROM qt q JOIN cfq c ON q.tok = c.tok CROSS JOIN st
       |  GROUP BY q.query_id),
       |qsc AS (
       |  SELECT q.query_id, p.doc_id, COUNT(*) AS n_terms,
       |    CAST(SUM(CAST(FLOOR(ln((CAST(p.tf AS DOUBLE) + $muP)
       |      / $muP) * 1000000.0) AS BIGINT)) AS BIGINT) AS dsum
       |  FROM post p
       |  JOIN qt q ON p.tok = q.tok
       |  JOIN cfq c ON p.tok = c.tok
       |  CROSS JOIN st
       |  GROUP BY q.query_id, p.doc_id),
       |qfin AS (
       |  SELECT s.query_id, s.doc_id, s.n_terms,
       |    s.dsum + qs.aq - qs.nq * CAST(FLOOR(
       |      ln(CAST(d.dl AS DOUBLE) + 100.0) * 1000000.0)
       |      AS BIGINT) AS score_micro
       |  FROM qsc s
       |  JOIN dl d ON s.doc_id = d.doc_id
       |  JOIN qs ON s.query_id = qs.query_id),
       |qrk AS (
       |  SELECT query_id, doc_id, n_terms, score_micro,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rank
       |  FROM qfin)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |  CAST(n_terms AS BIGINT) AS n_terms, score_micro
       |FROM qrk WHERE rank <= 10""".stripMargin
  }

  /** Two-pass PRF replay (p120; reused by the p130 scorecard):
    * pass-1 top-3 feedback docs donate their 5 best non-query terms,
    * pass 2 rescores with the expanded term set.
    */
  def oPrf: String = {
    val idf2 = "ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(f.df" +
      " AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))"
    val norm2 = "(CAST(p.tf AS DOUBLE) * 2.2 / (CAST(p.tf AS" +
      " DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE)" +
      " / (CAST(st.sdl AS DOUBLE) / CAST(st.nd AS DOUBLE))))))"
    s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 4)},
       |fbdocs AS (SELECT query_id, doc_id FROM rk WHERE rank <= 3),
       |fbt AS (
       |  SELECT fd.query_id, p.tok, SUM(p.tf) AS fbscore
       |  FROM fbdocs fd JOIN post p ON fd.doc_id = p.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM qt
       |    WHERE qt.query_id = fd.query_id AND qt.tok = p.tok)
       |  GROUP BY fd.query_id, p.tok),
       |expn AS (
       |  SELECT query_id, tok FROM (
       |    SELECT query_id, tok, ROW_NUMBER() OVER (
       |      PARTITION BY query_id
       |      ORDER BY fbscore DESC, tok) AS r
       |    FROM fbt)
       |  WHERE r <= 5),
       |qt2 AS (SELECT query_id, tok FROM qt
       |        UNION SELECT query_id, tok FROM expn),
       |dfq2 AS (
       |  SELECT p.tok, COUNT(*) AS df FROM post p
       |  WHERE p.tok IN (SELECT DISTINCT tok FROM qt2)
       |  GROUP BY p.tok),
       |sc2 AS (
       |  SELECT q.query_id, p.doc_id, COUNT(*) AS n_terms,
       |    CAST(SUM(CAST(FLOOR($idf2 * $norm2 * 1000000.0)
       |      AS BIGINT)) AS BIGINT) AS score_micro
       |  FROM post p
       |  JOIN qt2 q ON p.tok = q.tok
       |  JOIN dfq2 f ON p.tok = f.tok
       |  JOIN dl d ON p.doc_id = d.doc_id
       |  CROSS JOIN st
       |  GROUP BY q.query_id, p.doc_id),
       |rkx AS (
       |  SELECT query_id, doc_id, n_terms, score_micro,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rank
       |  FROM sc2)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |  CAST(n_terms AS BIGINT) AS n_terms, score_micro
       |FROM rkx WHERE rank <= 10""".stripMargin
  }

  /** Sparse+dense RRF fusion replay (p119; reused by the p130
    * scorecard): BM25 top-10 and brute-force cosine top-10 fused by
    * exact-integer reciprocal ranks.
    */
  def oRrf: String =
    s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 4)},
       |bm AS (SELECT query_id, doc_id, rank FROM rk
       |       WHERE rank <= 10),
       |qv AS (SELECT vec_id AS query_id, embedding AS qe
       |       FROM embeddings WHERE vec_id % ${oQStride("embeddings")} = 0),
       |cscored AS (
       |  SELECT query_id, e.vec_id AS cand_id,
       |    ${oCos("qe", "e.embedding")} AS sim
       |  FROM embeddings e, qv WHERE e.vec_id != query_id),
       |dn AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, cand_id AS doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, cand_id ASC) AS rank
       |    FROM cscored)
       |  WHERE rank <= 10),
       |f AS (
       |  SELECT COALESCE(b.query_id, d.query_id) AS query_id,
       |    COALESCE(b.doc_id, d.doc_id) AS doc_id,
       |    COALESCE(b.rank, 0) AS rank_sparse,
       |    COALESCE(d.rank, 0) AS rank_dense,
       |    (CASE WHEN b.rank IS NULL THEN 0
       |          ELSE 1000000 // (60 + b.rank) END)
       |    + (CASE WHEN d.rank IS NULL THEN 0
       |            ELSE 1000000 // (60 + d.rank) END) AS rrf_micro
       |  FROM bm b FULL OUTER JOIN dn d
       |    ON b.query_id = d.query_id AND b.doc_id = d.doc_id),
       |rk2 AS (
       |  SELECT f.*, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micro DESC, doc_id) AS rank
       |  FROM f)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |  CAST(rank_sparse AS BIGINT) AS rank_sparse,
       |  CAST(rank_dense AS BIGINT) AS rank_dense,
       |  CAST(rrf_micro AS BIGINT) AS rrf_micro
       |FROM rk2 WHERE rank <= 10""".stripMargin

  /** Simple-BM25F replay (p132; reused by the p130 scorecard):
    * weighted-field postings and lengths (title = toks[1:8] at weight
    * 3, body = toks[9:] at weight 1), then the shared BM25 scoring
    * formula (k1 = 1.2, b = 0.75) over the combined exact-integer
    * tf/dl — mirroring [[Retrieval.bm25fIndex]] and
    * [[Retrieval.prunedHits]].
    */
  def oBm25f: String = {
    val avgdl = "(CAST(st.sdl AS DOUBLE) / CAST(st.nd AS DOUBLE))"
    val idf = "ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(f.df AS DOUBLE)" +
      " + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))"
    val norm = s"(CAST(p.tf AS DOUBLE) * 2.2" +
      s" / (CAST(p.tf AS DOUBLE) + 1.2 * (0.25" +
      s" + 0.75 * (CAST(d.dl AS DOUBLE) / $avgdl))))"
    s"""WITH fb AS (SELECT doc_id, $oToks AS toks FROM documents),
       |ff AS (SELECT doc_id, toks[1:8] AS tt, toks[9:] AS bt, toks
       |       FROM fb),
       |fdl AS (SELECT doc_id,
       |    CAST(3 * len(tt) + len(bt) AS BIGINT) AS dl FROM ff),
       |fst AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
       |    CAST(SUM(dl) AS BIGINT) AS sdl FROM fdl),
       |fpost AS (
       |  SELECT tok, doc_id, CAST(SUM(w) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(tt) AS tok, 3 AS w FROM ff
       |    UNION ALL
       |    SELECT doc_id, unnest(bt) AS tok, 1 AS w FROM ff)
       |  GROUP BY tok, doc_id),
       |fqt AS (
       |  SELECT doc_id AS query_id, toks[i] AS tok
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, least(len(toks), 4))) AS i
       |        FROM fb WHERE doc_id % ${oQStride("fb")} = 0)
       |  GROUP BY 1, 2),
       |fdf AS (
       |  SELECT p.tok, COUNT(*) AS df FROM fpost p
       |  WHERE p.tok IN (SELECT DISTINCT tok FROM fqt)
       |  GROUP BY p.tok),
       |fsc AS (
       |  SELECT q.query_id, p.doc_id, COUNT(*) AS n_terms,
       |    CAST(SUM(CAST(FLOOR($idf * $norm * 1000000.0) AS BIGINT))
       |      AS BIGINT) AS score_micro
       |  FROM fpost p
       |  JOIN fqt q ON p.tok = q.tok
       |  JOIN fdf f ON p.tok = f.tok
       |  JOIN fdl d ON p.doc_id = d.doc_id
       |  CROSS JOIN fst st
       |  GROUP BY q.query_id, p.doc_id),
       |frk AS (
       |  SELECT query_id, doc_id, n_terms, score_micro,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score_micro DESC, doc_id) AS rank
       |  FROM fsc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       |  CAST(n_terms AS BIGINT) AS n_terms, score_micro
       |FROM frk WHERE rank <= 10""".stripMargin
  }

  /** Learning-to-rank replay (p173): the feature chain (BM25
    * candidates + proximity + phrase containment, lifted from the
    * p134/p131 oracles), twelve MATERIALIZED GD weight rounds
    * mirroring [[graft.pipeline.Ltr.ltrWeights]] floor for floor
    * (the exact `(x − ((x mod m)+m) mod m) // m` dance — DuckDB `//`
    * and Spark `div` only agree after the subtraction makes the
    * numerator exactly divisible), the trained re-rank, and both
    * scorecard rows.
    */
  def oLtrRerank(iters: Int, lrNum: Long): String = {
    def fd(x: String, m: String) =
      s"(($x - ((($x) % ($m)) + ($m)) % ($m)) // ($m))"
    def zExpr(w: String) =
      s"${fd(s"$w.w1 * x1", "1000000")} + ${fd(s"$w.w2 * x2", "1000000")}" +
        s" + ${fd(s"$w.w3 * x3", "1000000")} + $w.b"
    val rounds = (1 to iters).map { t =>
      val pw = s"w${t - 1}"
      s"""g$t AS MATERIALIZED (
         |  SELECT CAST(SUM(${fd("r * x1", "1000000")}) AS BIGINT) AS g1,
         |    CAST(SUM(${fd("r * x2", "1000000")}) AS BIGINT) AS g2,
         |    CAST(SUM(${fd("r * x3", "1000000")}) AS BIGINT) AS g3,
         |    CAST(SUM(r) AS BIGINT) AS gb
         |  FROM (SELECT x1, x2, x3,
         |      CAST(FLOOR((1.0 / (1.0 + exp(-(CAST(${zExpr(pw)}
         |          AS DOUBLE) / 1000000.0))) - y) * 1e6) AS BIGINT)
         |        AS r
         |    FROM ft, $pw)),
         |w$t AS MATERIALIZED (
         |  SELECT CAST($pw.w1 - ${fd(s"g1 * $lrNum", "nn.n")} AS BIGINT)
         |      AS w1,
         |    CAST($pw.w2 - ${fd(s"g2 * $lrNum", "nn.n")} AS BIGINT) AS w2,
         |    CAST($pw.w3 - ${fd(s"g3 * $lrNum", "nn.n")} AS BIGINT) AS w3,
         |    CAST($pw.b - ${fd(s"gb * $lrNum", "nn.n")} AS BIGINT) AS b
         |  FROM $pw, g$t, nn)""".stripMargin
    }.mkString(",\n")
    s"""${oBm25Ctes(k1 = 1.2, b = 0.75, qTerms = 4)},
       |ltc AS (SELECT query_id, doc_id, rank, score_micro FROM rk
       |        WHERE rank <= 10),
       |ltp AS (
       |  SELECT b.doc_id, b.i AS pos, b.toks[b.i] AS tok
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks))) AS i
       |        FROM base) b
       |  JOIN (SELECT DISTINCT doc_id FROM ltc) cd
       |    ON b.doc_id = cd.doc_id),
       |ltm AS (
       |  SELECT c.query_id, c.doc_id, p.pos, p.tok
       |  FROM ltc c
       |  JOIN ltp p ON p.doc_id = c.doc_id
       |  JOIN qt q ON q.query_id = c.query_id AND q.tok = p.tok),
       |ltd AS (
       |  SELECT a.query_id, a.doc_id,
       |    MIN(ABS(a.pos - b.pos)) AS min_pair_dist
       |  FROM ltm a JOIN ltm b ON a.query_id = b.query_id
       |    AND a.doc_id = b.doc_id AND a.tok != b.tok
       |  GROUP BY a.query_id, a.doc_id),
       |ltq AS (SELECT doc_id AS query_id,
       |    ${oHash("array_to_string(toks[1:4], ' ')")}
       |      % 2147483647 AS ph
       |  FROM base WHERE doc_id % ${oQStride("base")} = 0),
       |ltg AS (
       |  SELECT b.doc_id,
       |    unnest(list_transform(${oShingles(4)},
       |      s -> ${oHash("s")} % 2147483647)) AS g
       |  FROM base b
       |  JOIN (SELECT DISTINCT doc_id FROM ltc) cd
       |    ON b.doc_id = cd.doc_id),
       |lth AS (
       |  SELECT DISTINCT c.query_id, c.doc_id
       |  FROM ltc c
       |  JOIN ltq ON c.query_id = ltq.query_id
       |  JOIN ltg ON ltg.doc_id = c.doc_id AND ltg.g = ltq.ph),
       |ft AS MATERIALIZED (
       |  SELECT c.query_id, c.doc_id, c.rank,
       |    CAST(c.score_micro // 10 AS BIGINT) AS x1,
       |    CAST(CASE WHEN d.min_pair_dist IS NULL THEN 0
       |         ELSE 1000000 // (d.min_pair_dist + 4) END
       |      AS BIGINT) AS x2,
       |    CAST(CASE WHEN h.doc_id IS NOT NULL THEN 1000000 ELSE 0 END
       |      AS BIGINT) AS x3,
       |    CAST(CASE WHEN c.query_id = c.doc_id THEN 1 ELSE 0 END
       |      AS BIGINT) AS y
       |  FROM ltc c
       |  LEFT JOIN ltd d ON c.query_id = d.query_id
       |    AND c.doc_id = d.doc_id
       |  LEFT JOIN lth h ON c.query_id = h.query_id
       |    AND c.doc_id = h.doc_id),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ft),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
       |       CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS b),
       |$rounds,
       |ltrr AS (
       |  SELECT query_id, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${zExpr(s"w$iters")} DESC, doc_id) AS rank
       |  FROM ft, w$iters)
       |${oScorecardRow("ltc", "bm25")}
       |UNION ALL
       |${oScorecardRow("ltrr", "ltr_trained")}""".stripMargin
  }

  /** The shared nDCG discount CASE over an in-scope `rank` — the
    * [[Retrieval.dcgMicroTable]] literals, identical to the ones the
    * Spark plans fold in.
    */
  def oDcgCase: String = graft.pipeline.Retrieval
    .dcgMicroTable(10)
    .map { case (r, v) => s"WHEN $r THEN $v" }.mkString(" ")

  /** Per-query nDCG metric CTE `m$sfx(query_id, m)` over a ranked
    * relation (p136) — planted relevance, 0 for misses.
    */
  def oSigMetric(rel: String, sfx: String): String =
    s"""m$sfx AS (
       |  SELECT q.query_id, CAST(COALESCE(h.m0, 0) AS BIGINT) AS m
       |  FROM qids q LEFT JOIN (
       |    SELECT query_id, CASE rank $oDcgCase ELSE 0 END AS m0
       |    FROM $rel WHERE doc_id = query_id) h
       |    ON q.query_id = h.query_id)""".stripMargin

  /** One sign-flip test block (p136): diffs of `mxf` (the bm25f base)
    * vs `m$sfx`, 200 hash-drawn permutations, two-sided p — ending at
    * `s$sfx(method, t_obs_micro, n_perms, n_ge, p_micro)`.
    */
  def oSigBlock(label: String, sfx: String): String = {
    val coin = oHash(
      "'sig' || CAST(perm AS VARCHAR) || '_' || CAST(query_id AS VARCHAR)")
    s"""d$sfx AS (SELECT a.query_id, a.m - b.m AS d
       |  FROM mxf a JOIN m$sfx b ON a.query_id = b.query_id),
       |p$sfx AS (
       |  SELECT perm, CAST(SUM(CASE WHEN $coin % 2 = 0
       |      THEN -d ELSE d END) AS BIGINT) AS t
       |  FROM d$sfx, (SELECT unnest(generate_series(1, 200)) AS perm)
       |  GROUP BY perm),
       |o$sfx AS (SELECT CAST(SUM(d) AS BIGINT) AS t_obs FROM d$sfx),
       |s$sfx AS (
       |  SELECT '$label' AS method, o.t_obs AS t_obs_micro,
       |    CAST(COUNT(*) AS BIGINT) AS n_perms,
       |    CAST(SUM(CASE WHEN ABS(t) >= ABS(o.t_obs)
       |        THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
       |    CAST((SUM(CASE WHEN ABS(t) >= ABS(o.t_obs)
       |        THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
       |      AS p_micro
       |  FROM p$sfx, o$sfx o GROUP BY o.t_obs)""".stripMargin
  }

  /** One p130 scorecard row over a ranked relation `rel(query_id,
    * rank, doc_id, ...)`: planted relevance (doc_id = query_id),
    * exact-integer MRR and nDCG@10 — the discount literals come from
    * [[Retrieval.dcgMicroTable]], the SAME driver-computed constants
    * the Spark plan folds in, so no cross-engine libm floor risk.
    */
  def oScorecardRow(rel: String, method: String): String = {
    val dcgCase = oDcgCase
    s"""SELECT '$method' AS method,
       |  CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
       |  CAST(SUM(CASE WHEN doc_id = query_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  CAST(CAST(SUM(CASE WHEN doc_id = query_id
       |      THEN 1000000 // rank ELSE 0 END) AS BIGINT)
       |    // COUNT(DISTINCT query_id) AS BIGINT) AS mrr_micro,
       |  CAST(CAST(SUM(CASE WHEN doc_id = query_id
       |      THEN CASE rank $dcgCase ELSE 0 END ELSE 0 END)
       |      AS BIGINT)
       |    // COUNT(DISTINCT query_id) AS BIGINT) AS ndcg_micro
       |FROM $rel""".stripMargin
  }

}
