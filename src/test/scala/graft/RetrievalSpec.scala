package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Retrieval}

/** Functional checks for the round-10 retrieval/evaluation layer:
  * BM25 search, exact ROC-AUC, perplexity terciles, per-domain caps,
  * PMI collocations, and the gradient-trained LR quality classifier.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- BM25

  test("bm25: rarer terms dominate, exact self-doc tops a disjoint corpus") {
    // two disjoint vocabularies: a query drawn from doc 1 must rank
    // docs 1,2 (its vocabulary) above 3,4 and score doc 1 highest —
    // doc 1 holds MORE distinct query terms than doc 2
    val docs = Seq(
      (1L, "apple banana cherry durian"),
      (2L, "apple banana plum plum plum plum plum plum"),
      (3L, "wolf fox bear lynx"),
      (4L, "wolf fox otter otter")).toDF("doc_id", "text")
    val qs = Seq((1L, "apple banana cherry durian")).toDF("qid", "qtext")
    val top = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid",
        "qtext", k = 10)
      .orderBy("rank").select("doc_id", "score_micro")
      .as[(Long, Long)].collect()
    assert(top.map(_._1).toSeq == Seq(1L, 2L),
      s"expected docs 1,2 only, got ${top.toSeq}")
    assert(top(0)._2 > top(1)._2, "4/4 term match must outscore 2/4")
  }

  test("bm25: length normalization demotes the padded copy of an equal match") {
    // same tf for the query term, one doc padded with filler: the
    // longer document must score LOWER (b = 0.75)
    val docs = Seq(
      (1L, "target alpha"),
      (2L, "target alpha filler filler filler filler filler filler"))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "target")).toDF("qid", "qtext")
    val top = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid",
        "qtext", k = 2)
      .orderBy("rank").select("doc_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 2L), top.toSeq.toString)
  }

  test("bm25 on the corpus: ranks contiguous, scores non-increasing, ties on id") {
    val out = graft.queries.PipelineQueries2.p112Bm25(spark, sf0001)
      .collect().groupBy(_.getLong(0))
    assert(out.nonEmpty)
    for ((_, rows) <- out) {
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getLong(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // deterministic tie-break: equal scores ordered by doc_id
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        if (a.getLong(4) == b.getLong(4))
          assert(a.getLong(2) < b.getLong(2))
      }
    }
  }

  test("pmi expansion: empty table is rank-invariant; a collocate retrieves new docs") {
    val docs = Seq(
      (1L, "apple banana"),
      (2L, "apple cherry"),
      (3L, "durian durian durian"),
      (4L, "plum wolf")).toDF("doc_id", "text")
    val qs = Seq((1L, "apple")).toDF("qid", "qtext")
    val empty = Seq.empty[(String, String, Long)]
      .toDF("tok_a", "tok_b", "pmi_micro")
    val plain = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid",
        "qtext", k = 10)
      .orderBy("rank").select("doc_id", "rank", "score_micro")
      .as[(Long, Long, Long)].collect().toSeq
    val noExp = Retrieval.bm25PlainAndPmiExpanded(docs, "doc_id", "text",
        qs, "qid", "qtext", empty, k = 10)(1)
      .orderBy("rank").select("doc_id", "rank", "score_micro")
      .as[(Long, Long, Long)].collect().toSeq
    // no expansion terms: same candidates, same order, scores exactly 2x
    assert(noExp.map(t => (t._1, t._2)) == plain.map(t => (t._1, t._2)))
    assert(noExp.map(_._3) == plain.map(_._3 * 2), (plain, noExp).toString)
    // a planted apple->durian collocate pulls doc 3 (no query term)
    // into the candidate set at weight 1
    val coll = Seq(("apple", "durian", 500000L))
      .toDF("tok_a", "tok_b", "pmi_micro")
    val exp = Retrieval.bm25PlainAndPmiExpanded(docs, "doc_id", "text",
        qs, "qid", "qtext", coll, k = 10)(1)
      .select("doc_id").as[Long].collect().toSet
    assert(exp.contains(3L), s"expansion must retrieve doc 3: $exp")
    assert(!plain.map(_._1).contains(3L))
  }

  test("bootstrapMrrCi: degenerate resamples collapse, mixed case orders lo<=hi") {
    import graft.pipeline.Retrieval
    val qids = (1L to 8L).toDF("query_id")
    // every query hits at rank 1: all resample MRRs are exactly 1e6
    val perfect = (1L to 8L).map(q => (q, q, 1L))
      .toDF("query_id", "doc_id", "rank")
    val p = Retrieval.bootstrapMrrCi(perfect, qids, "m", nBoot = 40,
        salt = "t")
      .select("n_queries", "n_boot", "mrr_micro", "ci_lo_micro",
        "ci_hi_micro")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(p == ((8L, 40L, 1000000L, 1000000L, 1000000L)), p.toString)
    // half hit at rank 2: CI bounds ordered around a 250000-ish point
    val half = (1L to 4L).map(q => (q, q, 2L))
      .toDF("query_id", "doc_id", "rank")
    val h = Retrieval.bootstrapMrrCi(half, qids, "m", nBoot = 40,
        salt = "t")
      .select("mrr_micro", "ci_lo_micro", "ci_hi_micro")
      .as[(Long, Long, Long)].head()
    assert(h._1 == 250000L, h.toString)
    assert(h._2 <= h._3 && h._2 >= 0L && h._3 <= 500000L, h.toString)
  }

  test("rrf fusion: overlap wins, single-list docs carry rank 0 on the other side") {
    val sparse = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("query_id", "doc_id", "rank")
    val out = graft.pipeline.Retrieval.rrfFuse(sparse, dense, k0 = 60,
        topK = 10)
      .orderBy("rank")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // d20 in both lists: 1e6/62 + 1e6/61; d10 sparse-only 1e6/61; d30 dense-only 1e6/62
    assert(out == Seq(
      (1L, 1L, 20L, 2L, 1L, 16129L + 16393L),
      (1L, 2L, 10L, 1L, 0L, 16393L),
      (1L, 3L, 30L, 0L, 2L, 16129L)), out.toString)
  }

  test("query likelihood: exact match tops, padding demotes, BM25 agreement") {
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana filler filler filler filler"),
      (3L, "wolf fox bear")).toDF("doc_id", "text")
    val qs = Seq((1L, "apple banana")).toDF("qid", "qtext")
    val ql = Retrieval.qlTopK(docs, "doc_id", "text", qs, "qid",
        "qtext", k = 10)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    // doc 3 shares no term -> excluded; doc 1 is shorter at equal tf
    assert(ql == Seq(1L, 2L), ql.toString)
    val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid",
        "qtext", k = 10)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(ql == bm, "the ranking pair disagrees on the clear-cut case")
  }

  test("PRF expansion retrieves feedback-vocabulary docs plain BM25 misses") {
    val docs = Seq(
      (1L, "alpha beta beta"),
      (2L, "beta beta beta gamma"),          // no query term
      (3L, "delta epsilon zeta")).toDF("doc_id", "text")
    val qs = Seq((1L, "alpha")).toDF("qid", "qtext")
    val plain = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "qid",
        "qtext", k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == Set(1L), plain.toString)
    val prf = Retrieval.bm25Prf(docs, "doc_id", "text", qs, "qid",
        "qtext", fbDocs = 1, fbTerms = 2, k = 10)
      .select("doc_id").as[Long].collect().toSet
    // doc 1's feedback donates "beta" -> doc 2 becomes retrievable
    assert(prf == Set(1L, 2L), prf.toString)
  }

  test("entropy stats match hand-computed micro-floored values") {
    val docs = Seq(
      (1L, "aa"),                 // one char type, one token: both 0
      (2L, "ab"),                 // two chars p=1/2 each
      (3L, "x y")).toDF("doc_id", "text")
    val out = Curation.entropyStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val half = math.floor(-(0.5 * math.log(0.5)) * 1e6).toLong  // 346573
    assert(out(0) == ((1L, 2L, 0L, 1L, 0L)), out(0).toString)
    assert(out(1) == ((2L, 2L, 2 * half, 1L, 0L)), out(1).toString)
    // "x y": 3 chars each p=1/3; 2 distinct tokens p=1/2
    val third = math.floor(-((1.0 / 3) * math.log(1.0 / 3)) * 1e6).toLong
    assert(out(2) == ((3L, 3L, 3 * third, 2L, 2 * half)), out(2).toString)
  }

  // ---------------------------------------------------------- ROC-AUC

  test("rocAuc matches hand-computed U on separable, tied, and anti cases") {
    def auc(rows: Seq[(Long, Long)]): (Long, Long, Long, Long) =
      Curation.rocAuc(rows.toDF("score_micro", "cls"), "score_micro",
          "cls")
        .as[(Long, Long, Long, Long)].collect().head
    // perfect separation: AUC 1
    assert(auc(Seq((3L, 1L), (2L, 1L), (1L, 0L)))._4 == 1000000L)
    // one inversion among 2x1 pairs: U = 1 -> AUC 0.5
    assert(auc(Seq((3L, 1L), (2L, 0L), (1L, 1L)))._4 == 500000L)
    // all tied: AUC exactly 0.5 via the half-credit term
    assert(auc(Seq((5L, 1L), (5L, 0L), (5L, 1L), (5L, 0L)))._4 == 500000L)
    // anti-separation: AUC 0
    assert(auc(Seq((1L, 1L), (2L, 0L)))._4 == 0L)
  }

  test("dedup cut lifts MRR when a shorter near-copy crowds out the source") {
    // doc 11 is a shorter near-copy of doc 10 (shared shingle J = 5/9
    // ≥ 0.4): BM25 length normalization ranks the COPY first, so the
    // full-corpus card scores the planted query at rank 2 (RR ½);
    // the min-id cut drops the copy and the source returns to rank 1
    // — the exact before/after story the p156 card exists to tell
    val docs = Seq(
      (10L, "a b c d e f g h i j k l"),
      (11L, "a b c d e f g h"),
      (12L, "z y x w v u t s")).toDF("doc_id", "text")
    val queries = Seq((10L, "a b c d")).toDF("query_id", "qtext")
    val pairs = graft.pipeline.Dedup.ngramJaccardPairs(docs, "doc_id",
      "text", k = 4, threshold = 0.4)
    val dropped = graft.operators.ConnectedComponents.dedupDecisions(
        pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      .filter(col("keep") === 0).select(col("node").as("doc_id"))
    assert(dropped.as[Long].collect().toSeq == Seq(11L))
    def mrr(corpus: org.apache.spark.sql.DataFrame): Long =
      Retrieval.rankingScorecard(
          Retrieval.bm25TopK(corpus, "doc_id", "text", queries,
            "query_id", "qtext", k = 10), "x", topK = 10)
        .select($"mrr_micro").as[Long].head()
    assert(mrr(docs) == 500000L, "copy must crowd the source to rank 2")
    assert(mrr(docs.join(dropped, Seq("doc_id"), "left_anti")) ==
      1000000L, "cut corpus must rank the source first")
  }

  test("averagePrecision matches hand-computed AP on ranked, tied, and anti cases") {
    def ap(rows: Seq[(Long, Long)]): (Long, Long, Long, Long) =
      Curation.averagePrecision(rows.toDF("score_micro", "cls"),
          "score_micro", "cls")
        .as[(Long, Long, Long, Long)].collect().head
    // perfect ranking: AP 1
    assert(ap(Seq((3L, 1L), (2L, 1L), (1L, 0L)))._3 == 1000000L)
    // positives at ranks 1 and 3 of 3 (scores 3,2,1; cls 1,0,1):
    // AP = 1/2·(1/1) + 1/2·(2/3) = 5/6 -> floor terms 500000+333333
    assert(ap(Seq((3L, 1L), (2L, 0L), (1L, 1L)))._3 == 833333L)
    // all tied: one block, AP = precision = prevalence
    val t = ap(Seq((5L, 1L), (5L, 0L), (5L, 1L), (5L, 0L)))
    assert(t._3 == 500000L && t._4 == 500000L, t.toString)
    // anti-ranking: single positive last of 2 -> AP = 1/2
    assert(ap(Seq((1L, 1L), (2L, 0L)))._3 == 500000L)
    // zero positives: defined degenerate card (ap 0, prevalence 0),
    // NOT NULL from div(0, 0) — a funnel that labels nothing positive
    // must not break the integer contract
    assert(ap(Seq((3L, 0L), (1L, 0L))) == ((0L, 2L, 0L, 0L)))
  }

  test("nb classifier AP beats prevalence on the corpus (the p155 certificate)") {
    val row = graft.queries.PipelineQueries2.p155PrAuc(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().head
    assert(row._1 > 0 && row._2 > 0)
    assert(row._3 > row._4,
      s"NB ranking no better than random: AP ${row._3} vs prevalence ${row._4}")
    assert(row._3 > 900000L, s"NB training AP collapsed: ${row._3}")
  }

  test("nb classifier AUC on the corpus is strong (the p113 certificate)") {
    val row = graft.queries.PipelineQueries2.p113Auc(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().head
    assert(row._1 > 0 && row._2 > 0)
    assert(row._4 > 900000L, s"NB training AUC collapsed: ${row._4}")
  }

  // ----------------------------------------------- perplexity buckets

  test("perplexity terciles partition each language into near-equal thirds") {
    val docs = graft.core.Tables.read(spark, sf0001, "documents")
    val out = Curation.perplexityBuckets(docs, "doc_id", "text", "lang",
      vocabSize = 500)
    val perLang = out.groupBy("lang")
      .agg(sum("n_docs").as("n"), count(lit(1)).as("k"),
        max("n_docs").as("mx"), min("n_docs").as("mn"))
      .as[(String, Long, Long, Long, Long)].collect()
    val langTotals = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    for ((lang, n, k, mx, mn) <- perLang) {
      assert(n == langTotals(lang), s"$lang lost docs")
      assert(k == 3, s"$lang has $k buckets")
      assert(mx - mn <= 1, s"$lang terciles uneven: $mn..$mx")
    }
    // head is the low-perplexity side: its max <= tail's min per lang
    val byLang = out.collect().groupBy(_.getString(0))
    for ((lang, rows) <- byLang) {
      val m = rows.map(r => r.getString(1) -> r.getLong(5)).toMap
      val mn = rows.map(r => r.getString(1) -> r.getLong(4)).toMap
      assert(m("head") <= mn("tail"), s"$lang buckets out of order")
    }
  }

  // ------------------------------------------------------ domain caps

  test("domain cap keeps min(cap, n) docs and the highest-quality token mass") {
    val docs = Seq(
      (1L, "s1", "good good good", 900000L),
      (2L, "s1", "bad", 100000L),
      (3L, "s1", "mid mid", 500000L),
      (4L, "s2", "only", 700000L)).toDF("doc_id", "source", "text", "sc")
    val out = Curation.domainCap(docs, "doc_id", "text", "source",
        cap = 2, col("sc"))
      .orderBy("source")
      .as[(String, Long, Long, Long, Long)].collect()
    // s1: keeps docs 1 (3 toks) and 3 (2 toks), drops doc 2
    assert(out(0) == (("s1", 3L, 2L, 6L, 5L)), out(0).toString)
    // s2: under cap, everything kept
    assert(out(1) == (("s2", 1L, 1L, 1L, 1L)), out(1).toString)
  }

  // ----------------------------------------------------- collocations

  test("PMI surfaces a planted collocation above independent co-occurrence") {
    // "rio grande" always adjacent (pair count = unigram count); the
    // five fillers spread over four rotating slots, so their pair
    // counts stay well below their unigram counts
    val rows = (0 until 40).map { i =>
      val f = (k: Int) => s"f$k"
      (i.toLong, Seq("rio", "grande", f(i % 5), f((i * 3 + 1) % 5),
        "rio", "grande", f((i * 7 + 2) % 5), f((i + 3) % 5))
        .mkString(" "))
    }
    val out = Curation.pmiCollocations(rows.toDF("doc_id", "text"),
        "doc_id", "text", minCount = 5L, topK = 10)
      .orderBy("rank")
      .select("tok_a", "tok_b").as[(String, String)].collect()
    assert(out.head == (("rio", "grande")), out.toSeq.toString)
  }

  test("stream feature projection matches the p123 feature-store columns") {
    val batch = graft.queries.PipelineQueries2.p123DocFeatures(spark, sf0001)
      .select("doc_id", "n_toks", "score_micro", "lang_pred",
        "dup_3gram_frac", "chars_entropy_micro", "toks_entropy_micro")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Double, Long, Long)].collect().toSeq
    val stream = graft.streaming.StreamingJobs.featureGate(
        graft.core.Tables.read(spark, sf0001, "documents"))
      .select("doc_id", "n_toks", "score_micro", "lang_pred",
        "dup_3gram_frac", "chars_entropy_micro", "toks_entropy_micro")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String, Double, Long, Long)].collect().toSeq
    assert(batch == stream)
  }

  test("per-row entropy HOF is bit-equal to the batch groupBy path") {
    val docs = graft.core.Tables.read(spark, sf0001, "documents")
    val batch = Curation.entropyStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val hof = graft.streaming.StreamingJobs.entropyGate(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(batch == hof)
  }

  test("residual coding beats raw-vector IVF-PQ on hierarchical structure (p122)") {
    val recall = graft.queries.PipelineQueries2.p122ResidualPq(spark, sf0001)
      .as[(String, Long, Long, Long)].collect()
      .map { case (m, _, _, r) => m -> r }.toMap
    assert(recall("ivfpq_residual_hier") > recall("ivfpq_raw_hier") + 100000L,
      recall.toString)
    // the exact refine over the residual shortlist closes the gap
    assert(recall("ivfpq_residual_refine_hier") >
      recall("ivfpq_residual_hier"), recall.toString)
    assert(recall("ivfpq_residual_refine_hier") >= 950000L, recall.toString)
  }

  // -------------------------------------------- LR quality classifier

  test("LR classifier beats the base rate against its own labels (p117)") {
    val out = graft.queries.PipelineQueries2.p117LrClassifier(spark, sf0001)
      .select("cls", "pred").as[(Long, Long)].collect()
    val acc = out.count { case (c, p) => c == p }.toDouble / out.length
    val base = math.max(out.count(_._1 == 1L), out.count(_._1 == 0L))
      .toDouble / out.length
    assert(acc > base + 0.05, f"acc $acc%.3f vs base $base%.3f")
    assert(out.forall { case (_, p) => p == 0L || p == 1L })
  }

  test("count-min never underestimates; collisions only inflate (p127)") {
    val rows = graft.queries.PipelineQueries2.p127CountMin(spark, sf0001)
      .select("exact", "est").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (exact, est) => est >= exact },
      "CMS underestimated a count")
  }

  test("HLL estimate lands within the sketch's error regime (p128)") {
    val rows = graft.queries.PipelineQueries2.p128Hll(spark, sf0001)
      .select("exact_distinct", "est").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    // 64 registers -> ~13% std error; allow 4 sigma per source
    rows.foreach { case (exact, est) =>
      assert(math.abs(est - exact).toDouble / exact < 0.52,
        s"exact $exact est $est")
    }
    // and the fleet-level mean error is tight
    val meanErr = rows.map { case (e, s) =>
      math.abs(s - e).toDouble / e }.sum / rows.length
    assert(meanErr < 0.20, s"mean err $meanErr")
  }

  test("domain drift: distinctive vocabulary scores high, shared scores near zero") {
    val docs = Seq(
      (1L, "sA", "alpha beta gamma delta"),
      (2L, "sA", "alpha beta gamma delta"),
      (3L, "sB", "alpha beta gamma delta"),
      (4L, "sC", "omega psi chi phi")).toDF("doc_id", "source", "text")
    val out = Curation.domainDrift(docs, "doc_id", "text", "source")
      .select("source", "kl_nano").as[(String, Long)].collect().toMap
    // sA and sB share the corpus-dominant vocabulary (their KL is
    // pure smoothing noise, differing only by source size); sC's
    // vocabulary is disjoint from the mixture
    assert(out("sC") > math.max(out("sA"), out("sB")) * 5, out.toString)
  }

  test("calibration report: exact buckets, single-sigmoid centers, exact rates") {
    val rows = Seq(
      (100000L, 1L), (900000L, 0L),            // bucket 0, center 0.5
      (-300000L, 0L), (-999999L, 1L))          // bucket -1e6, center -0.5
      .toDF("z_micro", "cls")
    val out = Curation.calibrationReport(rows, "z_micro", "cls",
        bucketMicro = 1000000L)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val sig = (x: Double) => math.floor(1e6 / (1.0 + math.exp(-x))).toLong
    assert(out == Seq(
      (-1000000L, 2L, 1L, sig(-0.5), 500000L),
      (0L, 2L, 1L, sig(0.5), 500000L)), out.toString)
  }

  test("phrase rerank: verbatim phrase beats a scrambled bag-of-words") {
    // doc 2 repeats the query words (higher bm25 score) but never in
    // order; doc 1 contains the exact phrase once — after the phrase
    // boost doc 1 must rank first
    val docs = Seq(
      (1L, "intro alpha beta gamma delta outro filler filler"),
      (2L, "alpha alpha beta beta gamma gamma delta delta alpha beta"),
      (3L, "unrelated words entirely different topic here"))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "alpha beta gamma delta")).toDF("qid", "qtext")
    val out = Retrieval.phraseRerank(docs, "doc_id", "text", qs,
        "qid", "qtext", k = 10)
      .orderBy("rank")
      .select("rank", "doc_id", "phrase_hit")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.head == (1L, 1L, 1L), out.toString) // phrase doc first
    assert(out.tail.forall(_._3 == 0L), out.toString)
    assert(out.map(_._2).contains(2L)) // scrambled doc still retrieved
  }

  test("bm25f: a title match outranks the same match in the body") {
    // same term once per doc, same doc lengths — only the FIELD
    // differs, so plain BM25 ties them and the field weight decides
    val docs = Seq(
      (1L, "target alpha beta gamma delta epsilon zeta eta pad pad pad pad"),
      (2L, "alpha beta gamma delta epsilon zeta eta pad target pad pad pad"),
      (3L, "noise words only nothing shared here at all pad pad pad pad"))
      .toDF("doc_id", "text")
    val toks = graft.pipeline.TextFunctions.tokens(col("text"))
    val qs = Seq((9L, "target")).toDF("qid", "qtext")
    val out = Retrieval.bm25fTopK(docs, "doc_id",
        Seq((slice(toks, 1, 8), 3L), (slice(toks, lit(9), size(toks)), 1L)),
        qs, "qid", "qtext", k = 10)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    // doc 1 holds "target" in the weighted title field (tf 3 vs 1);
    // both docs have identical weighted lengths, so doc 1 wins
    assert(out == Seq(1L, 2L), out.toString)
  }

  test("proximity: adjacent terms outrank the same terms far apart") {
    // identical term sets and counts — only positions differ, so the
    // bm25 scores tie and the proximity boost decides
    val docs = Seq(
      (1L, "alpha pad pad pad pad pad pad pad pad pad beta pad"),
      (2L, "pad pad pad pad alpha beta pad pad pad pad pad pad"),
      (3L, "nothing shared here pad pad pad pad pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "alpha beta")).toDF("qid", "qtext")
    val out = Retrieval.proximityRerank(docs, "doc_id", "text", qs,
        "qid", "qtext", k = 10, k0 = 4)
      .orderBy("rank")
      .select("doc_id", "min_pair_dist", "prox_micro")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(2L, 1L), out.toString)
    assert(out == Seq((2L, 1L, 200000L), (1L, 10L, 71428L)),
      out.toString)
  }

  test("spell suggest: nearest vocab token wins, identity excluded") {
    val docs = Seq(
      (1L, ("filter " * 6) + ("filler " * 6) + ("join " * 6)),
      (2L, ("filter " * 6) + ("group " * 6) + ("join " * 6)))
      .toDF("doc_id", "text")
    val probes = Seq("fliter", "join").toDF("probe")
    val out = Retrieval.spellSuggest(docs, "doc_id", "text", probes,
        "probe", minCount = 5, maxDist = 2)
      .orderBy("probe")
      .as[(String, String, Long, Long)].collect().toSeq
    // "fliter" repairs to "filter" (transposition = 2 edits beats
    // "filler" at 3); "join" IS in vocab — identity excluded, and no
    // other token sits within 2 edits, so it yields no row
    assert(out == Seq(("fliter", "filter", 2L, 1L)), out.toString)
  }

  test("plantedSample holds ~budget rows at ANY corpus size (absolute, not fractional)") {
    def n(rows: Long, budget: Int): Long =
      Retrieval.plantedSample(
        spark.range(rows).toDF("doc_id"), "doc_id", budget).count()
    // below budget: stride 1, whole corpus
    assert(n(100L, 128) == 100L)
    // 10x the corpus must NOT mean 10x the sample: ceil(N/b) stride
    // keeps the count in [b/2, b] for any N >= b
    for (rows <- Seq(500L, 5000L, 50000L)) {
      val c = n(rows, 128)
      assert(c >= 64L && c <= 128L, s"rows=$rows -> $c")
    }
    // the gate fixture: 5000 docs at budget 128 -> stride 40 (the
    // historical % 40 fixture at sf0.1, now derived instead of fixed)
    assert(n(5000L, 128) == 125L)
  }

  test("spell suggest: a 1-char probe has no bigrams, not garbage ones") {
    // sequence(1, length-1) on a 1-char probe would DESCEND [1, 0] in
    // Spark (substr(0, 2) garbage) — the guard yields an empty bigram
    // array, so the probe simply matches nothing; longer probes in the
    // same batch are untouched
    val docs = Seq((1L, ("alpha " * 6) + ("a " * 6))).toDF("doc_id", "text")
    val probes = Seq("x", "alpha", "alpah").toDF("probe")
    val out = Retrieval.spellSuggest(docs, "doc_id", "text", probes,
        "probe", minCount = 5, maxDist = 2)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(out == Seq(("alpah", "alpha", 2L, 1L)), out.toString)
  }

  test("snippets: the densest window wins, ties to the earliest start") {
    val docs = Seq(
      // matches at positions 2,3 (dense) and 9 (lone): window [2..5]
      // holds 2 matches and must win over any window holding 1
      (1L, "pad alpha beta pad pad pad pad pad alpha pad pad pad"),
      (2L, "unrelated content here entirely pad pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val qs = Seq((7L, "alpha beta")).toDF("qid", "qtext")
    val ranked = Seq((7L, 1L, 1L)).toDF("query_id", "rank", "doc_id")
    val out = Retrieval.snippets(docs, "doc_id", "text", ranked, qs,
        "qid", "qtext", topDocs = 3, windowTokens = 4)
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq((7L, 1L, 2L, 2L, "alpha beta pad pad")),
      out.toString)
  }

  test("ranking scorecard: exact closed-form MRR and nDCG on a fixture") {
    // 3 queries: q1 hits its source doc at rank 1, q2 at rank 3,
    // q3 never (its top-10 misses doc 3)
    val ranked = Seq(
      (1L, 1L, 1L), (1L, 2L, 9L),
      (2L, 1L, 8L), (2L, 2L, 7L), (2L, 3L, 2L),
      (3L, 1L, 5L), (3L, 2L, 6L))
      .toDF("query_id", "rank", "doc_id")
    val out = Retrieval.rankingScorecard(ranked, "m", topK = 10)
      .as[(String, Long, Long, Long, Long)].collect().head
    val dcg = Retrieval.dcgMicroTable(10).toMap
    // per-query MRR micro: 10⁶/1 and 10⁶ div 3; mean over 3 queries
    val mrr = (1000000L + 1000000L / 3L) / 3L
    val ndcg = (dcg(1) + dcg(3)) / 3L
    assert(out == ("m", 3L, 2L, mrr, ndcg), out.toString)
    // discount table sanity: rank 1 is exactly 1.0, strictly
    // decreasing, rank 3 is 1/log2(4) = 0.5 exactly
    assert(dcg(1) == 1000000L && dcg(3) == 500000L)
    assert(Retrieval.dcgMicroTable(10).map(_._2).sliding(2)
      .forall(p => p(0) > p(1)))
  }

  test("sign-flip test: identical systems p = 1, a uniform sweep is extreme") {
    val same = Seq((1L, 10L, 10L), (2L, 5L, 5L), (3L, 0L, 0L))
      .toDF("query_id", "m_a", "m_b")
    val r1 = Retrieval.pairedSignificance(same, "same", nPerms = 100,
        salt = "s")
      .as[(String, Long, Long, Long, Long)].collect().head
    // every difference is 0 → every permutation ties the observed 0
    assert(r1 == (("same", 0L, 100L, 100L, 1000000L)), r1.toString)
    // 12 uniform wins: |T_i| >= |T| only when all 12 coins agree —
    // probability 2/2^12, so the p-value must be far below 5%
    val win = (1L to 12L).map(q => (q, 1000000L, 0L))
      .toDF("query_id", "m_a", "m_b")
    val r2 = Retrieval.pairedSignificance(win, "win", nPerms = 200,
        salt = "s")
      .as[(String, Long, Long, Long, Long)].collect().head
    assert(r2._2 == 12000000L && r2._5 < 50000L, r2.toString)
  }

  test("LTR head: trained re-ranker beats base BM25 on the planted card (p173)") {
    val card = graft.queries.PipelineQueries2.p173LtrRerank(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (bq, bh, bmrr, bndcg) = card("bm25")
    val (tq, th, tmrr, tndcg) = card("ltr_trained")
    // same queries, same candidate pool, same hit count — only the
    // ORDER changes, and training must improve it decisively
    assert(bq == tq && bh == th, card.toString)
    assert(tmrr > bmrr * 2, s"trained MRR $tmrr vs base $bmrr")
    assert(tndcg > bndcg, s"trained nDCG $tndcg vs base $bndcg")
    // the learner must discover the phrase-containment signal — the
    // feature the p131 rerank showed sharpens the planted ranking
    val docs = graft.core.Tables.read(spark, sf0001, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val feats = graft.pipeline.Ltr.rankFeatures(docs, "doc_id", "text",
      queries, "query_id", "qtext", k = 10)
    val f = graft.core.Caching.withCached(feats)(feats)
    val w = graft.pipeline.Ltr.ltrWeights(f, iters = 12, lrNum = 50L)
    assert(w._3 > 0, s"phrase weight not positive: $w")
    assert(w._3 > w._1.abs && w._3 > w._2.abs,
      s"phrase weight does not dominate: $w")
  }

  test("classifier kappa: perfect, chance, and inverse agreement exact") {
    def run(pairs: Seq[(Long, Long, Long)]) =
      Curation.classifierAgreement(
        pairs.map(p => (p._1, p._2)).toDF("doc_id", "pred"), "pred",
        pairs.map(p => (p._1, p._3)).toDF("doc_id", "pred"), "pred",
        "doc_id")
        .select("kappa_micro").as[Long].collect().head
    // identical non-constant predictions: kappa = 1 exactly
    assert(run(Seq((1L, 1L, 1L), (2L, 0L, 0L), (3L, 1L, 1L)))
      == 1000000L)
    // both constant-and-equal: pe = 1 → kappa = 1 by convention
    assert(run(Seq((1L, 1L, 1L), (2L, 1L, 1L))) == 1000000L)
    // perfect inverse on a balanced pair: kappa = −1 exactly — the
    // negative branch must FLOOR identically in both engines
    assert(run(Seq((1L, 1L, 0L), (2L, 0L, 1L))) == -1000000L)
  }

  test("LR training leaves no cache entries and is deterministic") {
    val docs = graft.core.Tables.read(spark, sf0001, "documents")
    def run() = Curation.logisticRegression(docs, "doc_id", "text",
        buckets = 64, iters = 4, lrDen = 1,
        profile = Curation.GateProfile.wordSalad)
      .orderBy("doc_id").select("z_micro").as[Long].collect().toSeq
    val a = run()
    assert(spark.sharedState.cacheManager.isEmpty,
      "LR left persisted intermediates behind")
    assert(a == run(), "LR trajectory is not deterministic")
  }
}
