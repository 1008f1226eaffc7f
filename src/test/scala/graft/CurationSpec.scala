package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.pipeline.Curation
import graft.pipeline.{TextFunctions => TF}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d e f", "s1"),
    (2L, "g h i j", "s1"),
    (3L, "k l", "s1"),
    (4L, "m n o", "s2"),
    (5L, "p q r s t u v w", "s2")).toDF("doc_id", "text", "source")

  test("stratifiedSample takes exactly min(quota, stratum) rows, deterministically") {
    val s1 = Curation.stratifiedSample(docs, "source", "doc_id", quota = 2)
    val bySrc = s1.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc == Map("s1" -> 2L, "s2" -> 2L))
    // quota above stratum size keeps everything, ranked 1..n
    val all = Curation.stratifiedSample(docs, "source", "doc_id", quota = 10)
    assert(all.count() == 5)
    assert(all.filter($"source" === "s1").select(max($"rank")).as[Long].head() == 3L)
    // seedless: a second draw is identical row-for-row
    val s2 = Curation.stratifiedSample(docs, "source", "doc_id", quota = 2)
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
  }

  test("tokenBudgetMix keeps docs while the running token total fits the budget") {
    // one stratum, hash order is fixed by doc_id salt; budget 9 of 12
    // total tokens must cut the walk at a prefix, never skip-and-refill
    val out = Curation.tokenBudgetMix(docs.filter($"source" === "s1"),
        "source", "doc_id", "text", budget = 9L)
      .orderBy("cum_toks")
      .select("doc_id", "n_toks", "cum_toks").as[(Long, Long, Long)]
      .collect().toSeq
    assert(out.nonEmpty && out.last._3 <= 9L)
    // cumulative sums are consistent: each row's cum = previous cum + n
    assert(out.scanLeft(0L)((acc, r) => acc + r._2).tail == out.map(_._3))
    // the walk is a strict prefix: adding the next doc would burst 9
    assert(out.map(_._2).sum + (Seq(6L, 4L, 2L).sum - out.map(_._2).sum) > 9L)
  }

  test("shardAssignments covers every doc once with dense per-shard positions") {
    val out = Curation.shardAssignments(docs, "doc_id", nShards = 2)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect().toSeq
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out.forall(r => r._2 >= 0 && r._2 < 2))
    out.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted == (1L to rs.size).toSeq) // dense 1..n
    }
  }

  test("packAssignments lays token streams end to end across chunk boundaries") {
    val out = Curation.packAssignments(docs.filter($"source" === "s1"),
        "source", "doc_id", "text", chunkToks = 5L)
      .select("n_toks", "chunk_idx", "chunk_off").as[(Long, Long, Long)]
      .collect().toSeq
      .map { case (n, ci, off) => (ci * 5 + off, n) }.sortBy(_._1)
    // each doc starts exactly where the previous one ended
    assert(out.map(_._1) == out.scanLeft(0L)((acc, r) => acc + r._2).init)
    // total 12 tokens over 5-token chunks → a start lands past chunk 0
    assert(out.last._1 >= 5)
  }

  test("winnow guarantees a shared fingerprint for any shared w+k-1 token run") {
    val shared = "one two three four five six" // exactly w+k-1 = 6 tokens
    val pair = Seq(
      (1L, s"aa bb $shared cc"),
      (2L, s"$shared zz yy xx"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val fp = Curation.winnow(pair, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long)].collect().toSeq.groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(fp(1L).intersect(fp(2L)).nonEmpty, "guaranteed overlap missed")
    assert(fp(3L).intersect(fp(1L) ++ fp(2L)).isEmpty, "disjoint doc collided")
  }

  test("winnowPairsDelta(full, full) equals winnowPairs(full); delta keeps only touching pairs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(60)
    val all = Curation.winnowPairs(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    val viaDelta = Curation.winnowPairsDelta(docs, docs, "doc_id", "text",
        k = 3, w = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaDelta == all)
    val delta = docs.filter($"doc_id" % 3 === 0)
    val touching = Curation.winnowPairsDelta(docs, delta, "doc_id", "text",
        k = 3, w = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(touching ==
      all.filter(p => p._1 % 3 == 0 || p._2 % 3 == 0))
  }

  test("rareTokenRatio counts occurrences of low-df tokens exactly") {
    val corpus = Seq(
      (1L, "common common unicorn"), // unicorn df=1
      (2L, "common filler"),
      (3L, "common filler")).toDF("doc_id", "text")
    val out = Curation.rareTokenRatio(corpus, "doc_id", "text", maxDf = 1L)
      .select("doc", "n_toks", "n_rare", "rare_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out(0) == ((1L, 3L, 1L, 333333L))) // 1 of 3 occurrences rare
    assert(out(1)._3 == 0L && out(2)._3 == 0L) // filler has df=2 > 1
  }

  test("contaminationPairs flags planted shingle overlap and honors minShared") {
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon"), // shares 3-shingles with bench 1
      (11L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma delta"), // 2 shared 3-shingles with doc 10
      (2L, "one two three four")).toDF("doc_id", "text")
    val hit = Curation.contaminationPairs(train, bench, "doc_id", "text",
        k = 3, minShared = 2)
      .select("train_doc", "bench_doc", "n_shared").as[(Long, Long, Long)]
      .collect().toSeq
    assert(hit == Seq((10L, 1L, 2L)))
    // raising minShared above the overlap empties the report
    assert(Curation.contaminationPairs(train, bench, "doc_id", "text",
      k = 3, minShared = 3).isEmpty)
  }

  test("scrubText redacts emails, phones, and ids in cascade order") {
    val rows = Seq(
      (1L, "mail bob.smith+x@example.co.uk now"),
      (2L, "call +1 (555) 123-4567 or 555 867 5309"),
      (3L, "account 12345 moved to 99"),
      (4L, "nothing sensitive here")).toDF("id", "text")
    val out = Curation.scrubText(rows, "text")
      .select("id", "clean", "n_email", "n_phone", "n_id")
      .as[(Long, String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out(0) == ((1L, "mail <EMAIL> now", 1L, 0L, 0L)))
    assert(out(1)._2 == "call <PHONE> or <PHONE>" && out(1)._4 == 2L)
    // email digits must not double-count into the id rule
    assert(out(0)._5 == 0L)
    assert(out(2) == ((3L, "account <ID> moved to <ID>", 0L, 0L, 2L)))
    assert(out(3) == ((4L, "nothing sensitive here", 0L, 0L, 0L)))
  }

  test("segmentDedup keeps a shared segment only in the min-id doc") {
    // 2-word segments; doc 1 and 2 share "a b"; doc 2's "c d" is its own
    val corpus = Seq(
      (1L, "a b x y"),
      (2L, "a b c d"),
      (3L, "c d")).toDF("doc_id", "text") // "c d" first occurs in doc 2
    val out = Curation.segmentDedup(corpus, "doc_id", "text", segWords = 2)
      .select("doc", "n_segs", "n_kept", "n_dropped")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out(0) == ((1L, 2L, 2L, 0L))) // "a b" + "x y" both first here
    assert(out(1) == ((2L, 2L, 1L, 1L))) // "a b" lost to doc 1, "c d" kept
    assert(out(2) == ((3L, 1L, 0L, 1L))) // "c d" lost to doc 2
  }

  test("segmentDedup's trailing partial window is its own segment") {
    val corpus = Seq((7L, "p q r")).toDF("doc_id", "text")
    val out = Curation.segmentDedup(corpus, "doc_id", "text", segWords = 2)
      .select("n_segs").as[Long].head()
    assert(out == 2L) // "p q" + "r"
  }

  test("unigramLogLoss: in-vocab cost matches the closed form, OOV costs more") {
    // corpus: "a" ×3, "b" ×2, "z" ×1; vocabSize=2 → vocab {a, b}, z is OOV
    val corpus = Seq((1L, "a a a b"), (2L, "b z")).toDF("doc_id", "text")
    val out = Curation.unigramLogLoss(corpus, "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val t = 6L; val denom = (t + 3).toDouble // V=2 vocab slots + 1 OOV
    def cost(c: Long) = math.floor(-math.log((c + 1) / denom) * 1e6).toLong
    val oov = math.floor(-math.log(1 / denom) * 1e6).toLong
    assert(out(1L) == ((4L, 3 * cost(3) + cost(2), (3 * cost(3) + cost(2)) / 4)))
    assert(out(2L) == ((2L, cost(2) + oov, (cost(2) + oov) / 2)))
    assert(oov > cost(1)) // unseen is always costlier than any vocab token
  }

  test("importanceSample: max-score docs always accepted, zero never") {
    val scored = Seq(
      (1L, "s1", 1000000L), (2L, "s1", 0L), (3L, "s2", 500000L))
      .toDF("doc_id", "source", "score_micro")
    val out = Curation.importanceSample(scored, "doc_id", "score_micro")
      .select("doc_id", "draw", "accept")
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(out.forall { case (_, d, _) => d >= 0 && d < 1000000 })
    assert(out(0)._3 == 1) // score == max ⇒ draw·max < max·1e6 always
    assert(out(1)._3 == 0) // zero score can never win a strict <
    // mid score accepts iff draw·max < score·1e6 — recompute the rule
    val (_, d3, a3) = out(2)
    assert((if (d3 * 1000000L < 500000L * 1000000L) 1 else 0) == a3)
  }

  test("epochSchedule: uniform shares, the 4-epoch cap, and the deficit") {
    def doc(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // s1 holds 10 tokens, s2 holds 30; budget 4x40=160, target 80 each
    val docs = Seq((1L, "s1", doc(10)), (2L, "s2", doc(30)))
      .toDF("doc_id", "source", "text")
    val out = Curation.epochSchedule(docs, "source", "text",
        budgetNumer = 4L, budgetDenom = 1L, capEpochs = 4L)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("s1") == (("s1", 10L, 80L, 8000000L, 40L, 40L, 1L)),
      out("s1").toString)
    assert(out("s2") == (("s2", 30L, 80L, 2666666L, 80L, 0L, 0L)),
      out("s2").toString)
  }

  test("hdrQuantileCalibration: identity region exact, log region bounded overshoot") {
    def doc(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, doc(2)), (2L, doc(4)), (3L, doc(8)),
      (4L, doc(20))).toDF("doc_id", "text")
    val out = Curation.hdrQuantileCalibration(docs, "doc_id", "text")
      .select("pct", "n_values", "exact", "est", "overshoot",
        "rel_err_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // p50: t=2 -> exact 4, in a shift-1 bucket -> sketch exact too
    assert(out(50L) == ((50L, 4L, 4L, 4L, 0L, 0L)), out(50L).toString)
    // p90/p99: t=4 -> exact 20; bucket [20,21] (e=4, shift 2) -> est 21
    assert(out(90L) == ((90L, 4L, 20L, 21L, 1L, 50000L)),
      out(90L).toString)
    assert(out(99L) == out(90L).copy(_1 = 99L))
    // hard invariant: est >= exact, relative error <= 2^-3
    out.values.foreach { r =>
      assert(r._4 >= r._3 && r._6 <= 125000L, r.toString)
    }
  }

  test("vocabGrowth: nested checkpoints are monotone and the full one is exact") {
    val docs = (1L to 40L).map(i =>
      (i, s"shared tok$i")).toDF("doc_id", "text")
    val out = Curation.vocabGrowth(docs, "doc_id", "text")
      .select("sixteenths", "n_docs", "n_occurrences", "vocab",
        "ttr_micro")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    // nesting: every stat is monotone non-decreasing in the checkpoint
    assert(out.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4 })
    // the full checkpoint sees everything exactly
    val full = out.last
    assert(full == ((16L, 40L, 80L, 41L, 512500L)), full.toString)
    // vocab = docs-in-sample + 1 ("shared" plus one unique type each)
    out.foreach { c => assert(c._4 == (if (c._2 == 0) 0 else c._2 + 1)) }
  }

  test("packingEfficiency: hand-computed chunk bills and savings") {
    // chunk size 4: source s1 holds docs of 5 and 3 tokens
    // naive = ceil(5/4) + ceil(3/4) = 3 chunks; packed = ceil(8/4) = 2
    val docs = Seq(
      (1L, "s1", "a b c d e"), (2L, "s1", "f g h"),
      (3L, "s2", "x y")).toDF("doc_id", "source", "text")
    val out = Curation.packingEfficiency(docs, "source", "text",
        chunkToks = 4L)
      .select("source", "n_docs", "total_toks", "packed_chunks",
        "packed_pad_toks", "naive_chunks", "naive_pad_toks",
        "saved_chunks_pct_micro")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("s1") == ("s1", 2L, 8L, 2L, 0L, 3L, 4L, 333333L),
      out("s1").toString)
    assert(out("s2") == ("s2", 1L, 2L, 1L, 2L, 1L, 2L, 0L),
      out("s2").toString)
  }

  test("chunkDocuments: coverage, overlap, no redundant tail, short docs") {
    def chunks(text: String, c: Int, s: Int): Seq[(Long, Long, Long, String)] =
      Curation.chunkDocuments(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", c, s)
        .orderBy("chunk_seq")
        .select("chunk_seq", "start_tok", "n_chunk_toks", "chunk_text")
        .as[(Long, Long, Long, String)].collect().toSeq
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    // n=10, c=8, s=4: last start is the smallest multiple of 4 with
    // start+8 >= 10 -> starts {0, 4}, never a redundant {8} tail
    assert(chunks(ten, 8, 4) == Seq(
      (0L, 0L, 8L, (1 to 8).map(i => s"t$i").mkString(" ")),
      (1L, 4L, 6L, (5 to 10).map(i => s"t$i").mkString(" "))))
    // short doc: one whole-doc chunk; exact-fit: one chunk
    assert(chunks("a b c", 8, 4) == Seq((0L, 0L, 3L, "a b c")))
    assert(chunks(ten, 10, 5) == Seq((0L, 0L, 10L, ten)))
    // n = c+1 forces a second window even at stride = c (no overlap)
    assert(chunks(ten, 9, 9).map(r => (r._2, r._3)) ==
      Seq((0L, 9L), (9L, 1L)))
    // overlap coverage: every token index appears in some chunk
    val cov = chunks(ten, 4, 3)
    assert(cov.map(r => r._2 until (r._2 + r._3))
      .flatten.toSet == (0 until 10).toSet)
    // empty text: the house tokenizer yields one empty token (same in
    // DuckDB's string_split_regex), so one empty chunk comes out —
    // engine-consistent, and real corpora carry no empty documents
    assert(chunks("", 8, 4) == Seq((0L, 0L, 1L, "")))
  }

  test("releaseDiff classifies added/removed/modified/unchanged exactly") {
    val old = Seq((1L, "a", "same text"), (2L, "a", "will change"),
      (3L, "b", "goes away"), (4L, "b", "stays put"))
      .toDF("doc_id", "source", "text")
    val neu = Seq((1L, "a", "same text"), (2L, "a", "has changed now"),
      (4L, "b", "stays  put"), // whitespace-only: same fingerprint
      (5L, "b", "brand new"))
      .toDF("doc_id", "source", "text")
    val out = Curation.releaseDiff(old, neu, "doc_id", "text", "source")
      .orderBy("source", "status")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("a", "modified", 1L, 2L, 3L, 1L),
      ("a", "unchanged", 1L, 2L, 2L, 0L),
      ("b", "added", 1L, 0L, 2L, 2L),
      ("b", "removed", 1L, 2L, 0L, -2L),
      ("b", "unchanged", 1L, 2L, 2L, 0L)), out.toString)
  }

  test("chiSquareFromLabels matches the 2x2 hand computation, ties break on token") {
    val labeled = Seq(
      (1L, "apple banana", 1L), (2L, "apple cherry", 1L),
      (3L, "banana cherry", 0L), (4L, "cherry date", 0L))
      .toDF("doc_id", "text", "cls")
    val out = Curation.chiSquareFromLabels(labeled, "doc_id", "text",
        "cls", topK = 10)
      .select("rank", "token", "n11", "n10", "chi2_micro")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    // apple: perfect separator, chi2 = N = 4; cherry/date: chi2 = 4/3
    // (tie -> cherry first alphabetically); banana: independent, chi2 0
    assert(out.toSeq == Seq(
      (1L, "apple", 2L, 0L, 4000000L),
      (2L, "cherry", 1L, 2L, 1333333L),
      (3L, "date", 0L, 1L, 1333333L),
      (4L, "banana", 1L, 1L, 0L)), out.toSeq.toString)
  }

  test("operating points: hand confusion tables at every threshold") {
    val scored = Seq((10L, 1L), (5L, 0L), (3L, 1L), (1L, 0L))
      .toDF("score", "cls")
    val out = Curation.classifierOperatingPoints(scored, "score", "cls",
        thresholds = Seq(0L, 4L, 6L, 20L))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq(
      // tau, tp, fp, fn, tn, precision, recall, f1
      (0L, 2L, 2L, 0L, 0L, 500000L, 1000000L, 666666L),
      (4L, 1L, 1L, 1L, 1L, 500000L, 500000L, 500000L),
      (6L, 1L, 0L, 1L, 2L, 1000000L, 500000L, 666666L),
      (20L, 0L, 0L, 2L, 2L, 0L, 0L, 0L)), out.toString)
  }

  test("repetition signals: loops, exact repeats, and gram-free docs by hand") {
    val d = Seq(
      (1L, "x y x y x y"),            // top "x y" x3 covers all chars
      (2L, "a b c d e a b c d e"),    // 5-gram repeats -> full coverage
      (3L, "p q r"),                  // no 5-grams, 2-gram tie -> "p q"
      (4L, "z")                       // no 2-grams at all
    ).toDF("doc_id", "text")
    val out = Curation.repetitionSignals(d, "doc_id", "text",
        topN = 2, dupN = 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out(1L) == ((6L, 6L, 3L, 1000000L, 0L)), out(1L).toString)
    assert(out(2L) == ((10L, 10L, 2L, 400000L, 1000000L)),
      out(2L).toString)
    assert(out(3L) == ((3L, 3L, 1L, 666666L, 0L)), out(3L).toString)
    assert(out(4L) == ((1L, 1L, 0L, 0L, 0L)), out(4L).toString)
    assert(spark.sharedState.cacheManager.isEmpty,
      "repetitionSignals left persisted intermediates behind")
  }

  test("epoch decorrelation equals the flat-window reference") {
    val docs = graft.core.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val got = Curation.epochDecorrelation(docs, "doc_id", epochs = 3)
      .orderBy("epoch_a", "epoch_b")
      .as[(Long, Long, Long, Long)].collect().toSeq
    def pairs(e: Int) = {
      val w = Window.orderBy(col("__h"), col("doc_id"))
      docs.select(col("doc_id"))
        .withColumn("__h", TF.hash60(concat(lit(s"epoch$e|"),
          col("doc_id").cast("string"))))
        .select(col("doc_id").as("pred"),
          lead(col("doc_id"), 1).over(w).as("succ"))
        .filter(col("succ").isNotNull)
        .as[(Long, Long)].collect().toSet
    }
    val p = (1 to 3).map(e => e -> pairs(e)).toMap
    val n = docs.count() - 1
    val exp = for ((a, b) <- Seq((1, 2), (1, 3), (2, 3)))
      yield (a.toLong, b.toLong, n, (p(a) & p(b)).size.toLong)
    assert(got == exp)
    assert(p(1).size == n && p(2).size == n)
    // independent orders share almost nothing
    assert(got.forall(_._4 <= 3), s"epochs correlate: $got")
  }

  test("contrastive crops are in-document slices with exact overlap") {
    val texts = Map(
      1L -> (1 to 20).map("t" + _).mkString(" "),
      2L -> "a b c",
      3L -> (1 to 8).map("w" + _).mkString(" "))
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = Curation.contrastiveCrops(docs, "doc_id", "text",
      minToks = 8).orderBy("doc_id").collect()
    // the 3-token doc is below minToks
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    for (r <- got) {
      val toks = texts(r.getLong(0)).split(" ")
      val n = r.getLong(1)
      assert(n == toks.length)
      for ((s, l, crop) <- Seq(
          (r.getLong(2), r.getLong(3), r.getString(7)),
          (r.getLong(4), r.getLong(5), r.getString(8)))) {
        assert(l >= math.max(1L, n * 40 / 100) && l <= n * 70 / 100)
        assert(s >= 1L && s + l - 1 <= n)
        assert(crop ==
          toks.slice(s.toInt - 1, (s + l).toInt - 1).mkString(" "))
      }
      val (as_, al, bs, bl) = (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      val expOv = math.max(0L,
        math.min(as_ + al, bs + bl) - math.max(as_, bs))
      assert(r.getLong(6) == expOv)
    }
  }

  test("mixture interleave holds the target mix in every prefix") {
    // domains a:b:c weighted 2:1:1 — every prefix must carry a at
    // half its length within one stride
    val docs = (1L to 16L).map(i => (i, "tok " * 3,
      Seq("a", "b", "a", "c")((i % 4).toInt))).toDF("doc_id", "text", "dom")
    val w = Seq(("a", 500000L), ("b", 250000L), ("c", 250000L))
      .toDF("dom", "weight_micro")
    val order = Curation.mixtureInterleave(docs, "doc_id", "text",
        "dom", w, shardToks = 8L)
      .orderBy("vtime", "dom", "doc_id")
      .select("dom").as[String].collect().toSeq
    assert(order.size == 16)
    for (k <- 1 to 16) {
      val counts = order.take(k).groupBy(identity).view.mapValues(_.size)
      assert(math.abs(counts.getOrElse("a", 0) - k / 2.0) <= 1.0,
        s"prefix $k: ${counts.toMap}")
      assert(math.abs(counts.getOrElse("b", 0) - k / 4.0) <= 1.0)
    }
  }

  test("mixture interleave delivers the exact mix on every full shard") {
    // 3-token docs, 12-token shards -> 4 docs per shard; weights 2:1:1
    // mean every full shard holds exactly (2 a, 1 b, 1 c)
    val docs = (1L to 16L).map(i => (i, "tok " * 3,
      Seq("a", "b", "a", "c")((i % 4).toInt))).toDF("doc_id", "text", "dom")
    val w = Seq(("a", 500000L), ("b", 250000L), ("c", 250000L))
      .toDF("dom", "weight_micro")
    val perShard = Curation.mixtureInterleave(docs, "doc_id", "text",
        "dom", w, shardToks = 12L)
      .groupBy("chunk_idx", "dom").count()
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap)
    for ((shard, counts) <- perShard if shard < 4)
      assert(counts == Map("a" -> 2L, "b" -> 1L, "c" -> 1L),
        s"shard $shard: $counts")
  }

  test("mixture interleave two-level scans equal the flat windows") {
    val docs = graft.core.Tables.read(spark, "/root/testdata/sf0.001",
      "documents")
    val w = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .select(col("source"), (col("n") * 1000L).as("weight_micro"))
    val got = Curation.mixtureInterleave(docs, "doc_id", "text",
        "source", w, shardToks = 512L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    // flat reference: single-partition windows, tiny data only
    val h = TF.hash60(concat(lit("mix"), col("doc_id").cast("string")))
    val flat = docs
      .withColumn("__h", h)
      .withColumn("n_toks", size(TF.tokens(col("text"))).cast("long"))
      .withColumn("__i", row_number().over(Window.partitionBy("source")
        .orderBy(col("__h"), col("doc_id"))).cast("long"))
      .join(w, Seq("source"))
      .withColumn("vtime", expr("__i * 1000000000 div weight_micro"))
      .withColumn("start_tok",
        sum(col("n_toks")).over(Window.orderBy(col("vtime"),
            col("source"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("n_toks"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("vtime"),
        expr("start_tok div 512").as("chunk_idx"),
        (col("start_tok") % 512L).as("chunk_off"))
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == flat)
  }

  test("per-row repetition HOF is bit-equal to the batch shuffle path") {
    val corpus = graft.core.Tables.read(spark,
      "/root/testdata/sf0.001", "documents")
    val batch = Curation.repetitionSignals(corpus, "doc_id", "text",
        topN = 2, dupN = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val hof = graft.streaming.StreamingJobs.repetitionGate(corpus)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(batch == hof)
    // and on the hand fixture including the gram-free short docs
    val d = Seq((1L, "x y x y x y"), (2L, "a b c d e a b c d e"),
      (3L, "p q r"), (4L, "z")).toDF("doc_id", "text")
    val b2 = Curation.repetitionSignals(d, "doc_id", "text", 2, 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val h2 = graft.streaming.StreamingJobs.repetitionGate(d)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(b2 == h2)
  }

  test("LR gradient rounds run one single-stage Spark job each, with no SQL execution") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    import org.apache.spark.sql.graftbridge.{CheckpointBridge, ListenerBridge}
    val labeled = Curation.funnelLabels(
        spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text",
        profile = Curation.GateProfile.wordSalad)
      .select(col("doc_id"), col("cls"),
        explode(array_distinct(transform(TF.tokens(col("text")),
          t => TF.hash60(t) % 64))).as("bucket"))
    val docFeats = Curation.lrDocFeats(labeled, "doc_id")
      .localCheckpoint(eager = true)
    val sc = spark.sparkContext
    val group = "lr-round-shape"
    def ours(props: java.util.Properties) =
      props != null && props.getProperty("spark.jobGroup.id") == group
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.incrementAndGet()
    }
    try {
      ListenerBridge.drain(sc)
      sc.addSparkListener(listener)
      sc.setJobGroup(group, group)
      var w = Seq.empty[(Long, Long)]
      val executions =
        try graft.core.ExecutedPlans.capture(spark) {
          w = Curation.lrWeightsFromDocs(docFeats, iters = 3, lrDen = 1)
        } finally {
          sc.clearJobGroup()
          ListenerBridge.drain(sc)
          sc.removeSparkListener(listener)
        }
      assert(w.nonEmpty)
      assert(executions.isEmpty,
        s"${executions.size} SQL executions ran inside the GD loop")
      assert(jobs.get == 3, s"3 rounds ran ${jobs.get} jobs")
      assert(stages.get == 3, s"3 rounds ran ${stages.get} stages")
    } finally CheckpointBridge.releaseLocalCheckpoint(docFeats)
  }

  test("an empty text scores a zero punctuation ratio instead of failing the funnel") {
    // under ANSI mode a bare punct / length(text) throws DIVIDE_BY_ZERO
    val two = Seq((1L, "some words here."), (2L, "")).toDF("doc_id", "text")
    val flags = Curation.funnelFlags(two, "doc_id", "text")
      .select("doc_id", "score_keep").as[(Long, Long)].collect().toMap
    assert(flags == Map(1L -> 0L, 2L -> 0L))
    // "" is one empty token: 0.01·0.4 + (1 − 0)·0.2 = 0.204
    val scores = graft.streaming.StreamingJobs.featureGate(two)
      .select("doc_id", "score_micro").as[(Long, Long)].collect().toMap
    assert(scores(2L) == 204000L, scores)
    assert(scores.keySet == Set(1L, 2L))
  }
}
