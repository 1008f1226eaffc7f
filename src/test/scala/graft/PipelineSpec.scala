package graft

import org.apache.spark.sql.functions._

import graft.pipeline._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("hash60 is the first 15 md5 hex digits as a long") {
    // md5("abc") = 900150983cd24fb0..., first 15 digits big-endian
    val got = Seq("abc").toDF("s")
      .select(TextFunctions.hash60(col("s"))).as[Long].head()
    assert(got == java.lang.Long.parseLong("900150983cd24fb", 16))
  }

  test("shingles produces distinct word k-grams; short docs empty") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("bloom ingest equals the exact anti-join; re-ingest adds nothing") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"),
      (3L, "zeta eta theta")).toDF("doc_id", "text")
    val batch = Seq((10L, "delta  epsilon"), (11L, "iota kappa"),
      (12L, "alpha beta gamma"), (13L, "iota kappa")).toDF("doc_id", "text")
    val bloom = Ingest.bloomFresh(corpus, batch, "text", 1000L, 0.03)
    val exact = Ingest.exactFresh(corpus, batch, "text")
    assert(bloom.collect().toSet == exact.collect().toSet)
    // whitespace-normalized dup rejected; both fresh copies land
    assert(bloom.select("doc_id").as[Long].collect().toSet == Set(11L, 13L))
    val appended = corpus.unionByName(bloom)
    assert(Ingest.bloomFresh(appended, batch, "text", 1000L, 0.03).count() == 0)
  }

  test("chunking windows overlap by window-stride; short docs yield one chunk") {
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b")).toDF("doc_id", "text")
    val got = Curation.chunks(df, "doc_id", "text", window = 4, stride = 3)
      .select("doc_id", "chunk_id", "n_tokens").as[(Long, Long, Long)]
      .collect().toSet
    // doc 1: starts 0,3,6,9 -> lengths 4,4,4,1; doc 2: one clamped chunk
    assert(got == Set((1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 4L), (1L, 3L, 1L),
      (2L, 0L, 2L)))
  }

  test("exact dedup groups identical normalized text") {
    val df = Seq((1L, "hello  world"), (2L, "hello world"), (3L, "bye"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .orderBy("keep_id").select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhashPairs finds a planted near-dup and skips unrelated docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " x y"
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text",
      k = 3, numHashes = 12, bands = 6, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhashPairs: identical docs at hamming 0, disjoint docs absent") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text")
    val out = Dedup.simhashPairs(df, "doc_id", "text",
      bits = 16, segments = 4, maxHamming = 2)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 0L)))
  }

  test("ngramJaccardPairs computes exact Jaccard") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    // bigrams: {a b, b c, c d} vs {a b, b c, c e} → J = 2/4 = 0.5
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", k = 2, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard_micro").as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 500000L)))
  }

  test("cosine topK ranks an identical vector first") {
    val df = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.topK(df, df.filter($"vec_id" === 0), "vec_id", "embedding", 3)
      .orderBy("rank").select("cand_id", "sim_micro").as[(Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out(0)._2 == 1000000L) // cos = 1 exactly
    assert(out(1)._2 == 0L)       // orthogonal
    assert(out(2)._2 == -1000000L) // opposite
  }

  test("containmentPairs catches a snippet symmetric Jaccard misses") {
    val docs = Seq(
      (1L, "alpha beta gamma"), // one 3-shingle, fully inside doc 2
      (2L, "alpha beta gamma x y z w q r s t u v"))
      .toDF("doc_id", "text")
    val hit = Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
        threshold = 0.99)
      .select("contained", "container", "containment_micro")
      .as[(Long, Long, Long)].collect().toSeq
    assert(hit == Seq((1L, 2L, 1000000L)))
    // the symmetric measure misses it: jaccard = 1/11
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
      threshold = 0.4).isEmpty)
  }

  test("frame sampling follows the every/max expansion rule; resize scales are fixed-point") {
    import graft.pipeline.Multimodal
    val media = Seq(
      Multimodal.MediaRow(1L, Array.fill(100)('a'.toByte), "video/fake"), // 3 fake frames
      Multimodal.MediaRow(2L, Array.fill(10)('b'.toByte), "video/fake"))  // 1 fake frame
      .toDS()
    val frames = Multimodal.sampleFrames(media, every = 2, maxFrames = 4)
      .collect().toSeq.groupBy(_.media_id)
    assert(frames(1L).map(_.frame_idx).sorted == Seq(0L, 2L)) // idx < 3
    assert(frames(2L).map(_.frame_idx) == Seq(0L))
    val r = Multimodal.resizePlan(media, 224, 224).filter($"media_id" === 1L).head()
    // stub width = 64 + ('a' % 192) = 161 → floor(224e6 / 161)
    assert(r.scale_x_micro == 224000000L / 161L)
  }

  test("multi-probe IVF recall dominates single-probe against brute-force truth") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 20)
    val truth = Similarity.topK(emb, q, "vec_id", "embedding", 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    def hits(np: Int) = Similarity
      .ivfTopK(emb, q, "vec_id", "embedding", $"vec_id" % 25 === 0, 3, np)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
      .intersect(truth).size
    val one = hits(1)
    val two = hits(2)
    assert(two >= one, s"nprobe=2 recall $two < nprobe=1 recall $one")
    assert(two > 0)
  }

  test("pq codes: a codebook vector is its own code in every subspace") {
    // 8-dim vectors, m=2 -> 4-dim subspaces; codebook = ids 0 and 1
    val vecs = Seq(
      (0L, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Array(10f, 10f, 10f, 10f, 10f, 10f, 10f, 10f)),
      // near codebook 0 in the first subspace, codebook 1 in the second
      (5L, Array(1f, 0f, 0f, 0f, 9f, 10f, 10f, 10f))
    ).toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(vecs, "vec_id", "embedding",
        m = 2, dim = 8, centroidFilter = col("vec_id") < 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(codes == Set((0L, 0, 0L), (0L, 1, 0L), (1L, 0, 1L), (1L, 1, 1L),
      (5L, 0, 0L), (5L, 1, 1L)))
  }

  test("pq ADC with a one-entry-per-vector codebook is exact L2 ranking") {
    // m=1 and every corpus vector its own codebook entry: each vector's
    // code is itself (self-distance 0), so adist == true squared L2 and
    // the ADC ranking must equal the exact one
    val vecs = (0L until 10L)
      .map(i => (i, Array.tabulate(4)(j => (i * 4 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(vecs, vecs.filter(col("vec_id") < 2),
        "vec_id", "embedding", m = 1, dim = 4,
        centroidFilter = lit(true), k = 3)
      .select("query_id", "rank", "cand_id").as[(Long, Long, Long)]
      .collect().toSet
    // the ramp makes distance monotone in |i-j|; query 1 has cands 0
    // and 2 equidistant -> tie to the smaller id
    assert(got == Set((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L),
      (1L, 1L, 0L), (1L, 2L, 2L), (1L, 3L, 3L)))
  }

  test("kmeansTrain(1) equals kmeansUpdate; iterating moves a centroid to its cell mean") {
    val df = Seq(
      (0L, Array(1f, 0f, 0f)),   // seed centroid A
      (25L, Array(0f, 1f, 0f)),  // seed centroid B
      (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0.1f, 0.9f, 0f))).toDF("vec_id", "embedding")
    val filt = $"vec_id" % 25 === 0
    val one = Similarity.kmeansTrain(df, "vec_id", "embedding", filt, iters = 1)
      .orderBy("cent_id", "dim").collect().toSeq
    val upd = Similarity.kmeansUpdate(df, "vec_id", "embedding", filt)
      .select($"cent_id".cast("long"), $"dim", $"n", $"mean_fixed")
      .orderBy("cent_id", "dim").collect().toSeq
    assert(one == upd)
    // after one step each cell holds {axis, nearby} — iterating again
    // reassigns against the refined (averaged) centroids and must keep
    // the same stable 2+2 partition: n stays 2 per cell
    val two = Similarity.kmeansTrain(df, "vec_id", "embedding", filt, iters = 2)
    assert(two.select("n").as[Long].collect().forall(_ == 2L))
    // cell-A dim-0 mean = floor((floor(1e6*1.0) + floor(1e6*0.9f)) / 2)
    val a0 = two.filter($"cent_id" === 0 && $"dim" === 0)
      .select("mean_fixed").as[Long].head()
    assert(a0 == (1000000L + math.floor(0.9f.toDouble * 1e6).toLong) / 2)
  }

  test("clusterQualityCard: matched k separates clusters; over-split k scores lower") {
    // two tight 4-vector clusters on orthogonal axes; modulus 4 seeds
    // {0, 4} = one centroid per true cluster, modulus 2 seeds
    // {0, 2, 4, 6} = each true cluster split in two
    val df = (0L until 8L).map { i =>
      val base = if (i < 4) Array(1f, 0f, 0f) else Array(0f, 1f, 0f)
      val eps = 0.01f * (i % 4)
      (i, Array(base(0) + eps, base(1) + eps, eps))
    }.toDF("vec_id", "embedding")
    val card = Similarity.clusterQualityCard(df, "vec_id", "embedding",
        moduli = Seq(4, 2), iters = 1)
      .select($"modulus", $"n_vecs", $"n_cells", $"inertia_micro",
        $"silhouette_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(card.keySet == Set(4L, 2L))
    val m4 = card(4L); val m2 = card(2L)
    assert(m4._2 == 8L && m2._2 == 8L)           // every vector assigned
    assert(m4._3 == 2L)                          // one cell per true cluster
    assert(m2._3 == 4L)                          // over-split uses all seeds
    // the matched k wins on silhouette; more cells can only cut inertia
    assert(m4._5 > m2._5, s"silhouette m4=${m4._5} m2=${m2._5}")
    assert(m2._4 <= m4._4, s"inertia m2=${m2._4} m4=${m4._4}")
    // bounds: silhouette in [-1e6, 1e6], inertia non-negative
    assert(card.values.forall(r => r._5 >= -1000000L && r._5 <= 1000000L))
    assert(card.values.forall(_._4 >= 0L))
  }

  test("native minhash/simhash kernels equal the HOF reference forms") {
    val df = Seq("alpha beta gamma delta epsilon zeta", "x", "")
      .toDF("text")
    val toks = TextFunctions.tokens(col("text"))
    val sh = TextFunctions.shingles(toks, 3)
    val seeds = TextFunctions.minhashSeeds(12)
    val rows = df.select(
      graft.functions.HashKernelFunctions.minhashSig(sh, seeds) ===
        TextFunctions.minhashSignature(TextFunctions.shingleHashes(sh), seeds),
      graft.functions.HashKernelFunctions.simhash(toks, 16) ===
        TextFunctions.simhash(toks, 16),
      graft.functions.HashKernelFunctions.simhash(toks, 64) ===
        TextFunctions.simhash(toks, 64))
      .as[(Boolean, Boolean, Boolean)].collect()
    assert(rows.forall(r => r._1 && r._2 && r._3), rows.toSeq)
  }

  test("native dot/l2norm expressions are bit-identical to the HOF forms") {
    val df = Seq(
      (Array(0.1f, -2.5f, 3.75f, 0.003f), Array(1.5f, 0.25f, -0.75f, 8f)))
      .toDF("a", "b")
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val hofNorm = sqrt(aggregate(
      transform(col("a"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val row = df.select(
      graft.functions.VectorExpressions.dotF(col("a"), col("b")) === hofDot,
      graft.functions.VectorExpressions.l2normF(col("a")) === hofNorm)
      .as[(Boolean, Boolean)].head()
    assert(row == ((true, true)))
    // the double-array kernel (residual space) against ITS HOF form —
    // values chosen so naive reassociation would differ in the last ulp
    val dd = Seq((Array(0.1, -2.5e7, 3.75, 1e-9, 7.25),
      Array(1.5, 0.25, -0.75, 8.0, -1e8))).toDF("a", "b")
    val hofDotD = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    assert(dd.select(
      graft.functions.VectorExpressions.dotD(col("a"), col("b")) === hofDotD)
      .as[Boolean].head())
  }

  test("lshBucket puts identical vectors in the same bucket") {
    val df = Seq(
      (0L, (1 to 64).map(_.toFloat).toArray),
      (1L, (1 to 64).map(_.toFloat).toArray),
      (2L, (1 to 64).map(i => -i.toFloat).toArray)).toDF("vec_id", "embedding")
    val b = df.select(Similarity.lshBucket(col("embedding"), 64, 4)).as[Long].collect()
    assert(b(0) == b(1))
    assert(b(0) != b(2)) // opposite vector flips every sign bit
    assert(b(0) + b(2) == 15L) // complementary 4-bit buckets
  }

  test("Zipf fit recovers slope -1 on a constructed Zipfian corpus, R^2 near 1") {
    // token w_r appears floor(2000/r) times, r = 1..30 -> ln n vs
    // ln r is a near-perfect line of slope -1
    val text = (1 to 30).flatMap(r =>
      Seq.fill(2000 / r)(f"w$r%02d")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = Curation.zipfFit(docs, "text", topK = 500)
      .select("n_points", "slope_micro", "r2_micro")
      .as[(Long, Long, Long)].head()
    assert(out._1 == 30L)
    assert(out._2 > -1050000L && out._2 < -950000L, out)
    assert(out._3 > 990000L, out)
    // flat corpus: every token equally frequent -> slope 0
    val flat = Seq((1L, (1 to 30).map(r => f"w$r%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val f = Curation.zipfFit(flat, "text", topK = 500)
      .select("slope_micro").as[Long].head()
    assert(f == 0L)
  }

  test("memorization risk: duplicated-window fraction, short docs zero, self-repeats count") {
    val eight = "a b c d e f g h"              // exactly one 8-gram window
    val docs = Seq(
      (1L, eight),                             // duplicated in doc 2
      (2L, eight + " x y z"),                  // windows 1..4, first is the dup
      (3L, "p q r s t u v w"),                 // unique window
      (4L, "too short"),                       // no window at all
      (5L, eight + " " + eight)                // self-repeat: window 0 == window 9
    ).toDF("doc_id", "text")
    val out = Curation.memorizationRisk(docs, "doc_id", "text", L = 8)
      .select("doc_id", "n_windows", "n_dup_windows", "dup_frac_micro")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 1L, 1000000L)))
    assert(out(2L)._2 == 4L && out(2L)._3 == 1L &&
      out(2L)._4 == 250000L)
    assert(out(3L) == ((3L, 1L, 0L, 0L)))
    assert(out(4L) == ((4L, 0L, 0L, 0L)))
    // doc 5: 9 windows; window 0 and window 8 are the same 8-gram
    // (occurs 2x in doc 5 alone + docs 1/2 -> >=2 corpus-wide); the
    // straddling windows 1..7 are unique
    assert(out(5L)._2 == 9L && out(5L)._3 == 2L)
  }

  test("novelty score: re-crawled text scores 0, fresh text 1, partial overlap exact") {
    val eight = "a b c d e f g h"
    val ref = Seq((100L, eight), (101L, "p q r s t u v w x")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, eight),                         // verbatim re-crawl
      (2L, "n o v e l t y z"),             // fully fresh
      (3L, eight + " z"),                  // window 0 seen, window 1 not
      (4L, "too short")                    // no window -> fully novel
    ).toDF("doc_id", "text")
    val out = Curation.noveltyScore(incoming, ref, "doc_id", "text", L = 8)
      .select("doc_id", "n_windows", "n_seen", "novelty_micro")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 1L, 0L)))
    assert(out(2L) == ((2L, 1L, 0L, 1000000L)))
    assert(out(3L) == ((3L, 2L, 1L, 500000L)))
    assert(out(4L) == ((4L, 0L, 0L, 1000000L)))
  }

  test("b-bit minhash: exact copies estimate 1.0, estimator follows the collision-floor formula") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base),                     // identical
      (3L, base + " with a small tail change"),   // near-dup
      (4L, "completely different words in every single position here")
    ).toDF("doc_id", "text")
    val out = Dedup.bbitMinhashEstimate(docs, "doc_id", "text",
        k = 3, numHashes = 12, bands = 6, b = 2, threshold = 0.3)
      .select("doc_a", "doc_b", "n_match", "est_micro", "exact_micro",
        "abs_err_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val byPair = out.map(r => (r._1, r._2) -> r).toMap
    // identical docs: all truncated values match, estimate saturates
    val id = byPair((1L, 2L))
    assert(id._3 == 12L && id._4 == 1000000L && id._5 == 1000000L &&
      id._6 == 0L)
    // every row obeys the closed-form estimator and error definition
    out.foreach { r =>
      assert(r._4 == math.max(r._3 * 4 - 12, 0) * 1000000L / 36L)
      assert(r._6 == math.abs(r._4 - r._5))
    }
    // the near-dup pair surfaces; the disjoint doc never pairs
    assert(byPair.contains((1L, 3L)) || byPair.contains((2L, 3L)))
    assert(!out.exists(r => r._1 == 4L || r._2 == 4L))
  }

  test("rateSpikes: median+3MAD flags only the hot hour, constant types never flag") {
    import java.sql.Timestamp
    def rows(tp: String, hour: Int, n: Int) = (1 to n).map(_ =>
      (tp, Timestamp.valueOf(f"2024-01-01 $hour%02d:30:00")))
    // type a: counts [2,3,3,4,3,2,20] -> median 3, MAD 1, cut 6
    val aCounts = Seq(2, 3, 3, 4, 3, 2, 20)
    val events = (aCounts.zipWithIndex.flatMap { case (c, h) =>
      rows("a", h, c)
    } ++ (0 until 4).flatMap(h => rows("b", h, 5)))
      .toDF("event_type", "ts")
    val out = graft.operators.Sessionize.rateSpikes(events, "ts",
        "event_type")
      .select("event_type", "n", "median_n", "mad_n", "spike")
      .as[(String, Long, Long, Long, Long)].collect()
    val a = out.filter(_._1 == "a")
    assert(a.forall(r => r._3 == 3L && r._4 == 1L), a.toSeq.toString)
    assert(a.filter(_._5 == 1L).map(_._2).toSeq == Seq(20L),
      a.toSeq.toString)
    val b = out.filter(_._1 == "b")
    assert(b.forall(r => r._3 == 5L && r._4 == 0L && r._5 == 0L),
      b.toSeq.toString)
  }

  test("retention cohorts: first-week cohorting, churn visible, k=0 always full") {
    val WK = 604800000000L
    def ev(u: Long, week: Long) = (u, week * WK * 1000L + u) // ns, unique
    val events = Seq(
      // cohort week 0: users 1,2,3; user 1 active weeks 0,1,2;
      // user 2 active weeks 0,2; user 3 week 0 only
      ev(1, 0), ev(1, 1), ev(1, 2),
      ev(2, 0), ev(2, 2),
      ev(3, 0),
      // cohort week 1: user 4 active weeks 1,2
      ev(4, 1), ev(4, 2)
    ).toDF("user_id", "ts_ns")
    val out = graft.operators.Sessionize.retentionCohorts(events)
      .select("cohort_week", "k", "n_active", "n_cohort", "retention_micro")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 0L, 3L, 3L, 1000000L),
      (0L, 1L, 1L, 3L, 333333L),
      (0L, 2L, 2L, 3L, 666666L),
      (1L, 0L, 1L, 1L, 1000000L),
      (1L, 1L, 1L, 1L, 1000000L)))
  }

  test("event funnel: strict ordering, earliest-completion, exact drop-off rates") {
    def ev(u: Long, t: String, us: Long) = (u, t, us * 1000L)
    val events = Seq(
      // user 1 completes in order
      ev(1, "view", 10), ev(1, "click", 20), ev(1, "purchase", 30),
      // user 2: purchase BEFORE click -> reaches stage 2 only
      ev(2, "view", 10), ev(2, "purchase", 15), ev(2, "click", 20),
      // user 3: view only
      ev(3, "view", 10),
      // user 4: click/purchase but never viewed -> not even stage 1
      ev(4, "click", 5), ev(4, "purchase", 6),
      // user 5: earliest-completion — the LATER second view must not
      // reset the chain; click after first view counts
      ev(5, "view", 10), ev(5, "click", 12), ev(5, "view", 50),
      ev(5, "purchase", 60)
    ).toDF("user_id", "event_type", "ts_ns")
    val out = graft.operators.Sessionize.funnel(events,
        Seq("view", "click", "purchase"))
      .select("stage", "event_type", "n_users", "pct_of_start_micro",
        "pct_of_prev_micro")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "view", 4L, 1000000L, 1000000L),
      (2L, "click", 3L, 750000L, 750000L),
      (3L, "purchase", 2L, 500000L, 666666L)))
  }

  test("per-row hashed vector equals the batch aggregation bit-for-bit") {
    val TFx = graft.pipeline.TextFunctions
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "zz yy xx ww vv"),
      (3L, "aa bb cc dd ee ff gg"),
      (4L, "x")  // no shingle -> zero row-vector, absent batch row
    ).toDF("doc_id", "text")
    def feats = TFx.shingles(TFx.tokens(col("text")), 3)
    val batch = graft.pipeline.Similarity
      .hashedDocVectors(docs, "doc_id", feats, dim = 32)
      .as[(Long, Array[Float])].collect().toMap
    val perRow = graft.pipeline.Similarity
      .withHashedDocVector(docs, feats, dim = 32)
      .select(col("doc_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    for ((id, v) <- batch) assert(perRow(id).toSeq == v.toSeq)
    assert(perRow(4L).forall(_ == 0f) && !batch.contains(4L))
  }

  test("hashed doc vectors: integer signed sums, copies collide, short docs zero out") {
    val TFx = graft.pipeline.TextFunctions
    val docs = Seq(
      (1L, "aa bb cc dd ee"),
      (2L, "aa bb cc dd ee"),      // identical -> identical vector
      (3L, "pp qq rr ss tt"),      // disjoint shingles
      (4L, "xx yy")                // < 3 tokens -> no shingles -> zero
    ).toDF("doc_id", "text")
    val v = graft.pipeline.Similarity.hashedDocVectors(docs, "doc_id",
        TFx.shingles(TFx.tokens(col("text")), 3), dim = 32)
      .as[(Long, Array[Float])].collect().toMap
    assert(v(1L).toSeq == v(2L).toSeq)
    assert(v(1L).exists(_ != 0f) && v(3L).exists(_ != 0f))
    assert(!v.contains(4L))  // no feature rows -> no vector row at all
    // exact integers: every component is a whole number and the sum of
    // |components| equals the shingle count (3 shingles, no collisions
    // at this sparsity... unless two shingles collide; allow <=)
    assert(v(1L).forall(x => x == math.rint(x)))
    assert(v(1L).map(math.abs).sum <= 3f)
    // vectors compose with the ANN kernels: cosine(1,2)=1, |cos(1,3)|<1
    def cos(a: Array[Float], b: Array[Float]) = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    assert(math.abs(cos(v(1L), v(2L)) - 1.0) < 1e-12)
    assert(cos(v(1L), v(3L)) < 0.99)
  }

  test("shard offset index is contiguous per shard and agrees with the manifest totals") {
    val docs = (1L to 30L)
      .map(i => (i, Seq.fill((i % 5 + 1).toInt)(s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = Curation.shardOffsets(docs, "doc_id", "text", nShards = 4)
      .select("shard", "pos", "doc_id", "n_tokens", "token_offset")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    for ((_, rows) <- idx) {
      assert(rows.head._2 == 1L && rows.head._5 == 0L)
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._2 == a._2 + 1)                   // dense positions
          assert(b._5 == a._5 + a._4 + 1)            // prev offset + toks + EOS
        case _ =>
      }
    }
    // totals line up with the manifest's per-shard token counts
    val man = Curation.shardManifest(docs, "doc_id", "text", nShards = 4)
      .select("shard", "n_docs", "n_tokens")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    for ((shard, rows) <- idx) {
      assert(man(shard)._1 == rows.length)
      assert(man(shard)._2 == rows.map(_._4).sum)
      val last = rows.last
      assert(last._5 + last._4 + 1 == rows.map(_._4 + 1).sum) // file length
    }
  }

  test("signed-perm rotation is orthogonal: perm valid, signs flip back, norms preserved") {
    val (perm, signs) = graft.pipeline.Similarity.signedPerm(64, "q97")
    assert(perm.sorted == (1 to 64) && signs.forall(s => s == 1 || s == -1))
    assert(signs.contains(-1) && signs.contains(1)) // not the identity
    val vecs = (0L until 5L).map { i =>
      (i, (1 to 64).map(d => ((i * 64 + d) % 37 - 18).toFloat / 7f).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val rot = df.select(col("vec_id"),
        graft.pipeline.Similarity.rotateVec(col("embedding"), 64, "q97")
          .as("r"))
      .as[(Long, Array[Float])].collect().toMap
    val orig = vecs.toMap
    // inverse transform recovers the original EXACTLY (bit-for-bit:
    // ±1 multiplication is exact), and the multiset of |values| is
    // unchanged -> orthogonality at zero cost
    for ((id, v) <- orig) {
      val r = rot(id)
      val back = new Array[Float](64)
      for (j <- 0 until 64) back(perm(j) - 1) = r(j) * signs(j)
      assert(back.toSeq == v.toSeq)
      assert(r.map(math.abs).sorted.toSeq == v.map(math.abs).sorted.toSeq)
    }
    // deterministic across invocations
    val again = df.select(graft.pipeline.Similarity
        .rotateVec(col("embedding"), 64, "q97")).as[Array[Float]]
      .collect().map(_.toSeq)
    assert(again.toSeq == (0L until 5L).map(rot(_).toSeq))
  }

  test("multi-probe LSH probes distinct flipped buckets and never loses to single-probe") {
    val vecs = (0L until 40L).map { i =>
      (i, (1 to 64).map(d =>
        (((i * 64 + d) * 2654435761L) % 2001L - 1000L).toFloat).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    // probe list shape: probes+1 entries, head = base bucket, all
    // pairwise distinct, perturbed entries one bit-flip away
    val rows = df.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 64, 4).as("base"),
        Similarity.lshProbeBuckets(col("embedding"), 64, 4, 2).as("probes"))
      .as[(Long, Long, Seq[Long])].collect()
    rows.foreach { case (_, base, probes) =>
      assert(probes.length == 3 && probes.head == base)
      assert(probes.distinct.length == 3)
      probes.tail.foreach { p =>
        assert(java.lang.Long.bitCount(p ^ base) == 1)
      }
    }
    // probes=0 degenerates to exactly the single-probe result
    val q = df.filter(col("vec_id") < 8)
    val single = Similarity.lshTopK(df, q, "vec_id", "embedding", 64, 4, 3)
      .collect().map(_.toSeq).toSet
    val zero = Similarity.lshMultiProbeTopK(df, q, "vec_id", "embedding",
      64, 4, 0, 3).collect().map(_.toSeq).toSet
    assert(zero == single)
    // candidate coverage only grows with probes: every query's
    // single-probe candidate set is contained in the multi-probe one
    def cands(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val mp = Similarity.lshMultiProbeTopK(df, q, "vec_id", "embedding",
      64, 4, 2, 40)
    assert(cands(Similarity.lshTopK(df, q, "vec_id", "embedding", 64, 4, 40))
      .subsetOf(cands(mp)))
  }

  test("langId follows stopword-count argmax with list-order ties") {
    val df = Seq(
      "the cat of the house",  // en
      "el gato de la casa y que en los", // es
      "der hund und die katze ist", // de
      "nothing matching at all").toDF("text")
    val got = df.select(TextFunctions.langId(TextFunctions.tokens(col("text"))))
      .as[String].collect()
    assert(got.toSeq == Seq("en", "es", "de", "en")) // all-zero ties → first lang
  }

  test("multimodal feature extraction stub is deterministic per payload") {
    val media = Seq(
      Multimodal.MediaRow(1L, "hello".getBytes("UTF-8"), "text/plain"),
      Multimodal.MediaRow(2L, Array[Byte](), "application/octet-stream"))
      .toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(out(0).n_bytes == 5L)
    assert(out(0).checksum == "5d41402abc4b2a76b9719d911017c592") // md5("hello")
    assert(out(0).width == 64 + ('h'.toInt % 192))
    assert(out(1).n_bytes == 0L && out(1).mean_luma == 0.0)
  }

  test("image payloads take the REAL decode path in features/frames/resize") {
    // a real 4x2 solid-gray PNG payload mixed with an opaque payload
    val png = Multimodal.encodePng(Seq((1L, 4, 2, 0x505050)).toDS())
      .head().png
    assert(Multimodal.isImagePayload(png))
    val media = Seq(
      Multimodal.MediaRow(1L, png, "image/png"),
      Multimodal.MediaRow(2L, Array.fill(100)('a'.toByte), "video/fake"))
      .toDS()
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.media_id -> r).toMap
    // decoded, not stub: stub would say 64 + (0x89 % 192) = 201 wide
    assert(f(1L).width == 4 && f(1L).height == 2)
    assert(f(1L).mean_luma == 0x50 / 255.0) // solid gray, exact
    assert(f(2L).width == 64 + ('a'.toInt % 192)) // opaque → stub
    val frames = Multimodal.sampleFrames(media, every = 2, maxFrames = 4)
      .collect().groupBy(_.media_id)
    assert(frames(1L).map(_.frame_idx).toSeq == Seq(0L)) // one real frame
    val expKey = java.security.MessageDigest.getInstance("MD5")
      .digest(s"4x2:${0x505050}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(frames(1L).head.frame_checksum == expKey)
    assert(frames(2L).map(_.frame_idx).sorted.toSeq == Seq(0L, 2L)) // stub
    val r = Multimodal.resizePlan(media, 224, 224).collect()
      .map(x => x.media_id -> x).toMap
    assert(r(1L).scale_x_micro == 224000000L / 4L) // real decoded width
    assert(r(2L).scale_x_micro == 224000000L / 161L) // stub width
  }

  test("ivfProbePairs auto-switches to the compact-literal scorer past the centroid limit") {
    val dim = 4
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 320L).map(i => (i, Array.fill(dim)(rnd.nextFloat())))
    val incoming =
      (1000L until 1010L).map(i => (i, Array.fill(dim)(rnd.nextFloat())))
    val centFilter = col("vec_id") < 300 // 300 centroids, past the limit
    assert(300 > Similarity.FoldedCentroidLimit)
    val got = Similarity.ivfProbePairs(incoming.toDF("vec_id", "embedding"),
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
      centFilter, nprobe = 300, thresholdMicro = 900000L)
    // sane plan: the centroid matrix is ONE literal, so expression node
    // count must not scale with C·dim (the folded scorer would carry
    // 300 dot kernels over 1200 element literals)
    val nExpr = got.queryExecution.analyzed
      .map(p => p.expressions.map(_.collect { case _ => 1 }.size).sum).sum
    assert(nExpr < 1500, s"plan carries $nExpr expression nodes")
    val gotPairs = got.as[(Long, Long, Long)].collect().toSeq.sorted
    // probing every cell → exactly the brute-force pairs at/above the
    // threshold, same fixed-point floor
    def norm(v: Array[Float]) =
      math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    val exp = (for {
      (qid, qv) <- incoming
      (cid, cv) <- corpus
      d = qv.zip(cv).map { case (x, y) => x.toDouble * y.toDouble }.sum
      sim = math.floor(d / (norm(qv) * norm(cv)) * 1e6).toLong
      if sim >= 900000L
    } yield (qid, cid, sim)).sorted
    assert(exp.nonEmpty && gotPairs == exp)
  }

  test("lying image prefixes fall back to the stub instead of crashing") {
    val bmText = "BMW sales rose sharply this quarter".getBytes("UTF-8")
    val gifText = "GIFs are a popular format on the web".getBytes("UTF-8")
    // full 6-byte GIF magic but a garbage body: sniff hits, parse fails
    val gifLie = "GIF89a".getBytes("UTF-8") ++ Array.fill(64)('x'.toByte)
    assert(!Multimodal.isImagePayload(bmText)) // DIB header size rejects
    assert(!Multimodal.isImagePayload(gifText)) // needs GIF87a/GIF89a
    assert(Multimodal.isImagePayload(gifLie))
    val media = Seq(
      Multimodal.MediaRow(1L, bmText, "text/plain"),
      Multimodal.MediaRow(2L, gifLie, "image/gif"),
      Multimodal.MediaRow(3L, gifText, "text/plain")).toDS()
    // none of the three crashes; all take the deterministic stub path
    val f = Multimodal.extractFeatures(media).collect()
      .map(r => r.media_id -> r).toMap
    assert(f(1L).width == 64 + ('B'.toInt % 192))
    assert(f(2L).width == 64 + ('G'.toInt % 192))
    assert(f(3L).width == 64 + ('G'.toInt % 192))
    val frames = Multimodal.sampleFrames(media, every = 2, maxFrames = 2)
      .collect().groupBy(_.media_id)
    // 70-byte lying payload → ONE stub frame, fingerprinted from the
    // payload bytes (the image path would fingerprint a decoded raster)
    assert(frames(2L).map(_.frame_idx).toSeq == Seq(0L))
    val expFp = java.security.MessageDigest.getInstance("MD5")
      .digest(gifLie ++ "#0".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(frames(2L).head.frame_checksum == expFp)
    val r = Multimodal.resizePlan(media, 100, 100).collect()
      .map(x => x.media_id -> x).toMap
    assert(r(1L).scale_x_micro == 100000000L / (64 + 'B'.toInt % 192))
  }

  test("exact-substring spans and scrub match a brute-force window scan") {
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"zeta $shared eta theta iota kappa"),
      (3L, "unique tokens only here nothing repeats at all in this doc"),
      (4L, "rep rep rep rep rep rep rep rep rep"), // self-repeat, one doc
      (5L, ""))
    val L = 8
    val df = corpus.toDF("doc_id", "text")
    // brute force: start p is duplicated iff its L-gram occurs >= 2
    // times corpus-wide; consecutive duplicated starts merge
    val toks = corpus.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val gramCount = scala.collection.mutable.Map[String, Int]()
    for ((_, tk) <- toks; p <- 0 to tk.length - L)
      gramCount.updateWith(tk.slice(p, p + L).mkString(" "))(c => Some(c.getOrElse(0) + 1))
    val expSpans = (for ((id, tk) <- toks) yield {
      val dup = (0 to tk.length - L)
        .filter(p => gramCount(tk.slice(p, p + L).mkString(" ")) >= 2)
      val runs = dup.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      runs.reverse.map { case (s, e) =>
        (id, s.toLong, (e + L - 1).toLong, (e + L - 1 - s + 1).toLong) }
    }).flatten.sorted
    val gotSpans = Curation.exactSubstringSpans(df, "doc_id", "text", L)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(expSpans.nonEmpty && gotSpans == expSpans)
    // the shared run is cut at its exact boundaries in both docs
    assert(gotSpans.contains((1L, 2L, 13L, 12L)))
    assert(gotSpans.contains((2L, 1L, 12L, 12L)))
    assert(gotSpans.contains((4L, 0L, 8L, 9L))) // whole self-repeating doc
    // scrub: reconstruction md5 certifies the cut
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val gotScrub = Curation.exactSubstringScrub(df, "doc_id", "text", L)
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    val expScrub = (for ((id, tk) <- toks) yield {
      val spans = expSpans.filter(_._1 == id)
      val kept = tk.zipWithIndex.collect {
        case (t, i) if !spans.exists(s => i >= s._2 && i <= s._3) => t }
      (id, spans.size.toLong, spans.map(_._4).sum, md5hex(kept.mkString(" ")))
    }).toSeq.sorted
    assert(gotScrub == expScrub)
    assert(gotScrub.find(_._1 == 4L).get._4 == md5hex("")) // fully scrubbed
  }

  test("perceptual dHash: PNG exact, JPEG copy within radius 3, distinct patterns far") {
    val n = 600L
    val pngSrc = (0L until n).map(i => (i, i)).toDS()
    val jpgSrc = (0L until n).map(i => (i + 10000L, i)).toDS()
    val hashes = Multimodal.dHash(
        Multimodal.encodePattern(pngSrc, "png")
          .union(Multimodal.encodePattern(jpgSrc, "jpg"))
          .map(e => Multimodal.MediaRow(e.media_id, e.png, "image/*")))
      .collect().map(h => h.media_id -> h.dhash).toMap
    // closed-form dHash of the pattern (levels are monotone in luma)
    def expected(seed: Long): Long = {
      val l = Multimodal.patternLevels(seed)
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (l(y * 9 + x + 1) > l(y * 9 + x)) h |= 1L << (y * 8 + x)
      h
    }
    // PNG is lossless: the decoded raster reproduces the pattern bit-for-bit
    for (s <- 0L until n)
      assert(hashes(s) == expected(s), s"png seed $s")
    // lossy JPEG re-encode stays inside the banded search radius
    val maxPlant = (0L until n)
      .map(s => java.lang.Long.bitCount(hashes(s) ^ hashes(s + 10000L))).max
    assert(maxPlant <= 3, s"lossy re-encode drifted $maxPlant bits")
    // distinct patterns keep a margin outside the radius — checked
    // closed-form across MORE seeds than sf0.1 uses (2500); with
    // planted drift ≤ 1 bit per side, a cross pair needs
    // minCross - 2 > 3 to stay out of radius 3
    val exp = (0L until 2500L).map(expected).toArray
    var minCross = 64
    for (a <- exp.indices; b <- (a + 1) until exp.length)
      minCross = math.min(minCross, java.lang.Long.bitCount(exp(a) ^ exp(b)))
    assert(minCross > 5, s"distinct patterns came within $minCross bits")
    assert(maxPlant <= 1, s"drift $maxPlant would erode the cross margin")
  }

  test("audio fingerprint: scale-invariant, closed-form exact, distinct contours far") {
    val n = 300L
    val base = (0L until n).map(i => (i, i)).toDS()
    val loud = (0L until n).map(i => (i + 10000L, i)).toDS()
    val hashes = Multimodal.audioFingerprint(
        Multimodal.encodeWavPattern(base, scale = 1)
          .union(Multimodal.encodeWavPattern(loud, scale = 2)))
      .collect().map(h => h.media_id -> h.afp).toMap
    // closed form: bit w = level(w+1) > level(w) over the first 65
    // chained levels (windows have equal counts, means exact)
    def expected(seed: Long): Long = {
      val l = Multimodal.patternLevels(seed)
      var h = 0L
      for (w <- 0 until 64) if (l(w + 1) > l(w)) h |= 1L << w
      h
    }
    for (s <- 0L until n) {
      assert(hashes(s) == expected(s), s"seed $s")
      assert(hashes(s + 10000L) == hashes(s), s"2x copy drifted, seed $s")
    }
    // distinct contours keep a wide margin — checked closed-form over
    // more seeds than sf0.1 uses
    val exp = (0L until 2500L).map(expected).toArray
    var minCross = 64
    for (a <- exp.indices; b <- (a + 1) until exp.length)
      minCross = math.min(minCross, java.lang.Long.bitCount(exp(a) ^ exp(b)))
    assert(minCross > 5, s"distinct contours came within $minCross bits")
  }

  test("banded hamming join finds exactly the brute-force pairs at radius 3") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 40L).map(i => (i, rnd.nextLong()))
    // plant near-dups: ids 1000+i get a copy of hash i with ≤3 bits flipped
    val plants = (0L until 40L).map { i =>
      val flips = (0 until (i % 4).toInt)
        .map(_ => 1L << rnd.nextInt(64)).fold(0L)(_ ^ _)
      (1000L + i, base(i.toInt)._2 ^ flips)
    }
    val all = base ++ plants
    val got = Dedup.hammingPairs(all.toDF("id", "h"), "id", "h",
        bits = 64, segments = 4, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val exp = (for {
      a <- all.indices
      b <- (a + 1) until all.length
      ham = java.lang.Long.bitCount(all(a)._2 ^ all(b)._2)
      if ham <= 3
      ids = Seq(all(a)._1, all(b)._1).sorted
    } yield (ids(0), ids(1), ham.toLong)).sorted
    assert(exp.nonEmpty && got == exp)
  }

  test("JPEG codec round-trip: exact dims, solid-gray pixels within band") {
    val src = Seq((1L, 5, 3, 0x404040), (2L, 1, 7, 0xc8c8c8)).toDS()
    val out = Multimodal.decodePng(Multimodal.encodeImage(src, "jpg"))
      .collect().sortBy(_.media_id)
    assert(out.map(r => (r.media_id, r.width, r.height)).toSeq ==
      Seq((1L, 5L, 3L), (2L, 1L, 7L)))
    for ((r, exp) <- out.zip(Seq(0x40L, 0xc8L)); shift <- Seq(16, 8, 0))
      assert(math.abs(((r.px00 >> shift) & 0xff) - exp) <= 8,
        s"media ${r.media_id} channel @$shift: ${r.px00}%06x vs $exp")
  }

  test("real PNG codec round-trip: decode returns encoded dims and pixel") {
    val src = Seq((7L, 3, 5, 0x123456), (8L, 1, 1, 0xffffff),
      (9L, 16, 2, 0)).toDS()
    val out = Multimodal.decodePng(Multimodal.encodePng(src))
      .collect().sortBy(_.media_id)
    assert(out.map(r => (r.media_id, r.width, r.height, r.px00)).toSeq ==
      Seq((7L, 3L, 5L, 0x123456L), (8L, 1L, 1L, 0xffffffL),
        (9L, 16L, 2L, 0L)))
    // the payload really is a PNG: magic bytes from the actual encoder
    val bytes = Multimodal.encodePng(src).collect().head.png
    assert(bytes.take(4).toSeq == Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
  }

  test("real WAV codec round-trip: decode returns encoded rate, frames, peak") {
    val src = Seq((1L, 8000, 120, 300), (2L, 11000, 100, 0),
      (3L, 15000, 499, 29970)).toDS()
    val out = Multimodal.decodeWav(Multimodal.encodeWav(src))
      .collect().sortBy(_.media_id)
    assert(out.map(r => (r.media_id, r.sample_rate, r.channels,
      r.n_frames, r.peak)).toSeq ==
      Seq((1L, 8000L, 1L, 120L, 300L), (2L, 11000L, 1L, 100L, 0L),
        (3L, 15000L, 1L, 499L, 29970L)))
    // the payload really is a RIFF/WAVE file from the actual encoder
    val bytes = Multimodal.encodeWav(src).collect().head.wav
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
  }

  test("sessionize splits on gaps strictly greater than the timeout") {
    val df = Seq(
      (1L, 10L, 0L), (1L, 11L, 100L), (1L, 12L, 101L),
      (1L, 13L, 302L), // gap 201 > 200 → new session
      (2L, 20L, 0L)).toDF("user_id", "event_id", "ts_us")
    val out = graft.operators.Sessionize
      .sessions(df, Seq("user_id"), "ts_us", gap = 200L, tiebreak = Seq("event_id"))
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "session_start", "session_end", "n_events")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (1L, 1L, 0L, 101L, 3L),
      (1L, 2L, 302L, 302L, 1L),
      (2L, 1L, 0L, 0L, 1L)))
  }

  test("ViewDdl renders ordered CREATE VIEW statements and registers temp views") {
    val ddl = graft.operators.ViewDdl.render(
      Map("b" -> Seq("x", "y"), "a" -> Seq("z")), "src", "dst")
    assert(ddl == Seq(
      "CREATE OR REPLACE VIEW dst.a AS SELECT z FROM src.a;",
      "CREATE OR REPLACE VIEW dst.b AS SELECT x, y FROM src.b;"))
    graft.operators.ViewDdl.registerTempViews(spark, sf0001, Seq("nation"), "v")
    assert(spark.sql("SELECT COUNT(*) FROM v_nation").as[Long].head() == 25L)
  }

  test("semanticDedup chains within-cell near-dups, keeps one per cluster") {
    // cents 0 and 25; vectors 1,2 chain to 0's cluster inside cell 0
    // (1~0 and 2~1 qualify, 2~0 alone would not — transitivity); 26
    // is near 25 in the other cell; 3 is alone in cell 0
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (25L, Array(0f, 1f, 0f)),
      (1L, Array(0.95f, 0.05f, 0f)),
      (2L, Array(0.8f, 0.2f, 0f)),
      (3L, Array(0.7f, 0.3f, 0.648f)), // cell 0, cosine to all < 0.95
      (26L, Array(0.05f, 0.95f, 0f))).toDF("vec_id", "embedding")
    val out = graft.pipeline.Similarity.semanticDedup(emb, "vec_id",
        "embedding", org.apache.spark.sql.functions.col("vec_id") % 25 === 0,
        threshold = 0.98)
      .select("vec_id", "cluster_id", "keep")
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(0L)._2 == 0L && byId(1L)._2 == 0L && byId(2L)._2 == 0L)
    assert(byId(3L) == ((3L, 3L, 1)))
    assert(byId(25L)._2 == 25L && byId(26L)._2 == 25L)
    assert(out.count(_._3 == 1) == 3) // one keeper per cluster + singleton
  }

  test("gopher rules fire on crafted violations the corpus never hits") {
    val out = "/tmp/graft_gopher_docs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    // 69 words (>= 50), five distinct required stopwords (>= 2)
    val good = Seq.fill(3)("the quick brown fox jumps over the lazy dog " +
      "and then some more words with that have been added here today " +
      "okay fine").mkString(" ")
    Seq(
      (1L, good, "a"),                                // passes everything
      (2L, "too few words here", "a"),                // fails r_words
      (3L, good.replace(" ", " ## ").trim, "a"),      // fails r_hash (+alpha)
      (4L, (1 to 25).map(i => s"- bullet item $i the of and").mkString("\n"),
        "a"),                                         // fails r_bullet
      (5L, (1 to 25).map(i => s"line number $i the of and trails ...")
        .mkString("\n"), "a"),                        // fails r_ellipsis
      (6L, (1 to 30).map(_ => "7 42 9000").mkString(" "), "a"), // alpha+stop+len
      (7L, Seq.fill(30)("zzz qqq vvv").mkString(" "), "a"))     // fails r_stop
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$out/documents.parquet")
    val rules = queries.PipelineQueries.p61GopherRules(spark, out)
      .collect().map(r => r.getLong(0) ->
        (2 to 8).map(i => r.getLong(i)).toList).toMap
    // flag order: words, mean_len, hash, ellipsis, bullet, alpha, stop
    assert(rules(1L) == List(1L, 1L, 1L, 1L, 1L, 1L, 1L))
    assert(rules(2L).head == 0L)
    assert(rules(3L)(2) == 0L)
    assert(rules(4L)(4) == 0L && rules(4L)(3) == 1L)
    assert(rules(5L)(3) == 0L && rules(5L)(4) == 1L)
    assert(rules(6L)(5) == 0L && rules(6L)(6) == 0L && rules(6L)(1) == 0L)
    assert(rules(7L)(6) == 0L && rules(7L)(5) == 1L)
    val keep = queries.PipelineQueries.p61GopherRules(spark, out)
      .filter(col("keep") === 1).select("doc_id").as[Long].collect()
    assert(keep.toSeq == Seq(1L))
  }

  test("c4 line filter drops short lines, counts punct lines, gates pages") {
    val out = "/tmp/graft_c4_docs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    Seq(
      // 4 lines: two >= 5-word terminal-punct keepers, one short
      // punct-only line ("Short tail?" — punct but < 5 words), one
      // bare fragment; 3 sentence marks pass the page gate
      (1L, "This line has five words.\nno\n" +
        "Another keeper line sits here!\nShort tail?", "a"),
      (2L, "function f() { return 1; }", "a"),   // brace page gate
      (3L, "Lorem Ipsum dolor sit amet etc", "a"), // lorem page gate
      (4L, "a\nb\nc", "a"))                      // nothing survives
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$out/documents.parquet")
    val got = queries.PipelineQueries.p64C4Lines(spark, out)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, String)]
      .collect().toSeq
    assert(got(0)._1 == 1L && got(0)._2 == 4L && got(0)._3 == 2L &&
      got(0)._4 == 3L && got(0)._5 == 3L && got(0)._8 == 1L)
    // cleaned text is exactly the two surviving lines rejoined
    val expFp = java.security.MessageDigest.getInstance("MD5")
      .digest("This line has five words.\nAnother keeper line sits here!"
        .getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    assert(got(0)._9 == expFp)
    assert(got(1)._6 == 1L && got(1)._8 == 0L) // brace kills the page
    assert(got(2)._7 == 1L && got(2)._8 == 0L) // lorem ipsum kills the page
    assert(got(3)._3 == 0L && got(3)._8 == 0L) // no surviving line
  }

  test("bpe pair counts equal a brute-force tally with deterministic ties") {
    val out = "/tmp/graft_bpe_docs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val texts = Seq((1L, "low lower lowest", "a"), (2L, "low low low!", "a"),
      (3L, "", "a"))
    texts.toDF("doc_id", "text", "source")
      .write.parquet(s"$out/documents.parquet")
    val got = queries.PipelineQueries.p62BpePairs(spark, out)
      .as[(String, Long)].collect().toSeq
    // brute force over the same BPE-ish pre-tokenization
    val toks = texts.map(_._2).map(t =>
      "[a-z]+|[0-9]+|[^a-z0-9\\s]".r.findAllIn(t.toLowerCase).toList)
    val expected = toks.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(p => s"${p._1} ${p._2}").view.mapValues(_.size.toLong).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(20)
    assert(got == expected)
    assert(got.head == (("low low", 2L))) // cross-doc count, tie broken by name
  }

  test("bpe trainer matches a brute-force merge loop to exhaustion, blank docs included") {
    // single-node reference trainer: same counting rule (overlaps count),
    // same argmax (count DESC, pair ASC), same greedy left-to-right merge
    def brute(corpus: Seq[String], n: Int): Seq[(Long, String, String, Long)] = {
      var words: Map[List[String], Long] = corpus
        .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) =>
          (w.map(_.toString).toList, ws.size.toLong) }
      val out = Seq.newBuilder[(Long, String, String, Long)]
      var it = 1L
      var stop = false
      while (it <= n && !stop) {
        val pc = scala.collection.mutable.Map[(String, String), Long]()
        for ((syms, c) <- words; p <- syms.zip(syms.tail))
          pc(p) = pc.getOrElse(p, 0L) + c
        if (pc.isEmpty) stop = true
        else {
          val ((l, r), c) = pc.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((it, l, r, c))
          def merge(s: List[String]): List[String] = s match {
            case a :: b :: rest if a == l && b == r => (a + b) :: merge(rest)
            case a :: rest => a :: merge(rest)
            case Nil => Nil
          }
          words = words.groupMapReduce { case (s, _) => merge(s) }(_._2)(_ + _)
          it += 1
        }
      }
      out.result()
    }
    val corpus = Seq("low lower lowest", "low low low!", "", "   ",
      "newer newest news", "wide wider widest", "low lows",
      "tokenizer vocabulary segmentation training",
      "internationalization localization hyperparameter",
      "tokenizer training tokenizer vocabulary")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // deep enough that compounding lineage would have blown up long ago;
    // the corpus exhausts its pairs well before 120, exercising early stop
    val got = Bpe.train(docs, "text", nMerges = 120)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    val exp = brute(corpus, 120)
    assert(exp.size > 25 && exp.size < 120) // really ran deep + exhausted
    assert(got == exp)
  }

  test("wordpiece trainer matches a brute-force likelihood-ratio loop") {
    // single-node reference: same pair counting, winner maximizes the
    // exact integer pc*1e12 / (c_l * c_r) with (l, r) tie-break
    def brute(corpus: Seq[String],
        n: Int): Seq[(Long, String, String, Long, Long)] = {
      var words: Map[List[String], Long] = corpus
        .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) =>
          (w.map(_.toString).toList, ws.size.toLong) }
      val out = Seq.newBuilder[(Long, String, String, Long, Long)]
      var it = 1L
      var stop = false
      while (it <= n && !stop) {
        val pc = scala.collection.mutable.Map[(String, String), Long]()
        val sc = scala.collection.mutable.Map[String, Long]()
        for ((syms, c) <- words) {
          for (p <- syms.zip(syms.tail)) pc(p) = pc.getOrElse(p, 0L) + c
          for (sym <- syms) sc(sym) = sc.getOrElse(sym, 0L) + c
        }
        if (pc.isEmpty) stop = true
        else {
          val scored = pc.map { case ((l, r), c) =>
            ((l, r), c, c * 1000000000000L / (sc(l) * sc(r))) }
          val ((l, r), c, q) = scored.minBy { case ((l, r), _, q) =>
            (-q, l, r) }
          out += ((it, l, r, c, q))
          def merge(s: List[String]): List[String] = s match {
            case a :: b :: rest if a == l && b == r => (a + b) :: merge(rest)
            case a :: rest => a :: merge(rest)
            case Nil => Nil
          }
          words = words.groupMapReduce { case (s, _) => merge(s) }(_._2)(_ + _)
          it += 1
        }
      }
      out.result()
    }
    val corpus = Seq("low lower lowest", "low low low!", "", "   ",
      "newer newest news", "wide wider widest", "low lows",
      "tokenizer vocabulary segmentation training",
      "tokenizer training tokenizer vocabulary")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.trainWordPiece(docs, "text", nMerges = 40)
      .as[(Long, String, String, Long, Long)].collect().toSeq.sortBy(_._1)
    val exp = brute(corpus, 40)
    assert(exp.size > 20)
    assert(got == exp)
    // the likelihood-ratio rule actually diverges from raw-count BPE
    val bpe = Bpe.train(docs, "text", nMerges = 40)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(m => (m._2, m._3)) != bpe.map(m => (m._2, m._3)))
  }

  test("bpe trainer keeps at most two vocab tables live during a deep train") {
    val corpus = Seq("low lower lowest", "low low low!", "",
      "newer newest news", "wide wider widest", "low lows",
      "tokenizer vocabulary segmentation training",
      "internationalization localization hyperparameter",
      "tokenizer training tokenizer vocabulary")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.size
    val maxLive = new java.util.concurrent.atomic.AtomicInteger(baseline)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val n = sc.getPersistentRDDs.size
        maxLive.updateAndGet(m => math.max(m, n)); ()
      }
    }
    sc.addSparkListener(listener)
    val merges =
      try Bpe.train(docs, "text", nMerges = 120)
        .as[(Long, String, String, Long)].collect()
      finally sc.removeSparkListener(listener)
    assert(merges.length > 50) // deep enough that accretion would show
    // during: current + superseded (+ the not-yet-materialized next,
    // registered at persist time) — never one-per-round accretion
    assert(maxLive.get() <= baseline + 3,
      s"trainer accreted cached tables: peak ${maxLive.get()} vs baseline $baseline")
    // after: train() releases even the final table
    assert(sc.getPersistentRDDs.size <= baseline,
      s"trainer left tables persisted: ${sc.getPersistentRDDs.size} vs baseline $baseline")
  }

  test("bpe encodeWith the trainer's vocab equals encode with its merge table") {
    val corpus = Seq("low lower lowest", "low low low!",
      "newer newest news", "wide wider widest", "low lows",
      "tokenizer vocabulary segmentation training")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (mergeDf, vocab) = Bpe.trainWithVocab(docs, "text", nMerges = 40)
    val merges = mergeDf.orderBy("it").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val viaVocab = Bpe.encodeWith(docs, "doc_id", "text", vocab)
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    val viaReplay = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    Bpe.releaseVocab(vocab)
    assert(viaVocab.nonEmpty && viaVocab == viaReplay)
  }

  test("bpe encodeRows equals the replay encode, out-of-vocabulary words included") {
    val trainCorpus = Seq("low lower lowest", "low low low!",
      "newer newest news", "wide wider widest", "low lows",
      "tokenizer vocabulary segmentation training")
    val merges = Bpe.train(trainCorpus.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "text", nMerges = 40)
      .orderBy("it").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // target corpus includes words the trainer NEVER saw (lowland,
    // newsroom share merge pairs; zzz shares none)
    val target = Seq((10L, "low lowland lowest"), (11L, "newsroom news zzz"),
      (12L, ""), (13L, "training wider lowers"))
      .toDF("doc_id", "text")
    val viaRows = Bpe.encodeRows(target, "doc_id", "text", merges)
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    val viaReplay = Bpe.encode(target, "doc_id", "text", merges)
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    assert(viaRows.nonEmpty && viaRows == viaReplay)
    // the unseen-but-related word ("lowland", doc 10 pos 1) really
    // reused trained merges instead of staying character-split
    val lowland = viaRows.find(r => r._1 == 10L && r._2 == 1L).get
    assert(lowland._3 < "lowland".length, s"OOV word never compressed: $lowland")
  }

  test("bpe encode reproduces the trainer's segmentation per word position") {
    // brute single-node encode: apply the trained merges in order with
    // the same greedy left-to-right rule
    def mergeOnce(s: List[String], l: String, r: String): List[String] =
      s match {
        case a :: b :: rest if a == l && b == r =>
          (a + b) :: mergeOnce(rest, l, r)
        case a :: rest => a :: mergeOnce(rest, l, r)
        case Nil => Nil
      }
    val corpus = Seq("low lower lowest", "low low low!", "",
      "newer newest news", "wide wider widest", "low lows",
      "tokenizer vocabulary segmentation training",
      "tokenizer training tokenizer vocabulary")
    val docs = corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.train(docs, "text", nMerges = 40)
      .orderBy("it").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size > 10) // trained deep enough to be interesting
    val got = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    val exp = (for {
      (text, i) <- corpus.zipWithIndex
      (word, pos) <- text.trim.split("\\s+").filter(_.nonEmpty).zipWithIndex
    } yield {
      val syms = merges.foldLeft(word.map(_.toString).toList) {
        case (s, (l, r)) => mergeOnce(s, l, r)
      }
      (i.toLong, pos.toLong, syms.size.toLong, syms.mkString(" "))
    }).sorted
    assert(got == exp)
    // merges actually compressed something: some word became 1 token
    assert(got.exists(r => r._3 == 1L && r._4.length > 1))
  }

  test("audio features match closed forms on a decoded square wave") {
    val src = Seq((1L, 8000, 10, 5, 3), (2L, 8000, 7, 1, 1),
      (3L, 8000, 4, 29971, 10)).toDS()
    val out = Multimodal.audioFeatures(Multimodal.encodeWavSquare(src))
      .collect().sortBy(_.media_id)
    // n=10,a=5,p=3: crossings = (10-1)/3 = 3; energy = 10*25
    assert(out(0) == Multimodal.AudioFeatures(1L, 10L, 5L, 250L, 3L))
    // n=7,a=1,p=1: alternating every sample → 6 crossings
    assert(out(1) == Multimodal.AudioFeatures(2L, 7L, 1L, 7L, 6L))
    // amplitude at the 16-bit edge survives the encode/decode round trip
    assert(out(2) == Multimodal.AudioFeatures(3L, 4L,
      29971L, 4L * 29971L * 29971L, 0L))
  }

  test("keep-longest dedup keeps the raw-longest copy, ties to smaller id") {
    val df = Seq(
      (1L, "alpha beta"),          // len 10
      (2L, "alpha   beta"),        // same fp, len 12 → survivor
      (3L, "alpha  beta"),         // same fp, len 11
      (4L, "gamma delta"),         // singleton
      (5L, "gamma delta"))         // exact tie with 4 → id 4 wins
      .toDF("doc_id", "text")
    val out = Dedup.exactKeepLongest(df, "doc_id", "text")
      .select("keep_id", "keep_len", "n_copies")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((2L, 12L, 3L), (4L, 11L, 2L)))
  }

  test("segment scrub rebuilds docs without duplicated segments, first occurrence wins") {
    // 2-word segments for readable fixtures
    val a = (1L, "aa bb cc dd aa bb")   // segs: "aa bb","cc dd","aa bb" (self-dup)
    val b = (2L, "cc dd ee ff")         // "cc dd" already owned by doc 1
    val c = (3L, "gg hh")
    val df = Seq(a, b, c).toDF("doc_id", "text")
    val out = Curation.segmentScrub(df, "doc_id", "text", segWords = 2)
      .orderBy("doc")
      .as[(Long, Long, Long, String)].collect().toSeq
    def fp(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    // doc 1: 3 segs, within-doc repeat of "aa bb" dropped
    assert(out(0) == ((1L, 3L, 2L, fp("aa bb cc dd"))))
    // doc 2: loses "cc dd" to doc 1, keeps "ee ff"
    assert(out(1) == ((2L, 2L, 1L, fp("ee ff"))))
    assert(out(2) == ((3L, 1L, 1L, fp("gg hh"))))
    // a doc that keeps nothing fingerprints the empty string
    val allDup = Seq((1L, "aa bb"), (2L, "aa bb")).toDF("doc_id", "text")
    val empt = Curation.segmentScrub(allDup, "doc_id", "text", segWords = 2)
      .filter(col("doc") === 2).as[(Long, Long, Long, String)].head()
    assert(empt == ((2L, 1L, 0L, fp(""))))
  }

  test("nb classifier separates disjoint vocabularies and matches a hand model") {
    // two gate-passing docs with distinctive vocabulary, two failing
    val good = (w: String) => (Seq("the", "and", "that", "with", "have")
      ++ Seq.fill(12)(Seq(w + "one", w + "two", w + "three", "time",
        "know").mkString(" "))
      :+ "This closing sentence has five good words here. Yes it does! Fine.")
      .mkString(" ")
    val docs = Seq(
      (1L, good("alpha")), (2L, good("beta")),
      (3L, "spam spam buy pills"), (4L, "zzz qqq buy pills")
    ).toDF("doc_id", "text")
    val out = Curation.nbClassifier(docs, "doc_id", "text", vocabSize = 100)
      .orderBy("doc_id")
      .select("doc_id", "cls", "n_tokens", "llr_micro", "pred")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L))
    // gate labels: the long clean docs pass the funnel, the short ones fail
    assert(out.map(_._2) == Seq(1L, 1L, 0L, 0L))
    // trained on disjoint vocabularies the model reproduces its labels
    assert(out.map(_._5) == Seq(1L, 1L, 0L, 0L))
    // hand-check one LLR: "pills" occurs twice, only in class 0.
    // vocab = all distinct tokens (< 100), add-one smoothing
    val toks = (d: String) => d.trim.split("\\s+").toSeq
    val all = Seq(good("alpha"), good("beta"), "spam spam buy pills",
      "zzz qqq buy pills").flatMap(toks)
    val t1 = toks(good("alpha")).size + toks(good("beta")).size
    val t0 = all.size - t1
    val v = all.distinct.size
    assert(v < 100) // vocabulary cut not in play
    val llrPills = math.floor((math.log(1.0 / (t1 + 101)) -
      math.log(3.0 / (t0 + 101))) * 1e6).toLong
    // recover the pills LLR from two scored docs differing only by it:
    // doc3 = spam spam buy pills, doc4 = zzz qqq buy pills share counts
    // except spam(2,cls0) vs zzz+qqq(1 each,cls0) — instead check the
    // additive decomposition directly on doc 3's score
    val labels = Curation.funnelLabels(docs, "doc_id", "text")
    val labeledToks = labels.select(col("doc_id"), col("cls"),
      explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
    val (llr, _) = Curation.nbCostTables(labeledToks, labels, 100)
    val got = llr.filter(col("tok") === "pills").select("llr")
      .as[Long].head()
    assert(got == llrPills)
  }

  test("bigram LM interpolates bigram MLE with smoothed unigram; pruning keeps ctx") {
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // hand model: uni a:3 b:2 c:1 (T=6, denom=17 at V=10);
    // bg (a,b):2 (b,a):1 (a,c):1; ctx a:3 b:1
    val denom = 17.0
    def pu(c: Long) = (c + 1) / denom
    def cost(p: Double) = math.floor(-math.log(p) * 1e6).toLong
    val d1 = cost(pu(3)) + cost(0.5 * (2.0 / 3.0) + 0.5 * pu(2)) +
      cost(0.5 * (1.0 / 1.0) + 0.5 * pu(3)) +
      cost(0.5 * (2.0 / 3.0) + 0.5 * pu(2))
    val d2 = cost(pu(3)) + cost(0.5 * (1.0 / 3.0) + 0.5 * pu(1))
    val out = Curation.bigramLogLoss(docs, "doc_id", "text", vocabSize = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "nll_micro", "avg_nll_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 4L, d1, d1 / 4), (2L, 2L, d2, d2 / 2)))
    // minBigramCount=2 prunes the singleton bigrams from the SCORING
    // table but context totals stay unpruned: their bigram term drops
    // to 0, the (a,b) bigram keeps its 2/3 MLE
    val d1p = cost(pu(3)) + cost(0.5 * (2.0 / 3.0) + 0.5 * pu(2)) +
      cost(0.5 * 0.0 + 0.5 * pu(3)) +
      cost(0.5 * (2.0 / 3.0) + 0.5 * pu(2))
    val d2p = cost(pu(3)) + cost(0.5 * 0.0 + 0.5 * pu(1))
    val pruned = Curation.bigramLogLoss(docs, "doc_id", "text",
        vocabSize = 10, minBigramCount = 2L)
      .orderBy("doc_id").select("doc_id", "nll_micro")
      .as[(Long, Long)].collect().toSeq
    assert(pruned == Seq((1L, d1p), (2L, d2p)))
  }

  test("Kneser-Ney bigram discounts mass to continuation counts; backs off on unseen context") {
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // hand model: bg (a,b):2 (b,a):1 (a,c):1; ctx a:(3,2) b:(1,1);
    // n1p a:1 b:1 c:1 (each follows exactly one distinct token);
    // nbi=3 bigram types -> pcont = (1+1)/(3+11) for all of a,b,c
    val pc = (1.0 + 1) / (3 + 11).toDouble
    def pkn(cbi: Long, cctx: Long, n1fwd: Long) =
      math.max(cbi - 0.75, 0.0) / cctx + 0.75 * n1fwd / cctx * pc
    def cost(p: Double) = math.floor(-math.log(p) * 1e6).toLong
    val d1 = cost(pc) + cost(pkn(2, 3, 2)) + cost(pkn(1, 1, 1)) +
      cost(pkn(2, 3, 2))
    val d2 = cost(pc) + cost(pkn(1, 3, 2))
    val out = Curation.knBigramLogLoss(docs, "doc_id", "text", vocabSize = 10)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "nll_micro", "avg_nll_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 4L, d1, d1 / 4), (2L, 2L, d2, d2 / 2)))
    // scoring fresh text against the fitted model: unseen context "z"
    // and OOV cur "q" both route to the smoothed continuation
    // distribution (n1p=0 -> (0+1)/14), never a null or a div-by-zero
    val model = Curation.knBigramModel(
      Curation.bigramOccurrences(docs, "doc_id", "text"), vocabSize = 10)
    val fresh = Curation.knScore(
      Curation.bigramOccurrences(Seq((9L, "z q")).toDF("doc_id", "text"),
        "doc_id", "text"),
      Seq(col("doc_id")), model)
    val oov = (0.0 + 1) / (3 + 11).toDouble
    val exp9 = cost(oov) * 2  // pos-1 z (OOV) + unseen-context (z,q)
    assert(fresh.select("doc_id", "nll_micro").as[(Long, Long)]
      .collect().toSeq == Seq((9L, exp9)))
  }

  test("normalized exact dedup collapses case/digit/punct variants; raw-distinct counted") {
    val docs = Seq(
      (1L, "Call 555-0199 now!"),
      (2L, "call 555 0188 NOW"),       // same after digit-fold + punct strip
      (3L, "Call 555-0199 now!"),      // byte-identical to 1
      (4L, "something else entirely")
    ).toDF("doc_id", "text")
    val norm = docs.select(
        graft.pipeline.TextFunctions.ccnetNormalize(col("text")).as("n"))
      .as[String].collect().toSeq
    assert(norm.take(3).toSet == Set("call 000 0000 now"))
    val out = Dedup.exactNormalized(docs, "doc_id", "text")
      .select("keep_id", "n_copies", "n_raw_distinct")
      .as[(Long, Long, Long)].collect().toSet
    // group {1,2,3}: three copies, two distinct raw forms; {4}: alone
    assert(out == Set((1L, 3L, 2L), (4L, 1L, 1L)))
  }

  test("domain mix weights: zero excess for the best domain, hard domains upweighted past share") {
    // source "easy": one sentence repeated -> the KN model compresses
    // it well; source "hard": all-distinct tokens -> high loss
    val docs = Seq(
      (1L, "easy", "aa bb aa bb aa bb"),
      (2L, "easy", "aa bb aa bb"),
      (3L, "hard", "qq ww ee rr tt yy uu"),
      (4L, "hard", "zz xx cc vv nn mm")
    ).toDF("doc_id", "source", "text")
    val out = Curation.domainMixWeights(docs, "doc_id", "text", "source",
        vocabSize = 50)
      .select("source", "n_docs", "n_tokens", "avg_nll_micro",
        "excess_micro", "weight_micro")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("easy")._2 == 2 && out("hard")._2 == 2)
    assert(out("easy")._3 == 10 && out("hard")._3 == 13)
    // the repeated-bigram domain is the best-compressed one
    assert(out("easy")._4 < out("hard")._4)
    assert(out("easy")._5 == 0L && out("hard")._5 > 0L)
    // upweighting: hard's share of weight exceeds its share of tokens;
    // weights normalize to 1e6 up to one floor per domain
    val wSum = out.values.map(_._6).sum
    assert(wSum <= 1000000L && wSum >= 1000000L - 2)
    assert(out("hard")._6 * 23L > 1000000L * 13L)  // w_hard > 13/23
    // deterministic across runs
    val again = Curation.domainMixWeights(docs, "doc_id", "text", "source",
        vocabSize = 50)
      .select("source", "weight_micro").as[(String, Long)].collect().toMap
    assert(again == out.map { case (k, v) => k -> v._6 })
  }

  test("Luhn scrub redacts valid card numbers only; separators tolerated; amounts survive") {
    // 4111111111111111 and 5500-0000-0000-0004 are the textbook valid
    // PANs; flipping the last digit breaks the checksum
    val docs = Seq(
      (1L, "pay 4111111111111111 amount 9950"),
      (2L, "pay 4111111111111112 amount 9950"),   // bad checksum
      (3L, "card 5500-0000-0000-0004 ok"),
      (4L, "card 5500 0000 0000 0004 ok"),        // space-separated
      (5L, "id 123456789 short run"),             // <13 digits
      (6L, "no digits at all")
    ).toDF("doc_id", "text")
    val out = Curation.cardScrub(docs, "doc_id", "text")
      .select("doc_id", "n_digit_runs", "n_luhn_valid", "clean_fp")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 1)
    assert(out(2L)._1 == 2 && out(2L)._2 == 0)
    assert(out(3L)._2 == 1 && out(4L)._2 == 1)
    assert(out(5L)._2 == 0 && out(6L) == ((0L, 0L, out(6L)._3)))
    // the scrubbed text is exactly the literal replacement
    def fp(s: String) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
    }
    assert(out(1L)._3 == fp("pay <CARD> amount 9950"))
    assert(out(2L)._3 == fp("pay 4111111111111112 amount 9950"))
    assert(out(3L)._3 == fp("card <CARD> ok"))
    assert(out(6L)._3 == fp("no digits at all"))
  }

  test("curriculum order: seq is a dense easy-to-hard permutation, phases band evenly") {
    val docs = (1L to 10L).map { i =>
      // doc i repeats a shared sentence i times -> loss falls with i
      (i, Seq.fill(i.toInt)("aa bb cc").mkString(" ") + s" unique$i")
    }.toDF("doc_id", "text")
    val out = Curation.curriculumOrder(docs, "doc_id", "text",
        vocabSize = 50, nPhases = 4)
      .select("doc_id", "phase", "seq", "avg_nll_micro")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
    // dense 0..n-1 sequence; loss non-decreasing along it
    assert(out.map(_._3).toSeq == (0L until 10L))
    assert(out.sliding(2).forall(p => p(0)._4 <= p(1)._4))
    // 10 docs into 4 phases by seq*4 div 10 -> sizes 3,2,3,2, in order
    assert(out.map(_._2).toSeq == Seq(0L, 0, 0, 1, 1, 2, 2, 2, 3, 3))
    // deterministic
    val again = Curation.curriculumOrder(docs, "doc_id", "text",
        vocabSize = 50, nPhases = 4)
      .select("doc_id", "seq").as[(Long, Long)].collect().toMap
    assert(again == out.map(r => r._1 -> r._3).toMap)
  }

  test("iterated DoReMi: hard domains keep everything, easy domains thin, round-2 reported") {
    val docs = (1L to 12L).map { i =>
      if (i <= 6) (i, "easy", "aa bb aa bb aa bb aa bb")
      else (i, "hard", s"q$i w$i e$i r$i t$i y$i u$i")
    }.toDF("doc_id", "source", "text")
    val out = Curation.domainMixIterate(docs, "doc_id", "text", "source",
        vocabSize = 50)
      .select("source", "w1_micro", "excess1_micro", "rate_micro",
        "n_docs_kept", "w2_micro")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    // the hard domain carries the excess -> acceptance rate caps at 1,
    // every doc kept; the easy domain's rate is strictly below 1
    assert(out("hard")._3 > 0L && out("hard")._4 == 1000000L)
    assert(out("hard")._5 == 6L)
    assert(out("easy")._3 == 0L && out("easy")._4 < 1000000L)
    assert(out("easy")._5 <= 6L)
    // round 2 exists for any domain that kept documents
    assert(out("hard")._6.isDefined)
    // deterministic end to end
    val again = Curation.domainMixIterate(docs, "doc_id", "text",
        "source", vocabSize = 50)
      .select("source", "n_docs_kept", "w2_micro")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(again == out.values.map(r => (r._1, r._5, r._6)).toSet)
  }

  test("DSIR hashes unigrams+bigrams, weights toward the target, resamples without replacement") {
    // feature map: "a b c" -> 3 unigram + 2 bigram buckets
    val nf = Seq((1L, "a b c"), (2L, "x"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        size(Curation.dsirBuckets(col("text"), 512)).as("nf"))
      .as[(Long, Int)].collect().toMap
    assert(nf == Map(1L -> 5, 2L -> 1))
    // hand-fit model on synthetic labeled features: bucket 7 appears
    // only in the target doc, bucket 9 only in a raw-only doc
    val feats = Seq((1L, 1L, 7L), (1L, 1L, 3L), (2L, 0L, 9L),
      (2L, 0L, 3L)).toDF("doc_id", "cls", "bucket")
    val llr = Curation.dsirLlrTable(feats, buckets = 512)
      .as[(Long, Long)].collect().toMap
    def l(ct: Long, cr: Long) = math.floor((math.log((ct + 1) /
      (2 + 512).toDouble) - math.log((cr + 1) / (4 + 512).toDouble)) *
      1e6).toLong
    assert(llr == Map(7L -> l(1, 1), 3L -> l(1, 2), 9L -> l(0, 1)))
    assert(llr(7L) > 0 && llr(9L) < 0)  // target-only up, raw-only down
    // scoring sums the per-bucket ratios; the target doc outranks
    val scored = Curation.dsirScore(feats, Seq(col("doc_id")),
      Curation.dsirLlrTable(feats, buckets = 512))
    val byDoc = scored.select("doc_id", "n_feats", "logw_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byDoc(1L) == ((2L, l(1, 1) + l(1, 2))))
    assert(byDoc(2L) == ((2L, l(0, 1) + l(1, 2))))
    // Gumbel top-k: deterministic across runs, k >= n returns all rows
    // ranked, k < n truncates the same prefix
    val all = Curation.dsirResample(scored, "doc_id", k = 10)
      .select("rank", "doc_id").as[(Long, Long)].collect().toSeq
    val again = Curation.dsirResample(scored, "doc_id", k = 10)
      .select("rank", "doc_id").as[(Long, Long)].collect().toSeq
    assert(all == again && all.map(_._1) == Seq(1L, 2L))
    val top1 = Curation.dsirResample(scored, "doc_id", k = 1)
      .select("rank", "doc_id").as[(Long, Long)].collect().toSeq
    assert(top1 == all.take(1))
  }

  test("ivf occupancy flags skewed cells and proposes a deterministic seed split") {
    // 2 centroids on the axes; 5 vectors land with centroid 0, 1 with
    // centroid 1 -> cell 0 is 5/(6/2)=167% of mean, flagged at 130%
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val emb = Seq(
      (0L, v(1, 0)), (1L, v(0, 1)),            // centroids (id % 25 == 0 -> just id < 2 here)
      (2L, v(0.9f, 0.1f)), (3L, v(0.8f, 0.2f)), (4L, v(0.95f, 0.05f)),
      (5L, v(0.7f, 0.3f)),                      // all nearer axis x
      (6L, v(0.1f, 0.9f))                       // nearer axis y
    ).toDF("vec_id", "embedding")
    val out = graft.pipeline.Similarity.ivfOccupancy(emb, "vec_id",
        "embedding", centroidFilter = col("vec_id") < 2, factorPct = 130L)
      .orderBy("cent_id")
      .select("cent_id", "n_members", "oversized", "seed_a", "seed_b",
        "n_a", "n_b")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Long])].collect().toSeq
    // cell 0: members 0,2,3,4,5 (5 of 7); cell 1: members 1,6
    assert(out.map(r => (r._1, r._2)) == Seq((0L, 5L), (1L, 2L)))
    assert(out.map(_._3) == Seq(1L, 0L))
    val flagged = out.head
    assert(flagged._4.contains(0L) && flagged._5.contains(5L))
    // split by nearer seed: seed_a=(1,0), seed_b=(.7,.3); members 0,4,2
    // side with a; 3 ties closer to b? cos(3,a)=.8/n3, cos(3,b)... just
    // pin totals: the two sub-cells partition the 5 members
    assert(flagged._6.get + flagged._7.get == 5L)
    assert(flagged._6.get >= 1L && flagged._7.get >= 1L)

    // executing the split emits means ONLY for the flagged cell —
    // 2 subs x 4 dims — with sub counts equal to the proposal's and
    // mean_fixed matching the hand arithmetic of each sub's members
    val split = graft.pipeline.Similarity.ivfSplitExecute(emb, "vec_id",
        "embedding", centroidFilter = col("vec_id") < 2,
        factorPct = 130L)
      .select("cent_id", "sub", "dim", "n", "mean_fixed")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(split.map(_._1).toSet == Set(0L) && split.length == 8)
    val bySub = split.groupBy(_._2)
    assert(bySub("a").head._4 == flagged._6.get)
    assert(bySub("b").head._4 == flagged._7.get)
    // recompute one mean by hand: members of each sub via the same
    // nearer-seed rule over the fixture vectors
    val members = Map(0L -> v(1, 0), 2L -> v(0.9f, 0.1f),
      3L -> v(0.8f, 0.2f), 4L -> v(0.95f, 0.05f), 5L -> v(0.7f, 0.3f))
    def cos(a: Array[Float], b: Array[Float]) = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val (sa, sb) = (members(0L), members(5L))
    val subOf = members.view.mapValues(m =>
      if (cos(m, sa) >= cos(m, sb)) "a" else "b").toMap
    for (sub <- Seq("a", "b"); dim <- 0 until 4) {
      val xs = members.collect {
        case (id, m) if subOf(id) == sub =>
          math.floor(m(dim).toDouble * 1e6).toLong
      }.toSeq
      val exp = math.floor(xs.sum.toDouble / xs.size).toLong
      assert(split.find(r => r._2 == sub && r._3 == dim).get._5 == exp)
    }
  }

  test("unigram tokenizer Viterbi equals a brute-force DP; EM reweights pieces") {
    import graft.pipeline.Unigram
    // brute force: min-cost segmentation, smallest-split-point ties
    def brute(word: String, costs: Map[String, Long],
        maxLen: Int): (Seq[String], Long) = {
      val L = word.length
      val dp = Array.fill(L + 1)(Long.MaxValue); dp(0) = 0L
      for (i <- 1 to L; j <- math.max(0, i - maxLen) until i) {
        costs.get(word.substring(j, i)).foreach { c =>
          if (dp(j) != Long.MaxValue && dp(j) + c < dp(i)) dp(i) = dp(j) + c
        }
      }
      // smallest j attaining the optimum (recompute, as the engine does)
      def walk(i: Int): List[String] = if (i == 0) Nil else {
        val j = (math.max(0, i - maxLen) until i).find(j =>
          dp(j) != Long.MaxValue &&
            costs.contains(word.substring(j, i)) &&
            dp(j) + costs(word.substring(j, i)) == dp(i)).get
        walk(j) :+ word.substring(j, i)
      }
      (walk(L), dp(L))
    }
    val docs = Seq((1L, "abab abab aba b cab"), (2L, "abab cab cab ba"))
      .toDF("doc_id", "text")
    val words = Unigram.wordCounts(docs, "text")
    val seed = Unigram.seedCounts(words, maxLen = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val vocab = Unigram.fitVocab(seed, vocabSize = 8)
    // all singles survive the cut
    assert(vocab.count(_._1.length == 1) == 3) // a, b, c
    val costs = Unigram.costTable(vocab)
    val got = Unigram.segment(words, costs, maxLen = 3)
      .select("word", "pieces", "cost_micro")
      .as[(String, Seq[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    for ((w, (pieces, cost)) <- got) {
      val (bp, bc) = brute(w, costs, 3)
      assert(pieces == bp, s"$w: $pieces vs $bp")
      assert(cost == bc, s"$w: $cost vs $bc")
    }
    // full train runs EM and keeps every word segmentable
    val seg = Unigram.train(docs, "text", vocabSize = 8, maxLen = 3,
        iters = 2)
      .select("word", "pieces").as[(String, Seq[String])].collect()
    assert(seg.map(_._1).toSet == got.keySet)
    seg.foreach { case (w, ps) => assert(ps.mkString("") == w) }
  }

  test("split repair closes every leak: no near-dup pair straddles after routing") {
    val docs = graft.core.Tables.read(spark, sf0001, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 4,
        threshold = 0.4, maxShingleFreqFrac = Some(0.1))
      .select(col("doc_a"), col("doc_b"))
    val cc = graft.operators.ConnectedComponents.components(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    // the migration matrix accounts for every clustered doc exactly once
    val out = graft.queries.PipelineQueries2.p159SplitRepair(spark, sf0001)
    assert(out.agg(sum(col("n_docs"))).as[Long].head() == cc.count())
    // post-repair split of a doc = split of its cluster head: both
    // endpoints of EVERY near-dup pair must now agree
    val headSplit = docs.select(col("doc_id"),
      (TextFunctions.hash60(concat(lit("split"),
        col("doc_id").cast("string"))) % 100).as("h"))
      .select(col("doc_id"),
        when(col("h") < 80, "train").when(col("h") < 90, "valid")
          .otherwise("test").as("split"))
    val repaired = cc.join(headSplit.select(col("doc_id").as("component"),
        col("split").as("to")), Seq("component"))
      .select(col("node"), col("to"))
    val leaked = pairs
      .join(repaired.toDF("doc_a", "sa"), Seq("doc_a"))
      .join(repaired.toDF("doc_b", "sb"), Seq("doc_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(leaked == 0L, s"$leaked near-dup pairs still straddle splits")
  }

  test("tokenizer store trains once per key and hands back the same artifact") {
    val docs = Seq((1L, "low lower lowest"), (2L, "low low newer"),
      (3L, "newer newest")).toDF("doc_id", "text")
    val a = TokenizerStore.bpe(docs, "store-fixture", "text", nMerges = 10)
    val b = TokenizerStore.bpe(docs, "store-fixture", "text", nMerges = 10)
    // the memo returns the SAME driver objects — zero retraining
    assert((a._1 eq b._1) && (a._2 eq b._2))
    // and the artifact is bit-equal to a direct train
    val (m, v) = Bpe.trainWithVocab(docs, "text", nMerges = 10)
    assert(a._1.collect().toSeq.sortBy(_.getLong(0)) ==
      m.collect().toSeq.sortBy(_.getLong(0)))
    assert(a._2.orderBy("word").collect().toSeq ==
      v.orderBy("word").collect().toSeq)
    Bpe.releaseVocab(v)
    // a different size is a different artifact
    val c = TokenizerStore.bpe(docs, "store-fixture", "text", nMerges = 3)
    assert(!(c._1 eq a._1))
    // wordpiece keys do not collide with bpe keys of the same shape
    val w = TokenizerStore.wordPiece(docs, "store-fixture", "text",
      nMerges = 10)
    assert(!(w._1 eq a._1))
  }

  test("serving-index append equals a full re-export with the frozen quantizer") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val inc = java.nio.file.Files.createTempDirectory("idxappend").toString
    val full = java.nio.file.Files.createTempDirectory("idxfull").toString
    val maxId = emb.agg(max(col("vec_id"))).as[Long].head()
    val coarse = col("vec_id") % 25 === 0 && col("vec_id") <= maxId
    val pq = col("vec_id") < 8
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = coarse, pqFilter = pq, m = 4, dim = 64, inc)
    val frozen = new java.io.File(s"$inc/centroids").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    // localCheckpoint the delta: the re-export below would otherwise
    // fuse rotateVec's 64 permuted element_at trees INTO the folded
    // PQ-argmin codegen of the union leg, and janino dies compiling
    // the composed class (a test-harness composition; the production
    // append path codes the delta directly and is unaffected)
    val delta = emb
      .select((col("vec_id") + lit(maxId + 1)).as("vec_id"),
        Similarity.rotateVec(col("embedding"), 64, "p181").as("embedding"))
      .filter(col("vec_id") % 10 === 3)
      .localCheckpoint(true)
    Similarity.appendServingIndex(spark, inc, delta, "vec_id",
      "embedding", m = 4, dim = 64)
    // committed centroid bytes untouched by the append
    assert(new java.io.File(s"$inc/centroids").listFiles()
      .map(f => (f.getName, f.length, f.lastModified)).toSet == frozen)
    // the extended codes equal a FULL re-export over the union with
    // the SAME frozen quantizer rows (delta ids all sit past maxId,
    // so the bounded filters select exactly the old seed rows)
    Similarity.exportServingIndex(emb.unionByName(delta), "vec_id",
      "embedding", coarseFilter = coarse, pqFilter = pq, m = 4,
      dim = 64, full)
    val ci = spark.read.parquet(s"$inc/codes")
    val cf = spark.read.parquet(s"$full/codes")
    assert(ci.exceptAll(cf).isEmpty && cf.exceptAll(ci).isEmpty)
    // and the SERVED top-k from the extended artifacts equals the
    // in-memory index over the union
    val queries = emb.filter(col("vec_id") < 20)
    val served = Similarity.ivfPqTopKFromArtifacts(spark, inc, queries,
      "vec_id", "embedding", m = 4, dim = 64, k = 5, nprobe = 4)
    val mem = Similarity.ivfPqTopK(emb.unionByName(delta), queries,
      "vec_id", "embedding", coarseFilter = coarse, pqFilter = pq,
      m = 4, dim = 64, k = 5, nprobe = 4)
    assert(served.exceptAll(mem).isEmpty && mem.exceptAll(served).isEmpty
      && served.count() > 0)
  }

  test("serving-index delete: tombstone serves around, compact reclaims, answers unchanged") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("idxdelete").toString
    val coarse = col("vec_id") % 25 === 0
    val pq = col("vec_id") < 8
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = coarse, pqFilter = pq, m = 4, dim = 64, tmp)
    // the doomed slice deliberately avoids centroid/codebook rows so
    // the frozen quantizer survives the delete
    val doomedPred = col("vec_id") % 9 === 2 &&
      col("vec_id") % 25 =!= 0 && col("vec_id") >= 8
    val doomed = emb.filter(doomedPred).select("vec_id")
    val doomedIds = doomed.as[Long].collect().toSet
    assert(doomedIds.nonEmpty)
    val preCodes = spark.read.parquet(s"$tmp/codes").count()
    Similarity.tombstoneServingIndex(spark, tmp, doomed, "vec_id")
    // the logical delete rewrote nothing in codes/
    assert(spark.read.parquet(s"$tmp/codes").count() == preCodes)
    // serving anti-joins the tombstones: equals the in-memory index
    // over the surviving corpus, and never returns a deleted id
    val queries = emb.filter(col("vec_id") < 20)
    val servedPre = Similarity.ivfPqTopKFromArtifacts(spark, tmp,
      queries, "vec_id", "embedding", m = 4, dim = 64, k = 5,
      nprobe = 4).collect().toSet
    val mem = Similarity.ivfPqTopK(emb.filter(!doomedPred), queries,
      "vec_id", "embedding", coarseFilter = coarse, pqFilter = pq,
      m = 4, dim = 64, k = 5, nprobe = 4).collect().toSet
    assert(servedPre == mem && servedPre.nonEmpty)
    assert(servedPre.forall(r => !doomedIds.contains(
      r.getAs[Long]("cand_id"))))
    // compaction reclaims exactly the tombstoned rows (m per vector),
    // clears the tombstone relation, and leaves served answers
    // bit-identical
    Similarity.compactServingIndex(spark, tmp)
    assert(!new java.io.File(s"$tmp/tombstones").exists())
    assert(spark.read.parquet(s"$tmp/codes").count() ==
      preCodes - 4L * doomedIds.size)
    val servedPost = Similarity.ivfPqTopKFromArtifacts(spark, tmp,
      queries, "vec_id", "embedding", m = 4, dim = 64, k = 5,
      nprobe = 4).collect().toSet
    assert(servedPost == servedPre)
  }

  test("ingest dedup gate: re-ingested corpus all dup, novel doc sails through") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("dedupidx").toString
    Dedup.exportDedupIndex(docs, "doc_id", "text", k = 3,
      numHashes = 12, bands = 6, tmp)
    val got = Dedup.ingestDedupCheck(spark, tmp, docs, "doc_id",
      "text", k = 3, numHashes = 12, bands = 6, minAgree = 8)
    val n = docs.count()
    assert(got.count() == n)
    // every re-ingested doc self-collides: full 12/12 agreement, dup
    // verdict, and the best match is itself or an earlier exact copy
    // (ties go to the smallest admitted id)
    assert(got.filter(col("n_agree") === 12 && col("is_dup") === 1 &&
      col("match_doc") <= col("doc_id")).count() == n)
    // a genuinely novel document sails through the gate
    val novel = Seq((999999L, "qqa qqb qqc qqd qqe"))
      .toDF("doc_id", "text")
    val g2 = Dedup.ingestDedupCheck(spark, tmp, novel, "doc_id",
      "text", k = 3, numHashes = 12, bands = 6, minAgree = 8)
      .collect().head
    assert(g2.getAs[Long]("is_dup") == 0L)
  }

  test("dedup-index append extends in place and catches delta dups") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("dedupappend")
      .toString
    val full = java.nio.file.Files.createTempDirectory("dedupfull")
      .toString
    Dedup.exportDedupIndex(base, "doc_id", "text", k = 3,
      numHashes = 12, bands = 6, tmp)
    def sigFiles() = new java.io.File(s"$tmp/sigs").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val frozen = sigFiles()
    Dedup.appendDedupIndex(spark, tmp, delta, "doc_id", "text",
      k = 3, numHashes = 12, bands = 6)
    // committed sig data files untouched by the append — new files
    // only (the _SUCCESS marker's mtime does change)
    assert(frozen.subsetOf(sigFiles()) && sigFiles().size > frozen.size)
    // the appended index equals a fresh full export (no bucket at
    // this SF is anywhere near the cap, so base-capped ∪ delta
    // uncapped = full-capped)
    Dedup.exportDedupIndex(docs, "doc_id", "text", k = 3,
      numHashes = 12, bands = 6, full)
    for (rel <- Seq("bands", "sigs")) {
      val a = spark.read.parquet(s"$tmp/$rel")
      val b = spark.read.parquet(s"$full/$rel")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, rel)
    }
    // a duplicate of a DELTA document is caught after the append
    val deltaDup = delta.limit(1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val v = Dedup.ingestDedupCheck(spark, tmp, deltaDup, "doc_id",
      "text", k = 3, numHashes = 12, bands = 6, minAgree = 8)
      .collect().head
    assert(v.getAs[Long]("is_dup") == 1L &&
      v.getAs[Long]("n_agree") == 12L)
  }

  test("dedup-index compact collapses an oversized bucket to its representative") {
    // 60 identical docs against cap 16: the uncapped append pushes
    // every band bucket past the cap; compact keeps only the min-id
    // representative, and the gate still flags an identical arrival
    val boiler = (1L to 60L).map(i => (i, "xx yy zz ww vv uu"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("dedupcompact")
      .toString
    Dedup.exportDedupIndex(boiler.filter(col("doc_id") <= 10),
      "doc_id", "text", k = 3, numHashes = 12, bands = 6, tmp,
      bucketCap = 16)
    Dedup.appendDedupIndex(spark, tmp,
      boiler.filter(col("doc_id") > 10), "doc_id", "text", k = 3,
      numHashes = 12, bands = 6)
    // one shared signature -> 6 band buckets of 60 rows each
    assert(spark.read.parquet(s"$tmp/bands").count() == 360L)
    Dedup.compactDedupIndex(spark, tmp, bucketCap = 16)
    assert(spark.read.parquet(s"$tmp/bands").count() == 6L)
    val v = Dedup.ingestDedupCheck(spark, tmp,
      Seq((999L, "xx yy zz ww vv uu")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, numHashes = 12, bands = 6,
      minAgree = 8).collect().head
    assert(v.getAs[Long]("is_dup") == 1L &&
      v.getAs[Long]("match_doc") == 1L)
  }

  test("ingest contamination gate agrees with the batch detector pair for pair") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("evalidx").toString
    Curation.exportEvalIndex(bench, "doc_id", "text", k = 3, tmp)
    val gate = Curation.ingestContaminationCheck(spark, tmp, train,
      "doc_id", "text", k = 3, minShared = 2)
    // complete admission record: one verdict per arriving doc
    assert(gate.count() == train.count())
    // the flagged set is exactly the batch detector's train side, and
    // each flagged doc's n_shared equals its worst pair's count
    val pairs = Curation.contaminationPairs(train, bench, "doc_id",
      "text", k = 3, minShared = 2)
    val worst = pairs.groupBy(col("train_doc").as("doc_id"))
      .agg(max(col("n_shared")).as("exp_shared"))
    val flagged = gate.filter(col("is_contaminated") === 1)
      .select(col("doc_id"), col("n_shared"))
    assert(flagged.join(worst, "doc_id")
      .filter(col("n_shared") =!= col("exp_shared")).count() == 0)
    assert(flagged.count() == worst.count())
    // an arriving verbatim copy of a benchmark doc is flagged (take
    // the longest bench doc so it surely carries >= 2 shingles)
    val copy = bench.orderBy(length(col("text")).desc).limit(1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val v = Curation.ingestContaminationCheck(spark, tmp, copy,
      "doc_id", "text", k = 3, minShared = 2).collect().head
    assert(v.getAs[Long]("is_contaminated") == 1L)
  }

  test("artifact param guards fail loudly on mismatched parameters") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").limit(50)
    val tmp = java.nio.file.Files.createTempDirectory("paramguard")
      .toString
    Dedup.exportDedupIndex(docs, "doc_id", "text", k = 3,
      numHashes = 12, bands = 6, tmp)
    // a bands mismatch would produce keys that never collide and
    // silently admit every duplicate — it must throw instead
    val e1 = intercept[IllegalArgumentException] {
      Dedup.ingestDedupCheck(spark, tmp, docs, "doc_id", "text",
        k = 3, numHashes = 12, bands = 4, minAgree = 8)
    }
    assert(e1.getMessage.contains("bands=6"))
    val etmp = java.nio.file.Files.createTempDirectory("paramguard2")
      .toString
    Curation.exportEvalIndex(docs, "doc_id", "text", k = 3, etmp)
    val e2 = intercept[IllegalArgumentException] {
      Curation.ingestContaminationCheck(spark, etmp, docs, "doc_id",
        "text", k = 4, minShared = 2)
    }
    assert(e2.getMessage.contains("k=3"))
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val stmp = java.nio.file.Files.createTempDirectory("paramguard3")
      .toString
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, stmp)
    // a mis-sliced m would degrade results silently
    val e3 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKFromArtifacts(spark, stmp, emb.limit(2),
        "vec_id", "embedding", m = 8, dim = 64, k = 3, nprobe = 2)
    }
    assert(e3.getMessage.contains("m=4"))
    // the hamming (perceptual) index guards its banding the same way
    val hashes = Seq((1L, 7L), (2L, 7L)).toDF("media_id", "h")
    val htmp = java.nio.file.Files.createTempDirectory("paramguard4")
      .toString
    Dedup.exportHammingIndex(hashes, "media_id", "h", bits = 64,
      segments = 4, htmp)
    val e4 = intercept[IllegalArgumentException] {
      Dedup.ingestHammingCheck(spark, htmp, hashes, "media_id", "h",
        bits = 64, segments = 8, maxHamming = 3)
    }
    assert(e4.getMessage.contains("segments=4"))
  }

  test("artifact swap clears a stale backup instead of nesting into it") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = java.nio.file.Files.createTempDirectory("swap").toString
    // simulate a crashed prior swap: live + staging + stale __prev
    for (d <- Seq("live", "staging", "live__prev")) {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root, d))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, d, "marker.txt"), d)
    }
    graft.core.Artifacts.swapIn(fs, s"$root/staging", s"$root/live")
    // staging content is live, nothing nested, backup reclaimed
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "live", "marker.txt")) == "staging")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "live", "staging")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "live__prev")))
  }

  test("artifact heal restores a half-swapped live directory") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = java.nio.file.Files.createTempDirectory("heal").toString
    // crash BETWEEN the two renames: live retired to __prev, nothing
    // published — only the backup exists
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "live__prev"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "live__prev", "marker.txt"), "old")
    graft.core.Artifacts.heal(fs, s"$root/live")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "live", "marker.txt")) == "old")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "live__prev")))
    // healthy directory: heal is a no-op
    graft.core.Artifacts.heal(fs, s"$root/live")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "live", "marker.txt")) == "old")
  }

  test("append refuses a flat codes/ layout instead of corrupting it") {
    val root = java.nio.file.Files.createTempDirectory("flatidx")
      .toString
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 32, m = 4, dim = 64, root)
    // simulate a legacy import: flatten codes/ (no cent_id= dirs)
    val flat = spark.read.parquet(s"$root/codes")
    val tmp = java.nio.file.Files.createTempDirectory("flatcodes")
      .toString
    flat.coalesce(1).write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/codes"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/codes"))
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$root/codes", part.getName))
    val delta = emb.filter(col("vec_id") < 8)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendServingIndex(spark, root, delta, "vec_id",
        "embedding", m = 4, dim = 64)
    }
    assert(e.getMessage.contains("flat codes/ layout"))
  }

  test("reconstruction error reads stored codes against true vectors") {
    // dim=4, m=2, two codebook entries per subspace at (1,1)/(10,10)
    // (off the origin — the coarse assign is cosine-based): vectors
    // 0/1 sit exactly on entries (error 0); vector 2 codes to entry 0
    // in both subspaces with d² = (1²+1²) + (2²+2²) = 10. Mean over
    // the mass floors: (0+0+10)//3 = 3.
    val emb = Seq(
      (0L, Array(1f, 1f, 1f, 1f)),
      (1L, Array(10f, 10f, 10f, 10f)),
      (2L, Array(2f, 2f, 3f, 3f))).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("reconerr")
      .toString
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = col("vec_id") < 1, pqFilter = col("vec_id") < 2,
      m = 2, dim = 4, root)
    val all = Similarity.reconstructionError(spark, root, emb,
      "vec_id", "embedding", m = 2, dim = 4).collect().head
    assert(all.getAs[Long]("n_vecs") == 3 &&
      all.getAs[Long]("recon_err") == 3)
    val one = Similarity.reconstructionError(spark, root,
      emb.filter(col("vec_id") === 2), "vec_id", "embedding",
      m = 2, dim = 4).collect().head
    assert(one.getAs[Long]("n_vecs") == 1 &&
      one.getAs[Long]("recon_err") == 10)
    // append-invariance: absorbing a delta must not move the stored
    // codes of the base mass — the property the p189 card leans on
    Similarity.appendServingIndex(spark, root,
      emb.select((col("vec_id") + 100L).as("vec_id"),
        col("embedding")), "vec_id", "embedding", m = 2, dim = 4)
    val after = Similarity.reconstructionError(spark, root, emb,
      "vec_id", "embedding", m = 2, dim = 4).collect().head
    assert(after.getAs[Long]("recon_err") == 3)
  }

  test("dedup store detects once per key across fresh reads") {
    // two INDEPENDENT reads of the same table share one pair frame
    // and one decision frame (the key is the canonicalized plan +
    // input files, not the DataFrame reference); a different corpus
    // (another SF dir) never collides
    val a = DedupStore.ngramJaccardPairs(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    val b = DedupStore.ngramJaccardPairs(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    assert(a eq b)
    val c = DedupStore.ngramJaccardPairs(
      spark.read.parquet(s"$sf001/documents.parquet"), "doc_id",
      "text", k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    assert(!(a eq c))
    // the memoized frames carry the direct detector's exact values
    val direct = Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", k = 4, threshold = 0.4,
      maxShingleFreqFrac = Some(0.1))
    assert(a.exceptAll(direct).isEmpty && direct.exceptAll(a).isEmpty)
    val dec = DedupStore.dedupDecisions(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    val decDirect = graft.operators.ConnectedComponents.dedupDecisions(
      direct.select(col("doc_a").as("u"), col("doc_b").as("v")))
    assert(dec.exceptAll(decDirect).isEmpty &&
      decDirect.exceptAll(dec).isEmpty)
    // the simhash entry follows the same contract
    val s1 = DedupStore.simhashPairs(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", bits = 64, segments = 4, maxHamming = 2)
    val s2 = DedupStore.simhashPairs(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", bits = 64, segments = 4, maxHamming = 2)
    assert(s1 eq s2)
    val sDirect = Dedup.simhashPairs(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", bits = 64, segments = 4, maxHamming = 2)
    assert(s1.exceptAll(sDirect).isEmpty &&
      sDirect.exceptAll(s1).isEmpty)
  }

  test("classifier store fits once per key across fresh reads") {
    // two INDEPENDENT reads of the same table share one scored frame
    // (key = canonicalized plan + input files, not the reference);
    // different hyperparameters or another SF dir never collide
    val p = Curation.GateProfile.wordSalad
    val a = ClassifierStore.nbScored(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", vocabSize = 500, profile = p)
    val b = ClassifierStore.nbScored(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", vocabSize = 500, profile = p)
    assert(a eq b)
    val other = ClassifierStore.nbScored(
      spark.read.parquet(s"$sf001/documents.parquet"), "doc_id",
      "text", vocabSize = 500, profile = p)
    assert(!(a eq other))
    val narrower = ClassifierStore.nbScored(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", vocabSize = 100, profile = p)
    assert(!(a eq narrower))
    // the memoized frame carries the direct fit's exact values
    val direct = Curation.nbClassifier(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", vocabSize = 500, profile = p)
    assert(a.exceptAll(direct).isEmpty && direct.exceptAll(a).isEmpty)
    // the LR entry follows the same contract
    val l1 = ClassifierStore.lrScored(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", buckets = 64, iters = 12, lrDen = 1, profile = p)
    val l2 = ClassifierStore.lrScored(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", buckets = 64, iters = 12, lrDen = 1, profile = p)
    assert(l1 eq l2)
    val lDirect = Curation.logisticRegression(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", buckets = 64, iters = 12, lrDen = 1, profile = p)
    assert(l1.exceptAll(lDirect).isEmpty &&
      lDirect.exceptAll(l1).isEmpty)
    val fewerIters = ClassifierStore.lrScored(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id",
      "text", buckets = 64, iters = 2, lrDen = 1, profile = p)
    assert(!(l1 eq fewerIters))
  }

  test("trained-index store trains once per key across fresh reads") {
    // TWO INDEPENDENT reads of the same table must share one artifact:
    // the key is the canonicalized plan + resolved input files, not the
    // DataFrame reference (every query builds its own read)
    val embA = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val embB = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val f = col("vec_id") % 25 === 0
    val a = TrainedIndexStore.kmeansMeans(embA, "vec_id", "embedding", f, 2)
    val b = TrainedIndexStore.kmeansMeans(embB, "vec_id", "embedding", f, 2)
    assert(a eq b, "fresh reads of the same table must share the artifact")
    // bit-equal to a direct train
    val direct = Similarity.kmeansTrain(embA, "vec_id", "embedding", f, 2)
      .collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a.collect().sortBy(r => (r.getLong(0), r.getLong(1))).toSeq
      == direct)
    // different iteration counts / filters are different artifacts
    val c = TrainedIndexStore.kmeansMeans(embA, "vec_id", "embedding", f, 1)
    assert(!(c eq a))
    val d = TrainedIndexStore.kmeansMeans(embA, "vec_id", "embedding",
      col("vec_id") % 50 === 0, 2)
    assert(!(d eq a))
    // a DIFFERENT directory with the same plan shape must NOT collide
    val other = spark.read.parquet(s"$sf001/embeddings.parquet")
    val e = TrainedIndexStore.kmeansMeans(other, "vec_id", "embedding", f, 2)
    assert(!(e eq a))
    assert(e.count() != a.count() || e.collect().toSet != a.collect().toSet)
    // PQ books memoize the same way
    val p = TrainedIndexStore.pqBooks(embA, "vec_id", "embedding", 4, 64,
      col("vec_id") < 8, 2)
    val q = TrainedIndexStore.pqBooks(embB, "vec_id", "embedding", 4, 64,
      col("vec_id") < 8, 2)
    assert(p eq q)
  }

  test("classifier and trained-index stores retrain on an input rewritten in place") {
    import java.nio.file.{Files, StandardCopyOption}
    // the same file path gets new bytes (the path-only key would serve
    // the artifact trained on the old contents)
    val tmp = Files.createTempDirectory("store-rewrite")
    def writeInPlace(df: org.apache.spark.sql.DataFrame,
        name: String): String = {
      val staged = tmp.resolve(s"$name-staged").toString
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val target = tmp.resolve(s"$name.parquet")
      Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
      target.toString
    }
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

    val p = Curation.GateProfile.wordSalad
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val docPath = writeInPlace(docs, "documents")
    def lr() = ClassifierStore.lrScored(spark.read.parquet(docPath),
      "doc_id", "text", buckets = 64, iters = 3, lrDen = 1, profile = p)
    val lrOld = lr()
    assert(lr() eq lrOld)
    writeInPlace(docs.filter(col("doc_id") % 2 === 0), "documents")
    val lrNew = lr()
    assert(!(lrNew eq lrOld), "rewritten documents served the stale fit")
    assert(sorted(lrNew) == sorted(Curation.logisticRegression(
      spark.read.parquet(docPath), "doc_id", "text", buckets = 64,
      iters = 3, lrDen = 1, profile = p)))
    assert(sorted(lrNew) != sorted(lrOld))

    val f = col("vec_id") % 25 === 0
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val embPath = writeInPlace(emb, "embeddings")
    def km() = TrainedIndexStore.kmeansMeans(spark.read.parquet(embPath),
      "vec_id", "embedding", f, 2)
    val kmOld = km()
    assert(km() eq kmOld)
    writeInPlace(emb.filter(col("vec_id") % 3 =!= 1), "embeddings")
    val kmNew = km()
    assert(!(kmNew eq kmOld), "rewritten embeddings served stale means")
    assert(sorted(kmNew) == sorted(Similarity.kmeansTrain(
      spark.read.parquet(embPath), "vec_id", "embedding", f, 2)))
    assert(sorted(kmNew) != sorted(kmOld))
  }

  test("k-anonymity histogram counts signature equivalence classes") {
    // users 1,2 share signature {a,b}; user 3 is unique {a}; user 4
    // unique {a,b,c} -> k=2 has 1 signature / 2 users, k=1 has 2 / 2
    val ev = Seq((1L, "a"), (1L, "b"), (1L, "a"),
      (2L, "b"), (2L, "a"),
      (3L, "a"),
      (4L, "a"), (4L, "b"), (4L, "c")).toDF("user_id", "event_type")
    val got = ev.groupBy(col("user_id"))
      .agg(concat_ws("|",
        sort_array(collect_set(col("event_type")))).as("sig"))
      .groupBy(col("sig")).agg(count(lit(1)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_signatures"), sum(col("k")).as("n_users"))
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L), (2L, 1L, 2L)))
  }

  test("jsonl round-trip is bit-exact; corrupt lines surface, not vanish") {
    val docs = Seq(
      (1L, "plain text", "en"),
      (2L, "quotes \" and \\ backslash", "en"),
      (3L, "newline\nand\ttab", "fr"),
      (4L, "unicode ü 中文 🚀", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val tmp = "/tmp/graft_jsonl_spec"
    Jsonl.write(docs, tmp)
    // Spark disallows querying ONLY the corrupt column off a raw
    // json scan; cache the parsed frame first (the documented path)
    val back = Jsonl.read(spark, tmp,
      "doc_id LONG, text STRING, lang STRING").cache()
    try {
      assert(back.filter(col("_corrupt").isNotNull).count() == 0)
      assert(back.select("doc_id", "text", "lang").orderBy("doc_id")
        .collect().toSeq == docs.orderBy("doc_id").collect().toSeq)
    } finally back.unpersist()
    // gzip interchange round-trips identically
    val tmpGz = "/tmp/graft_jsonl_spec_gz"
    Jsonl.write(docs, tmpGz, Some("gzip"))
    val backGz = Jsonl.read(spark, tmpGz,
      "doc_id LONG, text STRING, lang STRING").cache()
    try assert(backGz.select("doc_id", "text", "lang").orderBy("doc_id")
      .collect().toSeq == docs.orderBy("doc_id").collect().toSeq)
    finally backGz.unpersist()
    // a malformed line lands in _corrupt instead of silently dropping
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "extra.json"),
      "this is not json\n".getBytes("UTF-8"))
    val bad = Jsonl.read(spark, tmp,
      "doc_id LONG, text STRING, lang STRING").cache()
    try {
      assert(bad.filter(col("_corrupt").isNotNull).count() == 1)
      assert(bad.count() == 5)
    } finally bad.unpersist()
  }

  test("shard files: written corpus reads back complete, ordered, checksum-faithful") {
    val docs = graft.core.Tables.read(spark, sf0001, "documents")
    val man = Curation.globalShardManifest(docs, "doc_id", "text",
      shardToks = 4096L)
    val tmp = "/tmp/graft_shards_spec_" + spark.sparkContext.applicationId
    Shards.write(docs, "doc_id", "text", man, tmp)
    val back = Shards.read(spark, tmp).cache()
    try {
      // complete and uncorrupted
      assert(back.filter(col("_corrupt").isNotNull).count() == 0)
      assert(back.count() == docs.count())
      val cert = Shards.certify(spark, tmp).cache()
      try {
        // physical row order matches the manifest order
        assert(cert.agg(max("order_inversions")).as[Long].head() == 0L)
        // shards are contiguous 0..max and token mass is conserved
        val chunks = cert.select("chunk_idx").as[Long].collect().sorted
        assert(chunks.head == 0L && chunks.last == chunks.length - 1L)
        val totToks = docs
          .agg(sum(size(TextFunctions.tokens(col("text")))))
          .as[Long].head()
        assert(cert.agg(sum("n_toks")).as[Long].head() == totToks)
        // every doc sits in the shard where its manifest placed it
        val misplaced = back
          .join(man.select(col("doc_id"), col("chunk_idx").as("want"),
            col("chunk_off").as("want_off")), Seq("doc_id"))
          .filter(col("chunk_idx") =!= col("want") ||
            col("chunk_off") =!= col("want_off"))
          .count()
        assert(misplaced == 0L)
      } finally cert.unpersist()
    } finally back.unpersist()
  }

  test("exported serving index answers queries bit-identically to the in-memory path") {
    // the p178 artifacts must be a COMPLETE index: probe + ADC over
    // the parquet round-trip (no raw corpus vector read) reproduces
    // ivfPqTopK exactly — ranks, ids, and micro distances
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val tmp = "/tmp/graft_serving_idx_" + spark.sparkContext.applicationId
    Similarity.exportServingIndex(emb, "vec_id", "embedding",
      coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, tmp)
    val queries = emb.filter(col("vec_id") < 20)
    val direct = Similarity.ivfPqTopK(emb, queries, "vec_id",
        "embedding", coarseFilter = col("vec_id") % 25 === 0,
        pqFilter = col("vec_id") < 8, m = 4, dim = 64, k = 3,
        nprobe = 4)
      .collect().map(_.toSeq).toSet
    val served = Similarity.ivfPqTopKFromArtifacts(spark, tmp, queries,
        "vec_id", "embedding", m = 4, dim = 64, k = 3, nprobe = 4)
      .collect().map(_.toSeq).toSet
    assert(direct.nonEmpty && served == direct,
      s"served ${served.size} rows vs direct ${direct.size}")
  }

  test("gzip shard files certify identically to uncompressed ones") {
    // the interchange codec path: same rows, same order, same
    // checksum card through the compressed write (zstd needs the
    // Hadoop native codec, absent in this runtime — gzip is the
    // tested path; see the Jsonl scaladoc)
    val docs = graft.core.Tables.read(spark, sf0001, "documents")
    val man = Curation.globalShardManifest(docs, "doc_id", "text",
      shardToks = 4096L)
    val plain = "/tmp/graft_shards_plain_" +
      spark.sparkContext.applicationId
    val gz = "/tmp/graft_shards_gz_" +
      spark.sparkContext.applicationId
    Shards.write(docs, "doc_id", "text", man, plain)
    Shards.write(docs, "doc_id", "text", man, gz, Some("gzip"))
    assert(new java.io.File(gz).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .exists(_.getName.endsWith(".json.gz")))
    val cp = Shards.certify(spark, plain)
      .orderBy("chunk_idx").collect().toSeq
    val cz = Shards.certify(spark, gz)
      .orderBy("chunk_idx").collect().toSeq
    assert(cp == cz && cp.nonEmpty)
  }

  test("writeAppend rewrites only chunks at or past the delta's first chunk") {
    val docs = graft.core.Tables.read(spark, sf0001, "documents")
    val weights = docs.groupBy("source").count()
      .select(col("source"), (col("count") * 1000L).as("weight_micro"))
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val existing = Curation.mixtureInterleave(base, "doc_id", "text",
      "source", weights, shardToks = 2048L)
    val appended = Curation.mixtureAppend(existing, delta, "doc_id",
      "text", "source", weights, shardToks = 2048L)
    val deltaMan = appended.join(delta.select("doc_id"), Seq("doc_id"),
      "left_semi")
    val inc = "/tmp/graft_shards_inc_" + spark.sparkContext.applicationId
    val full = "/tmp/graft_shards_full_" + spark.sparkContext.applicationId
    Shards.write(base, "doc_id", "text", existing, inc)
    // snapshot every data file before the append
    def files(root: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root))
        .filter(_.getName.endsWith(".json"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = files(inc)
    Shards.writeAppend(docs, "doc_id", "text", appended, deltaMan, inc)
    val after = files(inc)
    val firstNew = deltaMan.agg(min("chunk_idx")).as[Long].head()
    def chunkOf(path: String): Long =
      "chunk_idx=(\\d+)".r.findFirstMatchIn(path).get.group(1).toLong
    // strictly-earlier chunks: byte-for-byte the committed files
    val untouched = before.filter { case (p, _) => chunkOf(p) < firstNew }
    assert(untouched.nonEmpty, s"fixture degenerate: firstNew=$firstNew")
    untouched.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"rewrote committed chunk: $p")
    }
    // at-or-past chunks exist and were rewritten this pass
    assert(after.keys.exists(p => chunkOf(p) >= firstNew))
    // and the extended directory equals a FULL write of the appended
    // manifest: same rows, same certification card
    Shards.write(docs, "doc_id", "text", appended, full)
    val incRows = Shards.read(spark, inc)
      .select("doc_id", "text", "chunk_idx", "chunk_off")
    val fullRows = Shards.read(spark, full)
      .select("doc_id", "text", "chunk_idx", "chunk_off")
    assert(incRows.except(fullRows).isEmpty &&
      fullRows.except(incRows).isEmpty)
    val ci = Shards.certify(spark, inc).orderBy("chunk_idx")
      .collect().toSeq
    val cf = Shards.certify(spark, full).orderBy("chunk_idx")
      .collect().toSeq
    assert(ci == cf)
  }

  test("shard order audit counts inversions — a scrambled shard is caught") {
    // write the shard FILES by hand: chunk 0 scrambled (one decrease),
    // chunk 1 ordered — the audit reads the files themselves
    val dir = java.nio.file.Files.createTempDirectory("ordaudit").toString
    def writeChunk(idx: Int, offs: Seq[Long]): Unit = {
      val d = java.nio.file.Paths.get(dir, s"chunk_idx=$idx")
      java.nio.file.Files.createDirectories(d)
      val lines = offs.map(o =>
        s"""{"doc_id":$o,"text":"t $o","chunk_off":$o}""").mkString("\n")
      java.nio.file.Files.write(d.resolve("part-00000.json"),
        lines.getBytes("UTF-8"))
    }
    writeChunk(0, Seq(5L, 2L, 7L))
    writeChunk(1, Seq(0L, 3L))
    assert(Shards.orderInversions(spark, dir).as[Long].head() == 1L)
    writeChunk(0, Seq(2L, 5L, 7L))
    assert(Shards.orderInversions(spark, dir).as[Long].head() == 0L)
  }

  test("shard order audit survives files larger than a read split") {
    // the regression the frame-based audit had: an out-of-order pair
    // STRADDLING a DataFrame-scan split boundary was never compared
    // (adjacent pairs were only counted within read partitions). The
    // file-based audit reads each file whole, so the straddling pair
    // is caught no matter how small maxPartitionBytes is.
    val dir = java.nio.file.Files.createTempDirectory("ordsplit").toString
    val d = java.nio.file.Paths.get(dir, "chunk_idx=0")
    java.nio.file.Files.createDirectories(d)
    // ~100 KB of ordered rows, then ONE inverted pair at the very end
    val pad = "x" * 200
    val lines = ((0L until 500L).map(o =>
      s"""{"doc_id":$o,"text":"$pad","chunk_off":$o}""") :+
      s"""{"doc_id":9,"text":"$pad","chunk_off":1}""").mkString("\n")
    java.nio.file.Files.write(d.resolve("part-00000.json"),
      lines.getBytes("UTF-8"))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      // a DataFrame scan now splits the file ~13 ways; the audit must
      // still count exactly the one inversion
      assert(Shards.orderInversions(spark, dir).as[Long].head() == 1L)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("PolyMap dispatches by domain and leaves unmapped domains null") {
    val facts = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L), (4L, "a", 99L))
      .toDF("id", "dom", "fk")
    val lookA = Seq((10L, "alpha")).toDF("k", "v")
    val lookB = Seq((10L, "beta")).toDF("k", "v")
    val out = graft.operators.PolyMap.map(facts, "dom", "fk",
        Seq(graft.operators.PolyMap.Domain("a", lookA, "k", "v"),
          graft.operators.PolyMap.Domain("b", lookB, "k", "v")), "name")
      .orderBy("id").select("name").as[String].collect()
    assert(out.toSeq == Seq("alpha", "beta", null, null))
  }
}
