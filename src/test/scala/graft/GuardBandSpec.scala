package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Curation, Retrieval, TextFunctions => TF}

/** Guard-band audit of every floored transcendental the oracle
  * contract depends on.
  *
  * The engine floors libm-computed doubles (ln, exp, pow) to integer
  * micro before cross-row sums. Java's `Math.log/exp/pow` and DuckDB's
  * libm are each allowed ≤1 ulp of error and are NOT guaranteed to
  * agree; a pre-floor value within ~1e-10 of an integer could floor
  * differently in the two engines and flip a whole micro unit on one
  * side only. This suite measures, on the sf0.01 gate corpus, the
  * minimum distance of every produced pre-floor value from its nearest
  * floor boundary and asserts it exceeds EPS — turning "the values
  * happen to agree" into a checked margin. Exactly-integer values
  * (e.g. ln(1) = 0) are safe on both engines and excluded.
  *
  * Floors whose operands are driver-computed literals shared with the
  * generated oracle SQL (folded centroids, the p130 nDCG discount
  * table, the p128 HLL comparison chain) need no audit — both engines
  * replay identical constants by construction.
  */
class GuardBandSpec extends SparkSpec {
  import spark.implicits._

  /** Micro-space guard band: 1 ulp of libm drift at these magnitudes
    * is ~1e-10, so a 1e-9 margin means no single-ulp disagreement can
    * cross a boundary.
    */
  private val EPS = 1e-9

  private def minBoundaryDist(df: DataFrame, y: Column): Double =
    df.select(y.as("y"))
      .filter(col("y") =!= floor(col("y"))) // exact integers are safe
      .select(least(col("y") - floor(col("y")),
        ceil(col("y")) - col("y")).as("d"))
      .agg(coalesce(min(col("d")), lit(1.0)))
      .as[Double].head()

  private def distScalar(y: Double): Double = {
    val f = y - math.floor(y)
    if (f == 0.0) 1.0 else math.min(f, 1.0 - f)
  }

  test("bm25 and ql log floors sit far from their boundaries") {
    val docs = Tables.read(spark, sf001, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val fields = Seq(TF.tokens(col("text")) -> 1L)
    val idx = Retrieval.bm25fIndex(docs, "doc_id", fields)
    val qT = Retrieval.queryTerms(queries, "query_id", "qtext")
    val hits = Retrieval.prunedHits(docs, "doc_id", fields, qT)
    val dfc = hits.groupBy("tok").agg(count(lit(1)).as("df"))
    val cand = hits.join(dfc, Seq("tok"))
      .join(idx.doclen, Seq("doc_id")).crossJoin(idx.stats)
    val dBm = minBoundaryDist(cand,
      Retrieval.contribDouble(Retrieval.Bm25Params()))
    assert(dBm > EPS, s"bm25 contrib within $dBm of a floor boundary")

    val cf = hits.groupBy("tok").agg(sum(col("tf")).as("cf"))
    val fd = Retrieval.qlFloorDoubles(100.0)
    val dAq = minBoundaryDist(
      qT.join(cf, Seq("tok")).crossJoin(idx.stats), fd("aq_term"))
    assert(dAq > EPS, s"ql aq_term within $dAq of a floor boundary")
    val dDelta = minBoundaryDist(
      hits.join(cf, Seq("tok")).crossJoin(idx.stats), fd("delta"))
    assert(dDelta > EPS, s"ql delta within $dDelta of a floor boundary")
    val dLen = minBoundaryDist(idx.doclen, fd("len"))
    assert(dLen > EPS, s"ql len within $dLen of a floor boundary")
  }

  test("dedup-variant bm25 floors sit far from their boundaries (p156)") {
    // the p156 card rebuilds the index over the min-id survivor set:
    // nd/avgdl/df all shift, so its floor inputs are NEW values the
    // full-corpus audit above never saw — audit them the same way
    val docs = Tables.read(spark, sf001, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val pairs = graft.pipeline.Dedup.ngramJaccardPairs(docs, "doc_id",
      "text", k = 4, threshold = 0.4, maxShingleFreqFrac = Some(0.1))
    val dropped = graft.operators.ConnectedComponents.dedupDecisions(
        pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      .filter(col("keep") === 0).select(col("node").as("doc_id"))
    val deduped = docs.join(dropped, Seq("doc_id"), "left_anti")
    val fields = Seq(TF.tokens(col("text")) -> 1L)
    val idx = Retrieval.bm25fIndex(deduped, "doc_id", fields)
    val qT = Retrieval.queryTerms(queries, "query_id", "qtext")
    val hits = Retrieval.prunedHits(deduped, "doc_id", fields, qT)
    val dfc = hits.groupBy("tok").agg(count(lit(1)).as("df"))
    val cand = hits.join(dfc, Seq("tok"))
      .join(idx.doclen, Seq("doc_id")).crossJoin(idx.stats)
    val dBm = minBoundaryDist(cand,
      Retrieval.contribDouble(Retrieval.Bm25Params()))
    assert(dBm > EPS, s"dedup bm25 contrib within $dBm of a floor boundary")
  }

  test("LTR sigmoid floors sit far from their boundaries, every round (p173)") {
    // the p173 head floors (sigma(z) - y)*1e6 per row per GD round;
    // exp is libm, so each round's pre-floor values ride the same
    // margin audit as the LR classifier's — against the EXACT weight
    // states the production trajectory visits
    val docs = Tables.read(spark, sf001, "documents")
    val queries = Retrieval.plantedQueries(docs, "doc_id", "text")
    val feats0 = graft.pipeline.Ltr.rankFeatures(docs, "doc_id",
      "text", queries, "query_id", "qtext", k = 10)
    val feats = graft.core.Caching.withCached(feats0)(feats0)
    val traj = graft.pipeline.Ltr.ltrTrajectory(feats, iters = 12,
      lrNum = 50L)
    // audit the states each round EVALUATES (all but the final one)
    val dmin = traj.dropRight(1).map { w =>
      val z = graft.pipeline.Ltr.marginMicro(w)
      val sigma = lit(1.0) /
        (lit(1.0) + exp(-(z.cast("double") / lit(1e6))))
      minBoundaryDist(feats,
        (sigma - col("y").cast("double")) * 1e6)
    }.min
    assert(dmin > EPS, s"LTR sigmoid within $dmin of a floor boundary")
  }

  test("chunk-index bm25 floors sit far from their boundaries (p177)") {
    // the passage index scores 32-token chunks over the LONG-DOC
    // fixture (filler-padded documents): nd/avgdl/df/dl are all NEW
    // floor inputs the document-corpus audit never saw — audit BOTH
    // the chunk index and the padded whole-document index p177 ranks
    val base = Tables.read(spark, sf001, "documents")
    val docs = graft.queries.PipelineQueries2.longDocFixture(base)
    // p177's own 8-token planted queries (see its scaladoc)
    val queries = Retrieval.plantedSample(base, "doc_id")
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(graft.pipeline.TextFunctions.tokens(
          col("text")), 1, 8)).as("qtext"))
    val qT = Retrieval.queryTerms(queries, "query_id", "qtext")
    val chunks = graft.pipeline.Curation.chunkDocuments(docs, "doc_id",
        "text", chunkToks = 32, strideToks = 24)
      .select((col("doc_id") * 10000L + col("chunk_seq")).as("cid"),
        col("chunk_text"))
    for ((tag, corpus, id, text) <- Seq(
        ("chunk", chunks, "cid", "chunk_text"),
        ("paddedDoc", docs, "doc_id", "text"))) {
      val fields = Seq(TF.tokens(col(text)) -> 1L)
      val idx = Retrieval.bm25fIndex(corpus, id, fields)
      val hits = Retrieval.prunedHits(corpus, id, fields, qT)
      val dfc = hits.groupBy("tok").agg(count(lit(1)).as("df"))
      val cand = hits.join(dfc, Seq("tok"))
        .join(idx.doclen, Seq("doc_id")).crossJoin(idx.stats)
      val d = minBoundaryDist(cand,
        Retrieval.contribDouble(Retrieval.Bm25Params()))
      assert(d > EPS, s"$tag bm25 contrib within $d of a floor boundary")
    }
  }

  test("probe cosine floors sit far from their boundaries (p169, p170)") {
    // the kNN/quantization probes floor cosine to micro inside the
    // IVF ranking; the dot/norm kernels are index-order-deterministic
    // in both engines, but the margin check is cheap insurance. Audit
    // the SUPERSET of all (planted query x corpus) cosines — whatever
    // cells the IVF probe selects, its floored pairs are among these.
    val emb = Tables.read(spark, sf001, "embeddings")
    def audit(frame: DataFrame, tag: String): Unit = {
      val q = Retrieval.plantedSample(frame, "vec_id", 256)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val pairs = frame
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        .crossJoin(broadcast(q)).filter(col("qid") =!= col("cid"))
      val d = minBoundaryDist(pairs,
        graft.pipeline.Similarity.cosine(col("qv"), col("cv")) * 1e6)
      assert(d > EPS, s"$tag probe cosine within $d of a floor boundary")
    }
    audit(emb, "raw")
    audit(emb.select(col("vec_id"),
      transform(graft.pipeline.Similarity.quantize(col("embedding"),
          graft.pipeline.Similarity.quantScale(col("embedding"))),
        x => x.cast("float")).as("embedding")), "int8")
  }

  test("domain-mix exp floors sit far from their boundaries") {
    val docs = Tables.read(spark, sf001, "documents")
    // same operation order as domainMixWeightsPlan's w_int, replayed
    // on the driver (same JVM libm) from the plan's own outputs
    val rows = Curation.domainMixWeights(docs, "doc_id", "text",
        "source", vocabSize = 500)
      .select(col("n_tokens"), col("excess_micro"))
      .as[(Long, Long)].collect()
    val ntot = rows.map(_._1).sum
    val dmin = rows.map { case (nt, ex) =>
      distScalar((nt / ntot.toDouble) * math.exp(ex / 1e6) * 1e6)
    }.min
    assert(dmin > EPS, s"domain-mix w_int within $dmin of a boundary")
  }

  test("LR sigmoid floors sit far from their boundaries, every round") {
    val docs = Tables.read(spark, sf001, "documents")
    val buckets = 64
    val labeled = Curation.funnelLabels(docs, "doc_id", "text",
        profile = Curation.GateProfile.wordSalad)
      .select(col("doc_id"), col("cls"),
        explode(array_distinct(transform(TF.tokens(col("text")),
          t => TF.hash60(t) % buckets))).as("bucket"))
      .localCheckpoint()
    // replicate the lrWeights trajectory, measuring each round's
    // sigmoid boundary distance; the final weights are asserted equal
    // to lrWeights' own, so this replica can never silently drift
    // from the production loop
    val iters = 12
    val lab = labeled.groupBy(col("doc_id")).agg(max(col("cls")).as("cls"))
    val feats = labeled.select(col("doc_id"), col("bucket"))
    val m = lab.agg((count(lit(1)) * 1).as("m"))
    var resid = lab.select(col("doc_id"),
      (lit(500000L) - col("cls") * lit(1000000L)).as("r"))
    var w = Map.empty[Long, Long]
    var dmin = 1.0
    for (t <- 1 to iters) {
      val grad = feats.join(resid, Seq("doc_id"))
        .groupBy(col("bucket")).agg(sum(col("r")).as("g"))
      val delta = grad.crossJoin(broadcast(m))
        .select(col("bucket"),
          (-call_function("div",
            col("g") - pmod(col("g"), col("m")), col("m"))).as("d"))
        .as[(Long, Long)].collect()
      w = delta.foldLeft(w) { case (acc, (b, d)) =>
        acc + (b -> (acc.getOrElse(b, 0L) + d))
      }
      if (t < iters) {
        val wDf = w.toSeq.sortBy(_._1).toDF("bucket", "w")
        val z = feats.join(broadcast(wDf), Seq("bucket"))
          .groupBy(col("doc_id")).agg(sum(col("w")).as("z"))
        val sigma = lit(1.0) /
          (lit(1.0) + exp(-(col("z").cast("double") / lit(1e6))))
        val zl = lab.join(z, Seq("doc_id"))
        // audit the EXACT floored expression (σ − cls)·10⁶ — its
        // rounding differs from σ·10⁶ on the cls = 1 rows
        dmin = math.min(dmin, minBoundaryDist(zl,
          (sigma - col("cls").cast("double")) * 1e6))
        resid = zl.select(col("doc_id"),
          floor((sigma - col("cls").cast("double")) * 1e6)
            .cast("long").as("r"))
      }
    }
    assert(dmin > EPS, s"LR sigmoid within $dmin of a floor boundary")
    val prod = Curation.lrWeights(labeled, "doc_id", iters, lrDen = 1)
    assert(w.toSeq.sortBy(_._1) == prod,
      "audit replica diverged from the production LR trajectory")

    // calibration-report sigmoid centers over the produced buckets
    val zs = Curation.logisticRegression(docs, "doc_id", "text",
        buckets, iters, lrDen = 1,
        profile = Curation.GateProfile.wordSalad)
      .select(col("z_micro")).as[Long].collect()
    val dCal = zs.map { z =>
      val bucket = z - (((z % 400000) + 400000) % 400000)
      distScalar(1e6 / (1.0 + math.exp(-((bucket + 200000) / 1e6))))
    }.min
    assert(dCal > EPS, s"calibration sigmoid within $dCal of a boundary")
  }

  test("entropy / zipf / pmi / drift log floors sit far from boundaries") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.read(spark, sf001, "documents")
    val toks = TF.tokens(col("text"))

    // entropy (p121): −(c/n)·ln(c/n)·10⁶ per (doc, symbol), both the
    // token and character branches — counts rebuilt exactly as
    // Curation.entropyStats builds them
    def entropyDist(sym: Column): Double = {
      val counts = docs.select(col("doc_id"), explode(sym).as("sym"))
        .groupBy(col("doc_id"), col("sym")).agg(count(lit(1)).as("c"))
      val withN = counts.withColumn("n",
        sum(col("c")).over(Window.partitionBy(col("doc_id"))))
      val pr = col("c").cast("double") / col("n").cast("double")
      minBoundaryDist(withN, -(pr * log(pr)) * 1e6)
    }
    val chars = when(length(col("text")) > 0,
      transform(sequence(lit(1), length(col("text"))),
        i => col("text").substr(i, lit(1))))
      .otherwise(array())
    val dTok = entropyDist(toks)
    assert(dTok > EPS, s"token entropy within $dTok of a boundary")
    val dChar = entropyDist(chars)
    assert(dChar > EPS, s"char entropy within $dChar of a boundary")

    // zipf (p109): ln(rank)·10³ and ln(count)·10³ over the top-500
    val zc = docs.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("tok"))))
      .filter(col("rank") <= 500)
    val dZr = minBoundaryDist(zc, log(col("rank").cast("double")) * 1e3)
    assert(dZr > EPS, s"zipf ln(rank) within $dZr of a boundary")
    val dZn = minBoundaryDist(zc, log(col("n").cast("double")) * 1e3)
    assert(dZn > EPS, s"zipf ln(n) within $dZn of a boundary")

    // PMI (p116): the fixed-order ratio log over ALL pairs surviving
    // the min-count gate (the floor also decides the top-k ordering)
    val occ = Curation.bigramOccurrences(docs, "doc_id", "text")
    val uni = occ.groupBy(col("cur").as("tok"))
      .agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").as("t"))
    val bg = occ.filter(col("prev").isNotNull)
      .groupBy("prev", "cur").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    val btot = occ.filter(col("prev").isNotNull)
      .agg(count(lit(1)).as("bt"))
    val pmiRows = bg
      .join(uni.select(col("tok").as("prev"), col("cu").as("cx")),
        Seq("prev"))
      .join(uni.select(col("tok").as("cur"), col("cu").as("cy")),
        Seq("cur"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
    val pmiY = log(
      (col("cxy").cast("double") / col("bt").cast("double")) /
        ((col("cx").cast("double") / col("t").cast("double")) *
          (col("cy").cast("double") / col("t").cast("double")))) * lit(1e6)
    val dPmi = minBoundaryDist(pmiRows, pmiY)
    assert(dPmi > EPS, s"pmi within $dPmi of a boundary")

    // domain drift (p126): p_s·ln(p_s/p_c)·10⁹ per (source, token)
    val occ2 = docs.select(col("source").as("src"),
      explode(toks).as("tok"))
    val sc2 = occ2.groupBy(col("src"), col("tok"))
      .agg(count(lit(1)).as("cs"))
    val cc2 = occ2.groupBy(col("tok")).agg(count(lit(1)).as("cv"))
    val v2 = cc2.agg(count(lit(1)).as("v"), sum(col("cv")).as("tc"))
    val drift = sc2.withColumn("ts",
        sum(col("cs")).over(Window.partitionBy(col("src"))))
      .join(broadcast(cc2), Seq("tok"))
      .crossJoin(broadcast(v2))
    val ps = (col("cs") + 1).cast("double") /
      (col("ts") + col("v")).cast("double")
    val pc = (col("cv") + 1).cast("double") /
      (col("tc") + col("v")).cast("double")
    val dDrift = minBoundaryDist(drift, ps * log(ps / pc) * 1e9)
    assert(dDrift > EPS, s"drift within $dDrift of a boundary")
  }

  test("banding-theory pow floors sit far from their boundaries") {
    // the p108 theory curve: (1 − (1 − (t/100)²)⁶) · 10⁶ at the five
    // swept thresholds — a data-independent constant set
    val dmin = Seq(30, 40, 50, 60, 70).map { t =>
      distScalar((1.0 - math.pow(
        1.0 - math.pow(t / 100.0, 2.0), 6.0)) * 1e6)
    }.min
    assert(dmin > EPS, s"banding theory floor within $dmin of a boundary")
  }
}
