package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}

import graft.core.ExecutedPlans
import graft.queries.{ParityQueries, PipelineQueries, PipelineQueries2, WebQueries}

/** Physical-plan assertions: the scale properties (filter pushdown,
  * column pruning, broadcast selection, no stray shuffles) must not
  * regress silently. These read the formatted explain output the same
  * way a reviewer would.
  */
class PlansSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Every SQL execution of the declared query `name` at sf0.001 —
    * eager checkpoints and store builds included — from empty stores
    * (a store hit would execute only a scan of the stored frame). The
    * result is materialized with a `noop` write, not `count()`, so
    * column pruning cannot drop operators.
    */
  private def executions(name: String): Seq[QueryExecution] = {
    graft.pipeline.ArtifactStore.clear()
    try ExecutedPlans.capture(spark) {
      SparkEntry.queries(name)(spark, sf0001)
        .write.format("noop").mode("overwrite").save()
    } finally spark.catalog.clearCache()
  }

  /** Formatted final plans of [[executions]]. A "contains" assertion
    * must hold in at least one of them, a "never" assertion in all.
    */
  private def executedPlans(name: String): Seq[String] =
    executions(name).map(ExecutedPlans.explain)

  /** The checkpoint- and store-backed queries whose returned frame is
    * an opaque LogicalRDD: their work shows only in executed plans.
    */
  private val checkpointed = Seq("p02_minhash_lsh", "p03_simhash",
    "p04_ngram_jaccard", "p27_containment", "p40_semantic_dedup",
    "p46_merge_clusters", "p56_ann_recall", "p68_unigram_lm",
    "p81_nb_classifier", "p82_bigram_lm", "p84_classifier_audit",
    "p89_kn_bigram", "p90_dsir", "p92_domain_mix", "p112_bm25",
    "p113_auc", "p114_ppl_buckets", "p116_pmi", "p117_lr_classifier",
    "p122_residual_pq", "p124_calibration", "p132_bm25f",
    "p136_significance", "p139_classifier_agreement",
    "p144_pmi_expansion", "p155_pr_auc", "p156_dedup_retrieval",
    "p157_operating_points", "p173_ltr_rerank",
    "p177_passage_retrieval")

  test("filter + projection reach the parquet scan (q02)") {
    val p = plan(ParityQueries.q02Filter(spark, sf0001))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    // column pruning: the scan must not read the full 16-column lineitem
    assert(p.contains("l_quantity") && !p.contains("l_comment"), p)
  }

  test("dimension lookups are broadcast hash joins, not shuffles (q04)") {
    val p = plan(ParityQueries.q04LookupNames(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("era build shares one shuffle across its windows (q10)") {
    val p = plan(ParityQueries.q10Era(spark, sf0001))
    // lag + running-max + cumsum + final groupBy all share the
    // (person, concept) hash partitioning: expect exactly one Exchange
    val exchanges = """Exchange \(\d""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n$p")
  }

  test("executed-plan fingerprints are non-vacuous for every checkpointed detector") {
    // Bench fingerprints the executions, not the opaque LogicalRDD the
    // public query returns; a (0, 0) row here means the BENCH artifact
    // would carry no plan signal for the most expensive queries again.
    for (name <- checkpointed) {
      val (sh, bc) = Bench.planFingerprint(executions(name))
      assert(sh + bc > 0, s"$name fingerprinted as (0, 0)")
    }
  }

  test("cosine topK broadcasts the query side and keeps scan pruned (p05)") {
    val p = plan(PipelineQueries.p05CosineTopK(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("dot_product_f"), p) // codegen kernel in the plan
  }

  test("pq code assignment is a zero-exchange codegen projection (p48)") {
    val p = plan(PipelineQueries.p48PqCodes(spark, sf0001))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("pq_argmin_f"), p) // native argmin kernel (r15)
  }

  test("trained-PQ code assignment stays a zero-exchange projection (p55)") {
    // training runs its own jobs plan-side; the ASSIGNMENT the query
    // returns must still be the constant-folded argmin, no exchanges
    val p = plan(graft.pipeline.Similarity.pqTrainedCodes(
      spark.read.parquet(s"$sf0001/embeddings.parquet"), "vec_id",
      "embedding", m = 4, dim = 64,
      centroidFilter = org.apache.spark.sql.functions.col("vec_id") < 8,
      iters = 1))
    assert(!p.contains("Exchange"), p)
  }

  test("quality gates are zero-exchange single-scan projections (p61, p64)") {
    // The higher-order array expressions (filter/aggregate/transform)
    // are CodegenFallback, so the plan is Scan → Project chains with
    // no exchange and no join — per-row work only, at any scale.
    for (q <- Seq(PipelineQueries.p61GopherRules _,
        PipelineQueries.p64C4Lines _)) {
      val p = plan(q(spark, sf0001))
      assert(!p.contains("Exchange"), p)
      assert(!p.contains("Join"), p)
      assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    }
  }

  test("IVF-PQ corpus exchange moves codes, not vectors (p74)") {
    val p = plan(PipelineQueries.p74IvfPq(spark, sf0001))
    // r15: cell + codes are ONE native-argmin projection — the former
    // hashpartitioning(cand_id) argmax exchange is gone entirely. The
    // invariant stands stronger: no KEYED exchange may carry a corpus
    // vector (the round-robin compute-spread exchange legitimately
    // moves raw vectors once).
    assert(p.contains("centroid_argmin_f") && p.contains("pq_argmin_f"), p)
    assert(!p.contains("hashpartitioning(cand_id"), p)
    val keyedIn = ("""\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n""" +
      """Arguments: hashpartitioning\(""").r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    keyedIn.foreach(in => assert(!in.contains("cv#"), in))
  }

  test("IVF-PQ refine broadcasts the shortlist; full vectors never shuffle (p83)") {
    val p = plan(PipelineQueries.p83IvfPqRefine(spark, sf0001))
    // the exact re-rank reaches the corpus scan through a broadcast of
    // the Q·rerank shortlist — full vectors are filtered map-side and
    // consumed by the cosine projection, never hash-partitioned
    assert(p.contains("BroadcastHashJoin"), p)
    // r15: only KEYED exchanges are vector-free — the round-robin
    // compute-spread exchange moves raw vectors once by design
    val exIn = ("""\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n""" +
      """Arguments: hashpartitioning\(""").r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    exIn.foreach(in => assert(!in.contains("cv#"), in))
  }

  test("bpe pair counting is one shuffle + top-k, pair keys only (p62)") {
    val p = plan(PipelineQueries.p62BpePairs(spark, sf0001))
    val exchanges = """Exchange \(\d""".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    // partial map-side aggregation runs before the pair shuffle
    assert(p.contains("HashAggregate"), p)
  }

  test("vocab rankings take top-k via heaps, never a global-sort window (p109, p143)") {
    // zipfFit / chiSquareFeatures rank the DISTINCT VOCABULARY: a
    // row_number window over it would sort ~10^8-10^9 rows on one
    // partition at web scale. The plan must cut to topK through
    // TakeOrderedAndProject (per-partition heaps) FIRST; the ranking
    // window then runs over <=topK survivors (its parent position in
    // the formatted tree — parents print before children — proves it
    // consumes the limit, not the vocabulary).
    for (df <- Seq(PipelineQueries2.p109ZipfFit(spark, sf0001),
        PipelineQueries2.p143ChiSquare(spark, sf0001))) {
      val p = plan(df)
      val take = p.indexOf("TakeOrderedAndProject")
      assert(take >= 0, p)
      val win = p.indexOf("Window")
      assert(win < 0 || win < take,
        s"window below the top-k cut — sorting the vocabulary\n$p")
    }
  }

  test("knn/quantization probes ride IVF cells — no corpus-fraction broadcast scan (p169, p170)") {
    // the r11 scale-killer: a vec_id % 20 query side (5% OF THE
    // CORPUS) broadcast into Similarity.topK's exhaustive scan. Now:
    // absolute ~256-query budget, candidates through the cent_id
    // equi-join. The probe plan must carry NO BroadcastNestedLoopJoin
    // that scores queries against the whole corpus (topK's
    // `query_id != cand_id` condition is its signature; the remaining
    // BNLJ blocks are the single-row stride and ~32-row centroid
    // broadcasts, which carry no cand_id).
    for (df <- Seq(PipelineQueries2.p169KnnProbe(spark, sf0001),
        PipelineQueries2.p170QuantizationProbe(spark, sf0001))) {
      val p = plan(df)
      // candidates arrive through the cell equi-join (sort-merge or,
      // post-r15 with the leaner argmin projection sides, broadcast)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"), p)
      // and NO nested-loop block may score queries against the corpus
      val bnlj = p.split("""\(\d+\) """)
        .filter(_.startsWith("BroadcastNestedLoopJoin"))
      bnlj.foreach(b => assert(!b.contains("cand_id"),
        s"brute-force scoring BNLJ back in the probe plan:\n$b"))
    }
  }

  test("segment scrub's winner shuffle moves hashes and ids, not text (p65)") {
    val p = plan(PipelineQueries.p65SegmentScrub(spark, sf0001))
    val m = ("""\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n""" +
      """Arguments: hashpartitioning\(h#""").r.findFirstMatchIn(p)
    assert(m.isDefined, p)
    assert(!m.get.group(1).contains("seg#"), m.get.group(1))
  }

  test("pq ADC scan broadcasts queries; corpus moves codes only (p49)") {
    val p = plan(PipelineQueries.p49PqTopK(spark, sf0001))
    // corpus side: one spread repartition + the pruned ranking exchange
    val exchanges = """Exchange \(\d""".r.findAllIn(p).size -
      """BroadcastExchange \(\d""".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 shuffle exchanges, got $exchanges\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("chunking is a zero-exchange per-row explode (p53)") {
    val p = plan(PipelineQueries.p53Chunks(spark, sf0001))
    assert(!p.contains("Exchange"), p)
  }

  test("snapshot diff shuffles on the id with digest-only payload (p54)") {
    val p = plan(PipelineQueries.p54SnapshotDiff(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the exchange partitions on doc_id, and the digest (md5 prefix) is
    // computed scan-side so text never rides the shuffle
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert(p.contains("md5"), p)
  }

  test("LSH candidate generation is an equi-join on the band key (p02)") {
    // the public minhashPairs returns a checkpointed (plan-opaque)
    // frame, so pin the lazy inner plan it brackets
    val docs = graft.pipeline.Dedup.minhashDocs(
      spark.read.parquet(s"$sf0001/documents.parquet"),
      "doc_id", "text", k = 3, numHashes = 12)
    val p = plan(graft.pipeline.Dedup.minhashPlan(docs, bands = 6, rows = 2,
      threshold = 0.5))
    // candidates must come from a hash-partitioned equi join, never a
    // nested-loop pair scan
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("image near-dup candidates are a banded equi-join, never all-pairs (p77)") {
    val p = plan(PipelineQueries.p77ImageNearDup(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bit_count"), p) // the exact-Hamming verify is in-plan
  }

  test("exact-substring scrub shuffles gram hashes, never all-pairs (p78)") {
    val p = plan(PipelineQueries.p78ExactSubstrings(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("id-map replacement does not force-broadcast the map") {
    // PK maps are fact-sized; replaceId must not carry a broadcast HINT
    // (at 100 TB the measurement map alone OOMs the driver). With
    // auto-broadcast off, a hint would still produce BroadcastHashJoin;
    // the default path must fall back to a shuffle join.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(ParityQueries.q15IdMap(spark, sf0001))
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hyperplane LSH buckets carry no per-row hashing (p06)") {
    import org.apache.spark.sql.functions.col
    // weights are constant-folded on the driver: the bucket expression
    // must be literal arrays + the codegen dot kernel, no md5/conv
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val expr = org.apache.spark.sql.graftbridge.ColumnBridge
      .expression(graft.pipeline.Similarity
        .lshBucket(col("embedding"), dim = 64, planes = 4)).toString
    assert(!expr.contains("md5") && !expr.contains("conv"), expr)
    assert(expr.contains("dot_product_f"), expr)
    val p = plan(emb.select(graft.pipeline.Similarity
      .lshBucket(col("embedding"), 64, 4).as("b")))
    assert(!p.contains("md5"), p)
  }

  test("multi-probe LSH stays an equi-join, probe list codegen-only (p93)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // the probe-bucket expression must be constant-folded like the
    // base bucket: no md5/conv at row time
    val expr = org.apache.spark.sql.graftbridge.ColumnBridge
      .expression(graft.pipeline.Similarity
        .lshProbeBuckets(col("embedding"), 64, 4, 2)).toString
    assert(!expr.contains("md5") && !expr.contains("conv"), expr)
    val p = plan(graft.pipeline.Similarity.lshMultiProbeTopK(emb,
      emb.filter(col("vec_id") < 20), "vec_id", "embedding", 64, 4, 2, 3))
    // candidate generation is the bucket equi-join — no nested loop,
    // and no dedup exchange (probe buckets are pairwise distinct)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(!p.contains("Deduplicate") && !p.contains("Distinct"), p)
  }

  test("DSIR: llr broadcast onto features, Gumbel top-k is TakeOrdered (p90)") {
    import org.apache.spark.sql.functions.{col, explode}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val labels = graft.pipeline.Curation.funnelLabels(docs, "doc_id",
      "text", profile = graft.pipeline.Curation.GateProfile.wordSalad)
    val feats = labels.select(col("doc_id"), col("cls"),
      explode(graft.pipeline.Curation.dsirBuckets(col("text"), 512))
        .as("bucket"))
    val p = plan(graft.pipeline.Curation.dsirPlan(feats, "doc_id",
      buckets = 512, k = 100))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("IVF split execution broadcasts seeds; explode only after the seed join (p96)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val p = plan(graft.pipeline.Similarity.ivfSplitExecute(emb, "vec_id",
      "embedding", centroidFilter = col("vec_id") % 25 === 0,
      factorPct = 130L))
    // the oversized-seed table joins broadcast (the only nested-loop
    // joins are the house single-row total crossJoins); members of
    // healthy cells drop in the seed hash-join BEFORE the explode
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val gen = p.indexOf("Generate")
    val bhj = p.indexOf("BroadcastHashJoin")
    assert(gen >= 0 && bhj >= 0 && gen < bhj, p)
  }

  test("card scrub and ccnet normalization are zero-exchange projections (p95, p91 map side)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = plan(graft.pipeline.Curation.cardScrub(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), p)
    val p2 = plan(docs.select(graft.pipeline.TextFunctions
      .ccnetNormalize(col("text"))))
    assert(!p2.contains("Exchange"), p2)
  }

  test("ngram-Jaccard inverted index joins on 8-byte hash keys (p04)") {
    val docs = graft.pipeline.Dedup.shingled(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text", k = 4)
    val inv = graft.pipeline.Dedup.invIndex(docs, maxShingleFreq = Some(50))
    val p = plan(graft.pipeline.Dedup.ngramJaccardPlan(docs, inv,
      threshold = 0.4))
    // candidate generation must be an equi-join (no nested loop), and
    // the count prefilter must not smuggle a window in
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("containment shares the prefiltered candidate shape (p27)") {
    val docs = graft.pipeline.Dedup.shingled(
      spark.read.parquet(s"$sf0001/documents.parquet"), "doc_id", "text", k = 4)
    val inv = graft.pipeline.Dedup.invIndex(docs, maxShingleFreq = Some(50))
    val p = plan(graft.pipeline.Dedup.containmentPlan(docs, inv,
      threshold = 0.6))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("SCDF era reuses the window shuffle for rollup and era-end (q34)") {
    val p = plan(graft.queries.ParityQueries3.q34ScdfEra(spark, sf0001))
    // era window partitions by (person, scdf); the per-type groupBy and
    // the era-end window both cluster on supersets of those keys, so
    // neither may introduce its own Exchange — and the concept rollup
    // joins must broadcast (dimension side), never shuffle the facts
    val shuffles = """[+:]- Exchange \(\d""".r.findAllIn(p).size
    assert(shuffles <= 2, s"expected <=2 shuffle exchanges, got $shuffles\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("OR-of-EXISTS subsetting is per-branch broadcast semi-joins (q33)") {
    val p = plan(graft.queries.ParityQueries3.q33OrExists(spark, sf0001))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cosine topK pre-prunes map-side before the ranking shuffle (p05)") {
    val p = plan(PipelineQueries.p05CosineTopK(spark, sf0001))
    // the mapPartitions prune must sit BELOW the window's exchange:
    // only per-partition survivors shuffle
    val prune = p.indexOf("MapPartitions")
    val window = p.indexOf("Window")
    assert(prune >= 0 && window >= 0 && prune > window,
      s"prune@$prune window@$window (formatted plans list children after parents)\n$p")
  }

  test("registry subset chains are semi-joins with only the root cohort broadcast (q45)") {
    val p = plan(graft.queries.ParityQueries4.q45SubsetModel(spark, sf0001))
    assert(p.contains("LeftSemi"), p)
    // the customer cohort is hint-broadcast; the derived orders/lineitem
    // key sides must NOT be (they are fact-sized at scale) — so at most
    // the auto-broadcast planner touches them, never a hint, and no
    // dedup shuffle appears for PK-proven-unique parent key sides
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // parent-key sides skip the defensive dropDuplicates (registry PK
    // proves uniqueness): the deepest chain — lineitem through orders
    // through customer — must carry exactly ONE Deduplicate, the root
    // cohort's, not one per level
    import org.apache.spark.sql.functions.col
    val cohort = spark.read.parquet(s"$sf0001/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val subs = graft.operators.ModelSubset.subset(
      graft.model.PedsnetModel.tpch, "customer", cohort,
      name => spark.read.parquet(s"$sf0001/$name.parquet")).toMap
    val dedups = subs("lineitem").queryExecution.analyzed.collect {
      case d: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => d
    }.size
    assert(dedups == 1, s"expected 1 Deduplicate (root cohort only), got $dedups")
  }

  test("kmeans update collapses the centroid product map-side, no window (p21)") {
    val p = plan(PipelineQueries.p21Kmeans(spark, sf0001))
    // nearest-centroid argmax must be a partial-aggregated max(struct),
    // not a row_number window over all |corpus|x|centroids| rows
    assert(!p.contains("Window"), p)
    // shuffle exchanges only — [+:]- prefix excludes BroadcastExchange
    val exchanges = """[+:]- Exchange \(""".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 shuffle exchanges (vid agg + cent/dim agg), got $exchanges\n$p")
  }

  test("kmeans training keeps every iteration a two-shuffle plan (p22)") {
    // centroid state lives on the driver between iterations, so the
    // trained frame's plan does not deepen with the iteration count
    // (pin the RAW primitive; the public p22 serves from ArtifactStore)
    val p = plan(graft.pipeline.Similarity.kmeansTrain(
      spark.read.parquet(s"$sf0001/embeddings.parquet"), "vec_id",
      "embedding",
      org.apache.spark.sql.functions.col("vec_id") % 25 === 0, iters = 2))
    assert(!p.contains("Window"), p)
    val exchanges = """[+:]- Exchange \(""".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 shuffle exchanges, got $exchanges\n$p")
  }

  test("kmeans training runs each Lloyd round as one single-stage job, with no SQL execution (p22)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.{CheckpointBridge, ListenerBridge}
    // centroid state lives on the driver between rounds, so each round
    // is one job over the checkpointed vectors (pin the RAW primitive;
    // the public p22 serves from ArtifactStore below)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val vecs = emb.select(col("embedding").as("v")).localCheckpoint(eager = true)
    val sc = spark.sparkContext
    val group = "lloyd-round-shape"
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
      var means = Seq.empty[((Long, Long), (Long, Option[Long]))]
      val executions =
        try ExecutedPlans.capture(spark) {
          means = graft.pipeline.Similarity.lloydRounds(vecs, cents, iters = 3)
        } finally {
          sc.clearJobGroup()
          ListenerBridge.drain(sc)
          sc.removeSparkListener(listener)
        }
      assert(means.nonEmpty)
      assert(executions.isEmpty,
        s"${executions.size} SQL executions ran inside the Lloyd loop")
      assert(jobs.get == 3, s"3 rounds ran ${jobs.get} jobs")
      assert(stages.get == 3, s"3 rounds ran ${stages.get} stages")
    } finally CheckpointBridge.releaseLocalCheckpoint(vecs)
    // the SERVED means are a centroid-sized local relation: zero
    // exchanges, zero corpus scans for every consumer after the first
    val served = plan(PipelineQueries.p22KmeansTrain(spark, sf0001))
    assert(!served.contains("Exchange"), served)
  }

  test("shard export and sequence packing are single-exchange window plans (p31, p32)") {
    for ((name, df) <- Seq(
        "p31" -> PipelineQueries.p31ShardExport(spark, sf0001),
        "p32" -> PipelineQueries.p32SeqPack(spark, sf0001))) {
      val p = plan(df)
      val exchanges = """[+:]- Exchange \(""".r.findAllIn(p).size
      assert(exchanges <= 1, s"$name: expected <=1 shuffle exchange, got $exchanges\n$p")
    }
  }

  test("decontamination broadcasts the benchmark posting list (p25)") {
    val p = plan(PipelineQueries2.p25Decontaminate(spark, sf0001))
    // the corpus side must stream: hashed-shingle equi-join against a
    // broadcast eval set, no corpus shuffle before the pair count
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dose derivation pairs exposures and weights with one exchange per side (q43)") {
    val p = plan(graft.queries.ParityQueries4.q43Dose(spark, sf0001))
    // as-of inner join + write-back left join, all keyed on person (+id);
    // no cartesian/NLJ leakage from the range predicate
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semantic dedup broadcasts centroids; the pair join keys on the cell (p40)") {
    import org.apache.spark.sql.functions.col
    // the public semanticDedup returns a checkpointed (plan-opaque)
    // frame, so pin the lazy cell-assignment plan it brackets
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cells = graft.pipeline.Similarity.semanticCells(
      emb, "vec_id", "embedding", col("vec_id") % 25 === 0)
    val p = plan(cells)
    // r15 optimization: cell assignment is the native argmin kernel —
    // a zero-join projection over driver-held centroids. No cartesian,
    // no nested-loop, no window, and the only shuffle is the
    // work-spreading round-robin repartition (the corpus vector never
    // enters a keyed exchange).
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("centroid_argmin_f"), p)
    val cellExchanges = """[+:]- Exchange \(""".r.findAllIn(p).size
    assert(cellExchanges <= 1,
      s"expected only the spread repartition, got $cellExchanges\n$p")
    // downstream: the pair join keys on the cell id (equi-join), and
    // the closure output join stays an equi-join on vid
    val pd = plan(graft.pipeline.Similarity.semanticDedupPlan(cells, 0.4))
    assert(!pd.contains("CartesianProduct"), pd)
    assert(!pd.contains("Window"), pd)
  }

  test("IVF assignment collapses corpus×centroids map-side, no N·C window (p19, p26)") {
    // the ONLY window allowed is the final per-query re-rank over the
    // pruned candidate set. r15 optimization: the argmin (corpus side,
    // and the query side at nprobe=1) is the native kernel projection
    // — zero joins, zero aggregation; only a query side probing
    // nprobe>1 cells keeps the bounded collect_list over the broadcast
    // centroid product.
    for (df <- Seq(PipelineQueries.p19Ivf(spark, sf0001),
        PipelineQueries.p26IvfNprobe(spark, sf0001))) {
      val p = plan(df)
      // tree lines read "Window (n)"; "Window \(" cannot match
      // WindowGroupLimit (different following char), and detail headers
      // "(n) Window" lack the trailing paren
      val windows = """Window \(\d""".r.findAllIn(p).size
      assert(windows <= 1, s"expected the final re-rank window only, got $windows\n$p")
      assert(p.contains("centroid_argmin_f"), p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("vocab top-k is TakeOrderedAndProject; OOV join broadcasts the vocab (p41, p42)") {
    val pv = plan(PipelineQueries.p41Vocab(spark, sf0001))
    // per-partition heaps + driver merge, never a global sort of the vocab
    assert(pv.contains("TakeOrderedAndProject"), pv)
    val po = plan(PipelineQueries.p42OovRate(spark, sf0001))
    assert(po.contains("BroadcastHashJoin"), po)
    assert(!po.contains("SortMergeJoin"), po)
  }

  test("artifact serving prunes the codes scan to the probed cells") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("prunedserve")
      .toString
    graft.pipeline.Similarity.exportServingIndex(emb, "vec_id",
      "embedding", coarseFilter = col("vec_id") % 25 === 0,
      pqFilter = col("vec_id") < 8, m = 4, dim = 64, tmp)
    val served = graft.pipeline.Similarity.ivfPqTopKFromArtifacts(
      spark, tmp, emb.filter(col("vec_id") < 4), "vec_id", "embedding",
      m = 4, dim = 64, k = 3, nprobe = 2)
    val p = plan(served)
    // the probed cell set reaches the codes scan as a PARTITION
    // filter — the serving read is nprobe/nlist of the index, not a
    // full scan (codes/ is laid out by cell at export for exactly
    // this)
    val pf = p.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(pf.exists(l => l.contains("cent_id") &&
      !l.contains("PartitionFilters: []")), p)
  }

  test("PII scrub is a zero-exchange codegen projection (p38)") {
    val p = plan(PipelineQueries.p38PiiScrub(spark, sf0001))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("[codegen id : 1]"), p)
    // column pruning: the scan must not read ts or props
    assert(!p.contains("props"), p)
  }

  test("segment dedup shuffles 8-byte segment hashes, not text (p39)") {
    val p = plan(PipelineQueries.p39LineDedup(spark, sf0001))
    // the ownership join + both aggregations key on the hash `h` /
    // doc id — the segment string itself never reaches an exchange
    val exchangeLines = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty, p)
    assert(!exchangeLines.exists(_.contains("seg#")), exchangeLines.mkString("\n"))
  }

  test("bm25 broadcasts the query side; candidates never cross-join (p112)") {
    // the executed plans: the public query checkpoints the
    // cache-bracketed hit frame
    val ps = executedPlans("p112_bm25")
    val all = ps.mkString("\n")
    // query terms, df, and the corpus-stats single row all broadcast;
    // the only BNLJs are single-row crosses: the stats row and the
    // plantedSample stride filters (their condition names __q_stride)
    assert(ps.exists(_.contains("BroadcastHashJoin")), all)
    ps.foreach(p => assert(!p.contains("CartesianProduct"), p))
    ps.foreach(p => assert(nonStrideBnlj(p) <= 1, p))
    // per-query ranking limits inside the window exchange
    assert(ps.exists(_.contains("WindowGroupLimit")), all)
    assertPrunedBeforeShuffle(ps)
  }

  test("bm25f weighted-field index keeps the p112 plan shape (p132)") {
    val ps = executedPlans("p132_bm25f")
    val all = ps.mkString("\n")
    // the per-field posting union collapses into one combine; query
    // terms/df/stats broadcast exactly as in the single-field index
    assert(ps.exists(_.contains("BroadcastHashJoin")), all)
    ps.foreach(p => assert(!p.contains("CartesianProduct"), p))
    ps.foreach(p => assert(nonStrideBnlj(p) <= 1, p))
    assert(ps.exists(_.contains("WindowGroupLimit")), all)
    assertPrunedBeforeShuffle(ps)
  }

  /** The candidate hits are pruned to the query vocabulary BEFORE
    * they shuffle: no executed exchange is keyed by (tok, doc_id) —
    * the full-vocabulary postings shuffle — and the corpus-side
    * exchange is the doc_id-keyed repartition.
    */
  private def assertPrunedBeforeShuffle(ps: Seq[String]): Unit = {
    val keys = ps.flatMap(_.linesIterator)
      .flatMap("""Arguments: hashpartitioning\((.*), \d+\)""".r
        .findFirstMatchIn(_))
      .map(_.group(1).split(", ").map(_.takeWhile(_ != '#')).toSet)
    assert(!keys.contains(Set("tok", "doc_id")),
      s"a (tok, doc_id)-keyed exchange ran: $keys")
    assert(keys.contains(Set("doc_id")), s"no doc_id-keyed exchange: $keys")
  }

  /** BNLJ detail blocks that are NOT a plantedSample stride filter
    * (those carry `__q_stride` in their join condition and broadcast
    * a single-row aggregate) — the count the cross-join pins bound.
    */
  private def nonStrideBnlj(p: String): Int =
    p.split("""\(\d+\) """)
      .count(b => b.startsWith("BroadcastNestedLoopJoin") &&
        !b.contains("__q_stride"))

  test("phrase rerank adds only candidate-pruned joins over bm25 (p131)") {
    val p = plan(PipelineQueries2.p131PhraseRerank(spark, sf0001))
    // the gram side is semi-join-pruned to candidate docs and the
    // phrase key matches via broadcast — no all-pairs anywhere
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("proximity pair scan stays inside candidate groups (p134)") {
    val p = plan(PipelineQueries2.p134Proximity(spark, sf0001))
    // the match self-join keys on (query_id, doc_id) — an equi-join,
    // never a cross product; candidate prunes broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("spell suggestion joins the bigram index, never all-pairs (p135)") {
    val p = plan(PipelineQueries2.p135SpellSuggest(spark, sf0001))
    // probe×vocab contact happens only through the 2-char bigram key
    assert(!p.contains("CartesianProduct"), p)
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size == 0, p)
  }

  test("LR scoring folds the trained weights as a literal map — no join (p117)") {
    // r16: the per-doc feature gather + literal-map scoring replaced
    // the exploded broadcast-join cascade; the scoring pass must stay
    // join-free (the weights ride inside the aggregate expression)
    // and the plan must still show the real feature-gather shuffle.
    val ps = executedPlans("p117_lr_classifier")
    val all = ps.mkString("\n")
    assert(ps.exists(_.contains("element_at(map(keys")), all)
    ps.foreach(p =>
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p))
    // feature gather is a real shuffle
    assert(ps.exists(_.contains("Exchange")), all)
  }

  test("ROC-AUC's ordered window runs over score groups, not the corpus (p113)") {
    val ps = executedPlans("p113_auc")
    val all = ps.mkString("\n")
    // the single-partition sort feeds from the score-grouped
    // aggregate: a Window whose child chain contains HashAggregate
    assert(ps.exists(_.contains("Window")), all)
    assert(ps.exists { p =>
      val idx = p.indexOf("Window")
      idx >= 0 && p.indexOf("HashAggregate", idx) > idx
    }, "window input is not the score-grouped aggregate\n" + all)
  }

  test("PMI top-k is per-partition heaps, not a global sort (p116)") {
    val ps = executedPlans("p116_pmi")
    assert(ps.exists(_.contains("TakeOrderedAndProject")), ps.mkString("\n"))
    ps.foreach(p => assert(!p.contains("CartesianProduct"), p))
  }

  test("domain drift: corpus-wide counts broadcast onto one source-token shuffle (p126)") {
    val p = plan(PipelineQueries2.p126DomainDrift(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("HLL registers: sketch state is a grouped max, no corpus-wide sort (p128)") {
    val p = plan(PipelineQueries2.p128Hll(spark, sf0001))
    // the estimate path is register-table-sized aggregations; the only
    // heavy structure is the (src, register) max groupBy
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window "), "no window should touch the gram stream\n" + p)
  }

  test("residual IVF-PQ: folded index path, corpus exchanges bounded (p122)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val p = plan(graft.pipeline.Similarity.ivfResidualPqTopK(
      emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      coarseFilter = col("vec_id") < 8,
      pqFilter = col("vec_id") < 32 && col("vec_id") % 8 === 0,
      m = 4, dim = 64, k = 10, nprobe = 1))
    // cell assignment, residual, and code assignment are per-row
    // folded-literal projections: no centroid crossJoin, no argmax
    // groupBy on the corpus side — the only exchanges are the spread
    // repartition and the ranking window; the probe set broadcasts
    val exchanges = """[+:]- Exchange \(\d""".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("cluster-quality card broadcasts centroids and prunes map-side (p140)") {
    val p = plan(PipelineQueries2.p140ClusterQuality(spark, sf0001))
    // trained centroids ride a broadcast crossJoin; distances stay in
    // the codegen kernel; the ranking shuffle is preceded by the
    // partial top-k mapPartitions so only 2 rows per vector move
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("dot_product_f"), p)
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("chi-square features: one token shuffle, totals broadcast (p143)") {
    val p = plan(PipelineQueries2.p143ChiSquare(spark, sf0001))
    // the single-row totals frame must broadcast onto the vocab-sized
    // cell table — a sort-merge join here would shuffle the corpus
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("vocab growth: two count shuffles, no sort-merge join, no cartesian (p147)") {
    val p = plan(PipelineQueries2.p147VocabGrowth(spark, sf0001))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // hash-nested checkpoints: NO global sort/window over the corpus
    assert(!p.contains("Window"), p)
  }

  test("hdr quantile sketch: bucket window is sketch-sized, no cartesian (p148)") {
    val p = plan(PipelineQueries2.p148HdrQuantiles(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("crop pairs are a zero-exchange per-row projection (p164)") {
    val p = plan(PipelineQueries2.p164CropPairs(spark, sf0001))
    val exchanges = """Exchange \(\d""".r.findAllIn(p).size
    assert(exchanges == 0, s"expected 0 exchanges, got $exchanges\n$p")
  }

  test("mixture interleave: offset frames broadcast, text never shuffles (p163)") {
    val p = plan(PipelineQueries2.p163MixInterleave(spark, sf0001))
    // the bucket-offset and weight frames come back as broadcasts
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus exchanges carry ids/hashes/counts, never document text
    val shuffleLines = p.linesIterator
      .filter(l => l.contains("Arguments: hashpartitioning")).toSeq
    assert(shuffleLines.nonEmpty, p)
    assert(!shuffleLines.exists(_.contains("text")),
      shuffleLines.mkString("\n"))
  }

  test("shard mix audit never broadcasts the shard totals (p165)") {
    // the shard-count frame is corpus-tokens/shardToks rows, unbounded
    // at 100 TB — its join carries an explicit merge hint so the
    // chunk_idx join is a shuffle join at ANY size estimate, while
    // the domain-sized weight frames keep their broadcasts
    val p = plan(PipelineQueries2.p165ShardMix(spark, sf0001))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"shard-totals join must be a shuffle join on chunk_idx\n$p")
    assert("""Left keys \[1\]: \[chunk_idx""".r.findAllIn(p).nonEmpty, p)
    assert(p.contains("BroadcastHashJoin"), p) // hinted weights survive
  }

  test("web byte path is zero-exchange; payload bytes never shuffle (p192-p194, p197-p198)") {
    // encode → walk → HTTP split → extract → score are per-row maps:
    // one parquet scan, no Exchange, no Join — WARC payloads live and
    // die inside their task at any corpus size
    for (q <- Seq(WebQueries.p192WarcRecords _,
        WebQueries.p193HtmlExtract _, WebQueries.p194WebAdmission _,
        WebQueries.p197WetRoundtrip _, WebQueries.p198CharsetDecode _)) {
      val p = plan(q(spark, sf0001))
      assert(!p.contains("Exchange"), p)
      assert(!p.contains("Join"), p)
      assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    }
  }

  test("frontier dedup and fetch schedule shuffle keys only, once (p195, p196, p199)") {
    // p195: canonicalize per-row, ONE hash-agg exchange on the
    // canonical key; p196: per-row policy math, zero exchange; p199:
    // one per-host window exchange — never a global single partition
    val p195 = plan(WebQueries.p195UrlFrontier(spark, sf0001))
    assert("""Arguments: hashpartitioning""".r.findAllIn(p195).size == 1,
      p195)
    val p196 = plan(WebQueries.p196RobotsGate(spark, sf0001))
    assert(!p196.contains("Exchange"), p196)
    val p199 = plan(WebQueries.p199FetchSchedule(spark, sf0001))
    assert(p199.contains("hashpartitioning(host"), p199)
    assert(!p199.contains("SinglePartition"), p199)
  }

  test("crawl pipeline composite stays a zero-exchange union of two scans (p200)") {
    // blocked branch and fetched branch are per-row maps over the
    // frontier, unioned — no join, no exchange; a blocked URL is
    // never fetched, at any scale
    val p = plan(WebQueries.p200CrawlPipeline(spark, sf0001))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Union"), p)
  }
}
