package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions._
import graft.core.Caching

/** Deduplication operators for document corpora: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup detection.
  *
  * Beyond-reference surface (BASELINE.json north star). Scale design:
  * every method is a pure shuffle-bounded DataFrame plan — no
  * collect(), no cross join. Candidate generation always goes through
  * an equi-join key (content hash, LSH band, simhash segment, shared
  * shingle), so the only full pairwise work happens within buckets,
  * which is the standard way these algorithms bound cost at corpus
  * scale.
  *
  * Caching contract: the pair detectors cache their shingled
  * intermediate for the duration of the computation (it feeds candidate
  * generation AND both verify sides, so materializing it once is the
  * point) through [[graft.core.Caching.withCached]], which releases the
  * cache deterministically once the (far smaller) pair result is
  * materialized — no CacheManager entries survive a detector call
  * (CachingSpec). The returned frame is block-backed; reuse is free.
  */
object Dedup {

  /** Document corpora usually arrive as few dense files (1 input split
    * ≪ cores); the per-document hashing below is the hot path, so
    * spread rows across the cluster first — one small shuffle of raw
    * rows unlocks full parallelism for everything downstream.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact dedup by content hash: one row per distinct normalized text,
    * keeping the smallest `idCol`, with the group size attached.
    * Equivalent to the classic hash-groupBy dedup; the md5 keeps the
    * shuffle key small (16 bytes) instead of shuffling full documents.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df).select(
        col(idCol),
        fingerprint(tokens(col(textCol))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** [[exact]] with the keep-longest policy: among documents sharing a
    * fingerprint, keep the one with the most RAW characters (exact
    * duplicates here are equal after whitespace normalization, so raw
    * length still varies), ties to the smallest id. The policy rides
    * the same 16-byte-key shuffle: the aggregate carries a
    * (length, -id) struct max instead of an id min — no extra
    * exchange, no text movement.
    */
  def exactKeepLongest(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df).select(
        col(idCol),
        length(col(textCol)).cast("long").as("len"),
        fingerprint(tokens(col(textCol))).as("fp"))
      .groupBy(col("fp"))
      .agg(
        max(struct(col("len"), (-col(idCol)).as("nid"))).as("best"),
        count(lit(1)).as("n_copies"))
      .select(col("fp"), (-col("best.nid")).as("keep_id"),
        col("best.len").as("keep_len"), col("n_copies"))

  /** [[exact]] under CCNet normalization
    * ([[graft.pipeline.TextFunctions.ccnetNormalize]]): documents that
    * differ only in case, digits, or punctuation share a fingerprint,
    * so this catches the near-identical-scrape class that plain
    * whitespace normalization misses — at exactly the same cost (the
    * normalization is a zero-exchange codegen projection; the shuffle
    * still moves 16-byte digests). Output adds `n_raw_distinct`, the
    * number of distinct RAW fingerprints inside each normalized group
    * — 1 means byte-identical copies, >1 means normalization did the
    * collapsing.
    */
  def exactNormalized(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    spread(df).select(
        col(idCol),
        fingerprint(tokens(col(textCol))).as("raw_fp"),
        substring(md5(graft.pipeline.TextFunctions
          .ccnetNormalize(col(textCol))), 1, 16).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("raw_fp")).as("n_raw_distinct"))

  /** Shared prep: id, distinct k-shingle set (native kernel — one
    * compiled loop per document; semantics identical to the HOF
    * [[TextFunctions.shingles]], pinned by KernelEquivalenceSpec).
    */
  def shingled(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    spread(df).select(
      col(idCol).as("doc"),
      graft.functions.HashKernelFunctions.shingles(tokens(col(textCol)), k).as("sh"))

  /** MinHash + LSH near-dup pairs.
    *
    * Pipeline: shingle → minhash signature (`seeds.size` permutations)
    * → split into `bands` bands of `rows` values → explode → equi-join
    * on (band index, band values) → distinct candidate pairs →
    * verify true Jaccard ≥ `threshold`.
    *
    * Scale: the exploded band relation is `bands × N` rows with a
    * short string key; the self-join shuffles on that key, so work is
    * proportional to bucket collisions (near-dups), never N².
    * Verification re-joins the shingle sets by doc id — two
    * broadcast-or-shuffle hash joins on the id.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // The shingled frame feeds band explosion AND both verify sides;
    // the bracket caches it so shingling/hashing runs once, and
    // releases it when the pair set materializes.
    val docs = minhashDocs(df, idCol, textCol, k, numHashes)
    Caching.withCached(docs)(minhashPlan(docs, bands, rows, threshold))
  }

  /** Prepared (doc, sh, sig) frame for [[minhashPairs]] — the minhash
    * signature runs through the native kernel (one md5 per shingle,
    * compiled loop; semantics identical to the HOF
    * minhashSignature(shingleHashes(sh), seeds)). Split out so plan
    * tests can build the lazy [[minhashPlan]] over it.
    */
  private[graft] def minhashDocs(df: DataFrame, idCol: String,
      textCol: String, k: Int, numHashes: Int): DataFrame =
    shingled(df, idCol, textCol, k)
      .withColumn("sig", graft.functions.HashKernelFunctions
        .minhashSig(col("sh"), minhashSeeds(numHashes)))

  /** Lazy plan for [[minhashPairs]] over a prepared (doc, sh, sig)
    * frame — split out so plan tests can pin the join shape (the
    * public method returns a checkpointed, plan-opaque frame).
    */
  /** Per-band LSH bucket keys of a minhash signature: one string per
    * band, the band index prefixed so a single equi-join key carries
    * both coordinates. Shared by the batch candidate join and the
    * streaming near-dup state key
    * ([[graft.streaming.StreamingJobs.nearDupCandidates]]).
    */
  private[graft] def bandKeyArray(sig: Column, bands: Int,
      rows: Int): Column =
    array((0 until bands).map(b =>
      concat_ws("_", lit(b), slice(sig, b * rows + 1, rows))): _*)

  /** Per-bucket candidate bound for the LSH band self-joins. A
    * degenerate bucket — B identical boilerplate documents landing in
    * one band bucket — would emit B²/2 candidate rows before verify;
    * past this size the join degrades to STAR EDGES against the
    * bucket's minimum doc id (O(B) rows), which still connects every
    * true-duplicate cluster member under the transitive closure the
    * dedup consumers apply (identical docs verify at J = 1 against any
    * member). Buckets at or under the cap keep exact all-pairs
    * semantics; individual NEAR-identical (non-equal) pairs inside an
    * oversized bucket may surface only via their star edges or another
    * band. [[lshBucketAudit]] surfaces how often the cap binds — the
    * no-silent-caps rule.
    */
  val LshBucketCap = 1024

  /** The bucket-cap star guard, THE one implementation every consumer
    * shares (the batch detector's a-side, the index export, and the
    * index compactor — the p179/p182/p184 oracles replay this
    * literally, so the invariant must not fork): for any bucket past
    * `bucketCap`, keep only the bucket's min doc id; buckets at or
    * under the cap keep every row. One band-key count shuffle.
    */
  private def cappedBandRows(bandRows: DataFrame,
      bucketCap: Int): DataFrame = {
    val sizes = bandRows.groupBy("key")
      .agg(count(lit(1)).as("__bn"), min(col("doc")).as("__bmin"))
    bandRows.join(sizes, "key")
      .filter(col("__bn") <= bucketCap || col("doc") === col("__bmin"))
      .select(col("doc"), col("key"))
  }

  private[graft] def minhashPlan(docs: DataFrame, bands: Int, rows: Int,
      threshold: Double, bucketCap: Int = LshBucketCap): DataFrame = {
    val bandRows = docs.select(
      col("doc"),
      explode(bandKeyArray(col("sig"), bands, rows)).as("key"))

    // Skew guard: the LEFT side of the band self-join is capped — an
    // oversized bucket contributes O(B) star edges instead of B²/2
    // pairs, while buckets at or under the cap are exact all-pairs
    // (the a-side filter is the only change; the b-side is untouched,
    // and a.doc < b.doc makes the bucket min always the a side).
    val aSide = cappedBandRows(bandRows, bucketCap)

    val a = aSide.alias("a")
    val b = bandRows.alias("b")
    val cand = a.join(b,
        col("a.key") === col("b.key") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()

    verifyJaccard(cand, docs, threshold)
  }

  /** LSH band-bucket skew audit — the no-silent-caps companion of
    * [[LshBucketCap]]: one row per band with its bucket-population
    * shape and exactly how many candidate pairs the star-edge guard
    * replaces. `pairs_exact` is the uncapped self-join's Σ n·(n−1)/2;
    * `pairs_capped` substitutes the O(B) star count (n−1) for every
    * bucket past the cap. A release manager reads `n_oversized` > 0 as
    * "the guard engaged — near-identical (non-equal) pairs inside
    * those buckets may only surface via their cluster representative".
    *
    * Scale shape: one band-key count shuffle (the same key the
    * candidate join shuffles on) + a `bands`-row aggregate. Pair
    * counts are int64-exact for buckets under ~3·10⁹ docs; an in-plan
    * guard raises past that rather than wrapping silently.
    */
  def lshBucketAudit(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int,
      bucketCap: Int = LshBucketCap): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val docs = minhashDocs(df, idCol, textCol, k, numHashes)
    val bandRows = docs.select(
      col("doc"),
      posexplode(bandKeyArray(col("sig"), bands, rows))
        .as(Seq("band", "key")))
    val n = col("count")
    val guarded = when(n > 3000000000L,
        raise_error(lit("lshBucketAudit: bucket exceeds int64 pair bound")))
      .otherwise(n)
    // n·(n−1) is even, so the halving is exact integer division
    val bucketPairs = call_function("div", guarded * (n - 1L), lit(2L))
    bandRows.groupBy(col("band"), col("key")).count()
      .groupBy(col("band").cast("long").as("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(n).as("max_bucket"),
        sum(when(n > bucketCap, 1L).otherwise(0L)).as("n_oversized"),
        sum(bucketPairs).as("pairs_exact"),
        sum(when(n > bucketCap, n - 1L).otherwise(bucketPairs))
          .as("pairs_capped"))
  }

  /** Export the FROZEN dedup-index artifacts — the near-dup twin of
    * [[graft.pipeline.Similarity.exportServingIndex]]: the two
    * relations an ingest gate needs to answer "is this arriving
    * document a near-copy of anything already admitted?", written as
    * parquet under `path`:
    *
    *   - `bands/ (key, doc)` — LSH band-bucket membership, the
    *     candidate-generation index;
    *   - `sigs/ (doc, sig)`  — the full minhash signature per
    *     document (numHashes longs — a few hundred bytes, NOT the
    *     text), the verification side.
    *
    * The [[LshBucketCap]] star guard is applied AT EXPORT: a bucket
    * past `bucketCap` keeps only its minimum-id representative, so the
    * frozen index is O(N·bands) rows with a hard per-bucket bound and
    * an arriving batch can never join into a B²-shaped bucket. For
    * true duplicate clusters the representative carries the cluster's
    * signature, so membership detection survives the cap;
    * [[lshBucketAudit]] reports how often it binds.
    *
    * Verification against the index is SIGNATURE AGREEMENT (matching
    * minhash count, an unbiased Jaccard estimator) rather than exact
    * shingle Jaccard — deliberately: storing shingle sets would make
    * the index a copy of the corpus, while signatures keep it ~10⁻³
    * of corpus bytes, which is what makes a 100 TB ingest gate
    * loadable. Build cost: one signature scan + one band-key count
    * shuffle (the cap) + two writes off a cached signature frame.
    */
  def exportDedupIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int, path: String,
      bucketCap: Int = LshBucketCap): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // the build parameters ride with the artifacts; the gate and the
    // append validate against them — a k/bands mismatch would produce
    // keys that never collide and silently admit exact duplicates
    val sess = df.sparkSession
    import sess.implicits._
    Seq((k, numHashes, bands)).toDF("k", "num_hashes", "bands")
      .write.mode("overwrite").parquet(s"$path/params")
    val docs = minhashDocs(df, idCol, textCol, k, numHashes)
      .select(col("doc"), col("sig")).persist()
    try {
      docs.count() // materialize once; both writes below reuse blocks
      val bandRows = docs.select(col("doc"),
        explode(bandKeyArray(col("sig"), bands, rows)).as("key"))
      cappedBandRows(bandRows, bucketCap)
        .select(col("key"), col("doc"))
        .write.mode("overwrite").parquet(s"$path/bands")
      docs.write.mode("overwrite").parquet(s"$path/sigs")
    } finally docs.unpersist()
  }

  /** Refuse to read a dedup index with parameters other than the ones
    * it was exported with: a bands/k mismatch yields band keys that
    * never collide, so every arriving document — verbatim copies
    * included — would sail through as novel with no error at all; a
    * numHashes mismatch corrupts the agreement count the same silent
    * way. Pre-params directories (external imports) skip the check.
    */
  private def requireDedupParams(
      spark: org.apache.spark.sql.SparkSession, path: String, k: Int,
      numHashes: Int, bands: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/params")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(p)) {
      val r = spark.read.parquet(s"$path/params").collect().head
      val (gk, gn, gb) = (r.getAs[Int]("k"), r.getAs[Int]("num_hashes"),
        r.getAs[Int]("bands"))
      require(gk == k && gn == numHashes && gb == bands,
        s"dedup index at $path was exported with k=$gk" +
          s" numHashes=$gn bands=$gb; called with k=$k" +
          s" numHashes=$numHashes bands=$bands")
    }
  }

  /** Absorb an admitted delta batch into an [[exportDedupIndex]]
    * directory in place — O(Δ) appended rows, committed bytes never
    * rewritten, mirroring the serving-index append discipline: delta
    * signatures land in `sigs/`, delta band rows in `bands/`, both as
    * new files only. The append is deliberately UNCAPPED (the
    * export-time bucket cap bounded the base index; appended rows
    * accrue) — the LSM discipline where writes land unconstrained and
    * [[compactDedupIndex]] restores the invariant; [[lshBucketAudit]]
    * reports when it's due. An `ingestDedupCheck` after the append
    * catches duplicates of DELTA documents too (spec-pinned).
    */
  def appendDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int): Unit =
    writeDedupDelta(spark, path, delta, idCol, textCol, k, numHashes,
      bands, s"$path/bands", s"$path/sigs", "append")

  /** [[appendDedupIndex]]'s STAGING twin for exactly-once loop
    * bodies: the delta's band rows and signatures land under
    * `staging/bands` + `staging/sigs` instead of inside the live
    * index, so a loop can publish them together with the batch's
    * verdicts in one atomic rename and roll the file moves forward
    * idempotently ([[graft.core.Artifacts.publishTree]]). Byte-wise
    * the rows are what the direct append would have written — same
    * kernel, same params validation against the LIVE index.
    */
  def stageDedupDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int, staging: String): Unit =
    writeDedupDelta(spark, path, delta, idCol, textCol, k, numHashes,
      bands, s"$staging/bands", s"$staging/sigs", "overwrite")

  private def writeDedupDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int, bandsOut: String,
      sigsOut: String, mode: String): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    requireDedupParams(spark, path, k, numHashes, bands)
    val rows = numHashes / bands
    val docs = minhashDocs(delta, idCol, textCol, k, numHashes)
      .select(col("doc"), col("sig")).persist()
    try {
      docs.count()
      docs.select(col("doc"),
          explode(bandKeyArray(col("sig"), bands, rows)).as("key"))
        .select(col("key"), col("doc"))
        .write.mode(mode).parquet(bandsOut)
      docs.write.mode(mode).parquet(sigsOut)
    } finally docs.unpersist()
  }

  /** Re-apply the [[LshBucketCap]] star guard to a dedup index whose
    * `bands/` relation has grown past it through uncapped appends:
    * recount every bucket and rewrite, keeping all rows for buckets at
    * or under the cap and only the minimum-id representative past it
    * (`sigs/` is untouched — it is per-document, not per-bucket). The
    * rewrite lands in `bands_new/` and swaps in via rename with the
    * old relation held as `bands_old/` until the new one is in place,
    * so a crash leaves old or new state, never a torn one. Cost: one
    * band-key count shuffle + one write — the same shape as the
    * export-time guard.
    */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, bucketCap: Int = LshBucketCap): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.Artifacts.heal(fs, s"$path/bands")
    cappedBandRows(spark.read.parquet(s"$path/bands"), bucketCap)
      .select(col("key"), col("doc"))
      .write.mode("overwrite").parquet(s"$path/bands__staging")
    graft.core.Artifacts.swapIn(fs, s"$path/bands__staging",
      s"$path/bands")
  }

  /** How many band buckets of an index's `bands/` relation have grown
    * past the cap through uncapped LSM appends — the compaction
    * TRIGGER for a self-maintaining ingest loop: `> 0` means the
    * star-guard invariant no longer holds and [[compactDedupIndex]]
    * is due. One count shuffle over the band relation (signatures and
    * corpus text are never touched); a loop amortizes it per batch —
    * the same key distribution the candidate join shuffles anyway.
    */
  def indexOversizedBuckets(spark: org.apache.spark.sql.SparkSession,
      path: String, bucketCap: Int = LshBucketCap): Long =
    spark.read.parquet(s"$path/bands")
      .groupBy(col("key")).count()
      .filter(col("count") > bucketCap)
      .count()

  /** Read an [[exportDedupIndex]] directory back and certify it: one
    * row per artifact with its row count and an order-free integer
    * checksum (Σ hash60(canonical row string) mod 2²⁸ — the
    * [[graft.pipeline.Similarity.certifyServingIndex]] pattern), so a
    * lost band row, a drifted signature value, or a resurrected
    * compacted row hash-mismatches against an oracle that recomputes
    * both relations from the source corpus. `sigs` counts documents
    * (its row grain); `bands` counts band rows.
    */
  def certifyDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val M = lit(268435456L)
    val bandRows = spark.read.parquet(s"$path/bands")
      .select(lit("bands").as("artifact"),
        pmod(hash60(concat_ws(":", col("key"),
          col("doc").cast("string"))), M).as("term"))
      .groupBy(col("artifact"))
      .agg(count(lit(1)).as("n_rows"), sum(col("term")).as("checksum"))
    val sigRows = spark.read.parquet(s"$path/sigs")
      .select(col("doc"), posexplode(col("sig")).as(Seq("pos", "v")))
      .select(lit("sigs").as("artifact"), col("doc"),
        pmod(hash60(concat_ws(":", col("doc").cast("string"),
          col("pos").cast("string"), col("v").cast("string"))), M)
          .as("term"))
      .groupBy(col("artifact"))
      .agg(countDistinct(col("doc")).as("n_rows"),
        sum(col("term")).as("checksum"))
    bandRows.unionByName(sigRows)
  }

  /** Check an arriving batch against an [[exportDedupIndex]]
    * directory: per delta document, the best-matching admitted
    * document and their minhash agreement count — dedup AT INGEST,
    * the batch/stream gate that keeps a growing corpus clean without
    * ever re-running the all-pairs detector.
    *
    * Per delta doc: signature (same native kernel as the index
    * build) → band keys → equi-join the frozen `bands/` relation →
    * distinct (new, admitted) candidates → join the frozen `sigs/`
    * and count agreeing minhash positions (`n_agree` of `numHashes`;
    * n_agree/numHashes is the standard unbiased Jaccard estimate).
    * The verdict keeps each delta doc's best match (max agreement,
    * ties to the smallest admitted id); docs colliding with nothing
    * surface with `n_agree = 0`. `is_dup` = n_agree ≥ `minAgree`.
    *
    * Scale shape: the delta side is |Δ|·bands rows — AQE broadcasts
    * it against the frozen band scan, so the admitted corpus is
    * never shuffled; the capped export bounds every bucket, so the
    * candidate set is O(|Δ|·bands·cap) worst-case, O(collisions) in
    * practice. The only aggregation is the per-delta-doc argmax.
    * Output: (doc_id, n_agree, match_doc, is_dup); match_doc is null
    * when no band collides.
    */
  def ingestDedupCheck(spark: org.apache.spark.sql.SparkSession,
      path: String, delta: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int, minAgree: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(minAgree >= 1 && minAgree <= numHashes,
      "minAgree must be in [1, numHashes]")
    requireDedupParams(spark, path, k, numHashes, bands)
    val rows = numHashes / bands
    val dsig = minhashDocs(delta, idCol, textCol, k, numHashes)
      .select(col("doc").as("new_doc"), col("sig").as("new_sig"))
    Caching.withCached(dsig) {
      val dband = dsig.select(col("new_doc"),
        explode(bandKeyArray(col("new_sig"), bands, rows)).as("key"))
      val frozenBands = spark.read.parquet(s"$path/bands")
        .select(col("key"), col("doc").as("idx_doc"))
      val cand = dband.join(frozenBands, "key")
        .select(col("new_doc"), col("idx_doc")).distinct()
      val frozenSigs = spark.read.parquet(s"$path/sigs")
        .select(col("doc").as("idx_doc"), col("sig").as("idx_sig"))
      val agree = aggregate(
        zip_with(col("new_sig"), col("idx_sig"),
          (a, b) => (a === b).cast("long")),
        lit(0L), (acc, x) => acc + x)
      val best = cand.join(frozenSigs, "idx_doc").join(dsig, "new_doc")
        .select(col("new_doc"), col("idx_doc"), agree.as("n_agree"))
        .groupBy(col("new_doc"))
        .agg(max(struct(col("n_agree"), (-col("idx_doc")).as("__tie"),
          col("idx_doc"))).as("b"))
        .select(col("new_doc"), col("b.n_agree").as("n_agree"),
          col("b.idx_doc").as("match_doc"))
      dsig.select(col("new_doc"))
        .join(best, Seq("new_doc"), "left")
        .select(col("new_doc").as(idCol),
          coalesce(col("n_agree"), lit(0L)).as("n_agree"),
          col("match_doc"),
          (coalesce(col("n_agree"), lit(0L)) >= minAgree)
            .cast("long").as("is_dup"))
    }
  }

  /** b-bit minhash Jaccard estimation (Li & König 2010, "b-Bit
    * Minwise Hashing"): keep only the lowest `b` bits of each minhash
    * value — a 2^b-fold storage cut per hash — and estimate Jaccard
    * from the fraction of matching truncated values, corrected for
    * the 1/2^b random-collision floor:
    * Ĵ = (m·2^b − n) / (n·(2^b − 1)), clamped at 0. Candidates come
    * from the SAME full-width banding as [[minhashPairs]] (banding is
    * index-side; truncation is what rides the wire/storage), and
    * every emitted pair carries the estimate NEXT TO the exact
    * verified Jaccard plus the absolute error — the calibration
    * report a pipeline consults before committing to compressed
    * sketches. All integer arithmetic after the match count; the
    * estimator floor is exact `div`.
    */
  def bbitMinhashEstimate(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int, b: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(b >= 1 && b <= 16, "b must be in [1, 16]")
    val docs = minhashDocs(df, idCol, textCol, k, numHashes)
    Caching.withCached(docs)(
      bbitPlan(docs, numHashes, bands, numHashes / bands, b, threshold))
  }

  /** Lazy plan of [[bbitMinhashEstimate]] over a prepared
    * (doc, sh, sig) frame.
    */
  private[graft] def bbitPlan(docs: DataFrame, numHashes: Int, bands: Int,
      rows: Int, b: Int, threshold: Double): DataFrame = {
    val bandRows = docs.select(
      col("doc"),
      explode(bandKeyArray(col("sig"), bands, rows)).as("key"))
    val l = bandRows.alias("a")
    val r = bandRows.alias("b")
    val cand = l.join(r,
        col("a.key") === col("b.key") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val mod = 1L << b
    val sa = docs.select(col("doc").as("doc_a"), col("sig").as("sig_a"),
      col("sh").as("sh_a"))
    val sb = docs.select(col("doc").as("doc_b"), col("sig").as("sig_b"),
      col("sh").as("sh_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_match",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(pmod(x, lit(mod)) === pmod(y, lit(mod)), 1L)
            .otherwise(0L)), lit(0L), (acc, v) => acc + v))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .withColumn("est_micro", expr(
        s"(greatest(n_match * $mod - $numHashes, 0) * 1000000)" +
          s" div (${numHashes.toLong * (mod - 1)})"))
      .withColumn("exact_micro", floor(col("jaccard") * 1e6).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        col("est_micro"), col("exact_micro"),
        abs(col("est_micro") - col("exact_micro")).as("abs_err_micro"))
  }

  /** Absolute-budget, content-keyed calibration sample for
    * brute-force truth scans.
    *
    * A fixed FRACTION sample keeps a quadratic truth scan quadratic —
    * at 10× the corpus the pair count grows 100×. This keeps it
    * CONSTANT: the modulus is derived from the corpus count in-plan
    * (single-row aggregate, broadcast into the filter — no
    * driver-side count()), so the sample holds ≈`budgetDocs` rows at
    * any SF and truth cost is ~budget² forever.
    *
    * The sample key is an INDEPENDENT MinHash of the document
    * (permutation 13, outside the 12-seed signature family the sweep
    * measures): near-identical docs share their min hash with
    * probability = their Jaccard, so a J-similar pair survives the
    * sample together at rate ≈ J/m — an id-keyed stride would keep it
    * only at 1/m² (≈ never), because near-dup pairs land on arbitrary
    * id pairs. Independence from the signature seeds keeps the recall
    * estimate unbiased: surviving the sample says nothing about being
    * caught by the bands. At a corpus below the budget the modulus is
    * 1 and the sample is the whole corpus.
    */
  def boundedCalibrationSample(df: DataFrame, idCol: String,
      textCol: String, k: Int, budgetDocs: Int): DataFrame = {
    val (a, b) = minhashSeeds(13).last
    val m = df.agg(expr(
      s"greatest(cast(1 as bigint), (count(1) + ${budgetDocs - 1})" +
        s" div $budgetDocs)").as("stride_m"))
    val key = coalesce(array_min(transform(
      shingleHashes(graft.functions.HashKernelFunctions.shingles(
        tokens(col(textCol)), k)),
      h => (lit(a) * h + lit(b)) % lit(P))), lit(P))
    df.crossJoin(broadcast(m))
      .filter(key % col("stride_m") === 0)
      .drop("stride_m")
  }

  /** LSH candidate recall sweep — the text-dedup analogue of the ANN
    * scorecard: for each Jaccard threshold, how much of the
    * EXHAUSTIVE truth the banded candidate generation catches. The
    * theory curve for banding is P(caught) = 1 − (1 − J^rows)^bands;
    * this measures the real curve on the real corpus, which is what
    * decides (bands, rows) before a production run. Truth is the
    * brute-force pair scan — callers MUST pre-bound the input with
    * [[boundedCalibrationSample]] (absolute budget, so truth cost
    * stays constant as the corpus grows); candidates ride the
    * standard band equi-join. Threshold comparison is exact integer micro
    * (`jm ≥ t·10⁴` ⟺ J ≥ t%, since floor(x) ≥ k ⟺ x ≥ k for
    * integer k).
    */
  def lshRecallSweep(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int,
      thresholdsPct: Seq[Int]): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val docs = minhashDocs(df, idCol, textCol, k, numHashes)
    Caching.withCached(docs) {
      val bandRows = docs.select(col("doc"),
        explode(bandKeyArray(col("sig"), bands, rows)).as("key"))
      val cand = bandRows.alias("a").join(bandRows.alias("b"),
          col("a.key") === col("b.key") && col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
        .distinct()
        .withColumn("caught", lit(1L))
      // truth compares 60-bit-mod-P HASH sets, not string sets — long
      // equality beats string equality across the O(n²) scan and the
      // quantity is exactly what the minhash signatures estimate
      // (hash-set Jaccard; identical to string Jaccard absent
      // collisions)
      val sa = docs
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(col("doc").as("doc_a"),
          array_distinct(graft.pipeline.TextFunctions
            .shingleHashes(col("sh"))).as("sh_a"))
      val sb = docs.select(col("doc").as("doc_b"),
        array_distinct(graft.pipeline.TextFunctions
          .shingleHashes(col("sh"))).as("sh_b"))
      val truth = sa.join(sb, col("doc_a") < col("doc_b"))
        .filter(size(array_union(col("sh_a"), col("sh_b"))) > 0)
        .select(col("doc_a"), col("doc_b"),
          floor(size(array_intersect(col("sh_a"), col("sh_b")))
            .cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double") *
            1e6).cast("long").as("jm"))
      val thr = docs.sparkSession.range(1).select(
        explode(array(thresholdsPct.map(t => lit(t.toLong)): _*)).as("t"))
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .crossJoin(broadcast(thr))
        .filter(col("jm") >= col("t") * 10000L)
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
        .select(col("t").as("threshold_pct"), col("n_truth"),
          col("n_caught"),
          expr("(n_caught * 1000000) div n_truth").as("recall_micro"),
          // banding theory beside the measurement: the capture
          // probability 1 − (1 − J^r)^b AT the threshold — a floor for
          // the measured recall (pairs above the threshold only catch
          // more easily), so measured < theory flags a broken index
          floor((lit(1.0) - pow(
              lit(1.0) - pow(col("t").cast("double") / 100.0,
                lit(rows.toDouble)),
              lit(bands.toDouble))) * 1e6)
            .cast("long").as("theory_floor_micro"))
    }
  }

  /** Hashed-shingle inverted index (doc, h): explode each doc's
    * distinct shingles into postings keyed by the 60-bit shingle hash
    * (an 8-byte shuffle key), optionally dropping postings whose key
    * appears in more than `maxShingleFreq` docs (stopword-shingle skew
    * cap). Split out of [[invertedCandidates]] so the public detectors
    * can cache it: the candidate self-join reads it twice and the stats
    * pass once — three full explode+cap recomputations without the
    * cache bracket, one with it.
    */
  private[graft] def invIndex(docs: DataFrame,
      maxShingleFreq: Option[Int],
      maxShingleFreqFrac: Option[Double] = None): DataFrame = {
    val inv0 = docs.select(col("doc"), explode(col("sh")).as("s"))
      .select(col("doc"), hash60(col("s")).as("h"))
    (maxShingleFreq, maxShingleFreqFrac) match {
      case (Some(f), _) =>
        val keep = inv0.groupBy("h").count().filter(col("count") <= f).select("h")
        inv0.join(keep, "h")
      case (None, Some(frac)) =>
        // Corpus-proportional cap (max(20, ceil(frac · |docs|))) resolved
        // INSIDE the plan: the doc count rides a single-row broadcast, so
        // the detector stays one job — no driver-side count pre-pass —
        // and the cap tracks corpus size at any SF. `docs` is persisted
        // by the callers' cache bracket, so the count reuses its blocks.
        val total = broadcast(docs.agg(count(lit(1)).as("__n_docs")))
        val keep = inv0.groupBy("h").count().crossJoin(total)
          .filter(col("count") <=
            greatest(lit(20L), ceil(col("__n_docs") * frac).cast("long")))
          .select("h")
        inv0.join(keep, "h")
      case _ => inv0
    }
  }

  /** Inverted-index candidate pairs over a prepared [[invIndex]], WITH
    * the shared-posting count: self-join on the hash key, and aggregate
    * one row per unordered pair carrying `n_shared` = number of shared
    * kept postings. The count is free — it rides the same exchange the
    * old `.distinct()` used — and it is what lets the verify step
    * prefilter on sizes instead of joining full shingle arrays onto
    * every candidate.
    *
    * Also returns the per-doc stats frame (doc, n_sh = |shingle set|,
    * n_capped = postings the `maxShingleFreq` cap dropped) the bound
    * needs: true |a ∩ b| ≤ n_shared + min(n_capped_a, n_capped_b),
    * because a pair's shared shingles are kept postings (counted) plus
    * possibly capped ones (at most min(capped) of them).
    */
  private[graft] def invertedCandidates(docs: DataFrame,
      inv: DataFrame): (DataFrame, DataFrame) = {
    val a = inv.alias("a")
    val b = inv.alias("b")
    val cand = a.join(b, col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val stats = docs.select(col("doc"), size(col("sh")).as("n_sh"))
      .join(inv.groupBy("doc").agg(count(lit(1)).as("n_kept")), Seq("doc"), "left")
      .select(col("doc"), col("n_sh"),
        (col("n_sh") - coalesce(col("n_kept"), lit(0L))).as("n_capped"))
    (cand, stats)
  }

  /** Count-only prefilter ahead of exact verification: a pair can reach
    * Jaccard ≥ t only if |∩| ≥ t/(1+t)·(|a|+|b|), and |∩| is bounded
    * above by n_shared + min(capped) ([[invertedCandidates]]). The
    * filter touches three integers per pair — no shingle arrays move —
    * so the expensive array-intersect join runs only on survivors.
    * `+1` slack absorbs float rounding at the exact boundary: a
    * false KEEP costs one extra exact check, a false DROP would lose a
    * pair, so the bound is deliberately loosened by one shingle.
    */
  private[graft] def jaccardSurvivors(cand: DataFrame, stats: DataFrame,
      threshold: Double): DataFrame =
    survivors(cand, stats,
      lit(threshold / (1.0 + threshold)) * (col("n_a") + col("n_b")))

  /** Directional-containment analogue of [[jaccardSurvivors]]: either
    * direction of a pair qualifies only if |∩| ≥ t·|contained|, and the
    * easier direction is the smaller set — so a pair can survive only
    * if ub(|∩|) ≥ t·min(|a|, |b|). Same three-integer filter, same
    * +1 rounding slack.
    */
  private[graft] def containmentSurvivors(cand: DataFrame, stats: DataFrame,
      threshold: Double): DataFrame =
    survivors(cand, stats, lit(threshold) * least(col("n_a"), col("n_b")))

  private def survivors(cand: DataFrame, stats: DataFrame,
      requiredIntersection: Column): DataFrame = {
    val sta = stats.select(col("doc").as("doc_a"), col("n_sh").as("n_a"),
      col("n_capped").as("cap_a"))
    val stb = stats.select(col("doc").as("doc_b"), col("n_sh").as("n_b"),
      col("n_capped").as("cap_b"))
    cand.join(sta, "doc_a").join(stb, "doc_b")
      .filter(col("n_shared") + least(col("cap_a"), col("cap_b")) + lit(1) >=
        requiredIntersection)
      .select(col("doc_a"), col("doc_b"))
  }

  /** True-Jaccard verification of candidate (doc_a, doc_b) pairs using
    * the distinct shingle sets in `docs` (columns doc, sh).
    */
  private[graft] def verifyJaccard(cand: DataFrame, docs: DataFrame,
      threshold: Double): DataFrame = {
    val sa = docs.select(col("doc").as("doc_a"), col("sh").as("sh_a"))
    val sb = docs.select(col("doc").as("doc_b"), col("sh").as("sh_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        floor(col("jaccard") * 1e6).cast("long").as("jaccard_micro"))
  }

  /** SimHash near-dup pairs within `maxHamming` bit flips of a
    * `bits`-wide simhash, found via segment-LSH: the hash is cut into
    * `segments` equal segments; by pigeonhole any pair within
    * `maxHamming < segments` differs in at most `maxHamming` segments,
    * so at least one segment matches exactly — candidates are pairs
    * sharing (segment index, segment value), i.e. an equi-join, never
    * a cross join. Exact for maxHamming < segments.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int, segments: Int, maxHamming: Int): DataFrame =
    hammingPairs(
      spread(df).select(
        col(idCol).as("doc"),
        graft.functions.HashKernelFunctions.simhash(tokens(col(textCol)), bits)
          .as("sim")),
      "doc", "sim", bits, segments, maxHamming)

  /** Segment-LSH pairs over a PRECOMPUTED `bits`-wide hash column —
    * the banding + exact-Hamming verify behind [[simhashPairs]],
    * reusable for any ≤64-bit fingerprint (perceptual image dHash,
    * audio fingerprints). Exact for `maxHamming < segments` by the
    * same pigeonhole; candidates are an equi-join on (segment index,
    * segment value) — an 8-byte-keyed shuffle of id+hash rows, never
    * an all-pairs comparison, and the verify is one codegen
    * `bit_count` per candidate. A pair matching in several segments is
    * emitted only from its FIRST equal segment — a pure row expression
    * over the two hashes (the earliest zero band of their xor), so no
    * dedup exchange is needed and the whole tail after the candidate
    * join is stateless projections (what lets [[hammingPairsDelta]]
    * run per micro-batch unchanged).
    */
  /** The (seg, segval)-keyed sibling of [[cappedBandRows]] — the ONE
    * segment-bucket cap shared by the Hamming self-join, the delta
    * gate, and the frozen-index export. Input and output columns:
    * (doc, sim, seg, segval).
    */
  private def cappedSegRows(segs: DataFrame,
      bucketCap: Int): DataFrame = {
    val sizes = segs.groupBy("seg", "segval")
      .agg(count(lit(1)).as("__bn"), min(col("doc")).as("__bmin"))
    segs.join(sizes, Seq("seg", "segval"))
      .filter(col("__bn") <= bucketCap || col("doc") === col("__bmin"))
      .select("doc", "sim", "seg", "segval")
  }

  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      bits: Int, segments: Int, maxHamming: Int,
      bucketCap: Int = LshBucketCap): DataFrame = {
    require(maxHamming < segments,
      "segment LSH is exact only for maxHamming < segments")
    val segs = bandRows(hashes, idCol, hashCol, bits, segments)
    // Skew guard (see [[LshBucketCap]]): oversized (seg, segval)
    // buckets contribute only star edges from the bucket-min id. An
    // identical-fingerprint cluster has first-equal segment 0 for
    // every pair, so its stars all survive [[firstSegmentOnly]] and
    // the closure still merges the cluster in O(B) rows.
    val aSide = cappedSegRows(segs, bucketCap)
    val a = aSide.alias("a")
    val b = segs.alias("b")
    a.join(b,
        col("a.seg") === col("b.seg") && col("a.segval") === col("b.segval") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"), col("a.seg"))
      .transform(firstSegmentOnly(bits, segments))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Delta-restricted [[hammingPairs]]: the incoming side (`delta`,
    * which may be a STREAMING frame) banded against a static corpus
    * hash table — the image-ingest analogue of [[winnowPairsDelta]].
    * Orientation is kept (delta id first); everything after the
    * stream-static equi-join is stateless row expressions, so Append
    * mode needs no watermark and no state store. Streaming callers
    * persist the banded corpus side ([[bandRows]]) once.
    */
  def hammingPairsDelta(corpusBands: DataFrame, delta: DataFrame,
      idCol: String, hashCol: String, bits: Int, segments: Int,
      maxHamming: Int, bucketCap: Int = LshBucketCap): DataFrame = {
    require(maxHamming < segments,
      "segment LSH is exact only for maxHamming < segments")
    // Skew guard on the STATIC side (see [[LshBucketCap]]): an
    // oversized corpus bucket keeps only its min id, so an arriving
    // duplicate of a B-doc boilerplate cluster emits one edge to the
    // cluster representative instead of B candidate rows per batch.
    // The aggregation is static-side only; the (possibly streaming)
    // delta passes through stateless as before.
    // Bind the frozen artifact BY NAME before the positional rename:
    // an externally-written or physically re-ordered bands/ relation
    // fails loudly on a missing column here instead of silently
    // mis-binding doc/sim/seg/segval.
    val cbCapped = cappedSegRows(
        corpusBands.select(col("doc"), col("sim"), col("seg"),
          col("segval")), bucketCap)
      .toDF("doc_b", "sim_b", "seg", "segval")
    bandRows(delta, idCol, hashCol, bits, segments)
      .toDF("doc_a", "sim_a", "seg", "segval")
      .join(cbCapped,
        Seq("seg", "segval"))
      .filter(col("doc_a") =!= col("doc_b"))
      .transform(firstSegmentOnly(bits, segments))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Export the frozen HAMMING-fingerprint dedup artifacts — the
    * perceptual-hash (image dHash, audio fingerprint) twin of
    * [[exportDedupIndex]]: one `bands/ (doc, sim, seg, segval)`
    * relation (the ≤64-bit hash rides with its bands, so the gate
    * needs no second artifact) with the [[LshBucketCap]] star guard
    * applied at export, plus the `params/` row
    * [[ingestHammingCheck]] validates. Payload bytes never enter the
    * artifact — a billion-image index is 32 bytes × segments per
    * image.
    */
  def exportHammingIndex(hashes: DataFrame, idCol: String,
      hashCol: String, bits: Int, segments: Int, path: String,
      bucketCap: Int = LshBucketCap): Unit = {
    require(bits % segments == 0, "segments must divide bits")
    val sess = hashes.sparkSession
    import sess.implicits._
    Seq((bits, segments)).toDF("bits", "segments")
      .write.mode("overwrite").parquet(s"$path/params")
    cappedSegRows(bandRows(hashes, idCol, hashCol, bits, segments),
        bucketCap)
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Gate an arriving batch of fingerprints against an
    * [[exportHammingIndex]] directory: per arriving id, the
    * best-matching admitted id within `maxHamming` bit flips (ties to
    * the smallest hamming then id — the min struct) or null —
    * [[hammingPairsDelta]] against the frozen band relation, rolled
    * up to the per-arrival verdict. The `hamming` distance itself is
    * deliberately NOT exposed: for lossy-codec perceptual hashes the
    * exact flip count is encoder-specific (the p77 rule).
    */
  def ingestHammingCheck(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, hashCol: String,
      bits: Int, segments: Int, maxHamming: Int): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/params")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(p)) {
      val r = spark.read.parquet(s"$path/params").collect().head
      val (gb, gs) = (r.getAs[Int]("bits"), r.getAs[Int]("segments"))
      require(gb == bits && gs == segments,
        s"hamming index at $path was exported with bits=$gb" +
          s" segments=$gs; called with bits=$bits segments=$segments")
    }
    val pairs = hammingPairsDelta(spark.read.parquet(s"$path/bands"),
      batch, idCol, hashCol, bits, segments, maxHamming)
    val best = pairs.groupBy(col("doc_a"))
      .agg(min(struct(col("hamming"), col("doc_b"))).as("b"))
      .select(col("doc_a"), col("b.doc_b").as("match_id"))
    batch.select(col(idCol).as("doc_a"))
      .join(best, Seq("doc_a"), "left")
      .select(col("doc_a").as(idCol), col("match_id"),
        col("match_id").isNotNull.cast("long").as("is_dup"))
  }

  /** One row per (id, hash, segment index, segment value) — the banded
    * index both Hamming joins build on. Exposed so streaming callers
    * can compute the static corpus side once and `persist()` it.
    */
  def bandRows(hashes: DataFrame, idCol: String, hashCol: String,
      bits: Int, segments: Int): DataFrame = {
    require(bits % segments == 0, "segments must divide bits")
    val segBits = bits / segments
    val mask = (1L << segBits) - 1
    hashes.select(col(idCol).as("doc"), col(hashCol).as("sim"))
      .select(col("doc"), col("sim"),
        posexplode(array((0 until segments).map(sIdx =>
          shiftright(col("sim"), sIdx * segBits).bitwiseAND(lit(mask))): _*)))
      .toDF("doc", "sim", "seg", "segval")
  }

  /** Keep a candidate row only when its segment is the pair's FIRST
    * equal segment: the earliest band where `sim_a xor sim_b` is all
    * zero, computed with static shifts — emits every qualifying pair
    * exactly once without a distinct/groupBy exchange.
    */
  private def firstSegmentOnly(bits: Int, segments: Int)(
      cand: DataFrame): DataFrame = {
    val segBits = bits / segments
    val mask = (1L << segBits) - 1
    val x = col("sim_a").bitwiseXOR(col("sim_b"))
    val firstEq = (0 until segments).map(s =>
      when(shiftright(x, s * segBits).bitwiseAND(lit(mask)) === 0, lit(s))
        .otherwise(lit(segments)))
      .reduce(least(_, _))
    cand.filter(col("seg") === firstEq).drop("seg")
  }

  /** n-gram-Jaccard pairs via inverted index: explode shingles into an
    * inverted index keyed by the 60-bit shingle hash (an 8-byte shuffle
    * key instead of the shingle string), equi-join on the key for
    * candidate pairs, then verify the TRUE Jaccard from the full
    * shingle sets. Separating candidate generation from verification
    * makes both scale levers safe:
    *
    *  - hash keys: a 60-bit collision can only ADD a candidate pair,
    *    which exact verification then scores correctly — values are
    *    never wrong;
    *  - `maxShingleFreq`: postings longer than this are dropped before
    *    the self-join (standard stopword-shingle pruning — one shingle
    *    shared by f docs alone contributes f²/2 candidate rows, the
    *    inverted-index skew killer at corpus scale). A qualifying pair
    *    is missed only if EVERY shingle it shares is ubiquitous; near
    *    dups at meaningful thresholds share many specific shingles, so
    *    the exhaustive oracle stays green with the knob engaged.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double, maxShingleFreq: Option[Int] = None,
      maxShingleFreqFrac: Option[Double] = None): DataFrame = {
    // shingling feeds the inverted index and both verify sides, and the
    // index feeds the candidate self-join (both sides) plus the stats
    // pass — cache both for the duration of the job
    val docs = shingled(df, idCol, textCol, k)
    val inv = invIndex(docs, maxShingleFreq, maxShingleFreqFrac)
    Caching.withCached(docs, inv)(ngramJaccardPlan(docs, inv, threshold))
  }

  /** Lazy plan for [[ngramJaccardPairs]] over a prepared (doc, sh)
    * frame and its [[invIndex]]: hashed-posting candidates with their
    * shared count, the three-integer [[jaccardSurvivors]] prefilter,
    * then exact verification on survivors only — the full shingle
    * arrays move solely for pairs that can actually qualify.
    */
  private[graft] def ngramJaccardPlan(docs: DataFrame, inv: DataFrame,
      threshold: Double): DataFrame = {
    val (cand, stats) = invertedCandidates(docs, inv)
    verifyJaccard(jaccardSurvivors(cand, stats, threshold), docs, threshold)
  }

  /** Directional containment pairs: (contained, container) where
    * |contained ∩ container| / |contained| ≥ `threshold` over distinct
    * word k-shingles — the quote/snippet detector symmetric Jaccard
    * misses (a small doc fully inside a big one has low Jaccard but
    * containment 1).
    *
    * Same scale shape as [[ngramJaccardPairs]]: hashed-shingle
    * inverted-index candidates (with the same `maxShingleFreq` skew
    * cap — pruning only thins CANDIDATES; the verify step recomputes
    * the exact intersection from the full sets), then both directions
    * of each unordered candidate pair are verified at once.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double, maxShingleFreq: Option[Int] = None,
      maxShingleFreqFrac: Option[Double] = None): DataFrame = {
    val docs = shingled(df, idCol, textCol, k)
    val inv = invIndex(docs, maxShingleFreq, maxShingleFreqFrac)
    Caching.withCached(docs, inv)(containmentPlan(docs, inv, threshold))
  }

  /** Lazy plan for [[containmentPairs]] over a prepared (doc, sh)
    * frame and its [[invIndex]] — same candidates +
    * [[containmentSurvivors]] prefilter shape as [[ngramJaccardPlan]],
    * then both directions of each surviving unordered pair are verified
    * at once.
    */
  private[graft] def containmentPlan(docs: DataFrame, inv: DataFrame,
      threshold: Double): DataFrame = {
    val (cand, stats) = invertedCandidates(docs, inv)
    val surv = containmentSurvivors(cand, stats, threshold)
    val sa = docs.select(col("doc").as("doc_a"), col("sh").as("sh_a"))
    val sb = docs.select(col("doc").as("doc_b"), col("sh").as("sh_b"))
    val withSets = surv.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
    val aInB = withSets
      .filter(size(col("sh_a")) > 0 &&
        col("inter") / size(col("sh_a")) >= threshold)
      .select(col("doc_a").as("contained"), col("doc_b").as("container"),
        floor(col("inter") / size(col("sh_a")) * 1e6).cast("long")
          .as("containment_micro"))
    val bInA = withSets
      .filter(size(col("sh_b")) > 0 &&
        col("inter") / size(col("sh_b")) >= threshold)
      .select(col("doc_b").as("contained"), col("doc_a").as("container"),
        floor(col("inter") / size(col("sh_b")) * 1e6).cast("long")
          .as("containment_micro"))
    aInB.unionByName(bInA)
  }

  /** Survivor-policy comparison card: close the near-dup `pairs` into
    * clusters and evaluate, side by side, the three standard survivor
    * rules a dedup cut can apply — `min_id` (the reproducible default
    * every CC-based dedup here uses), `keep_longest` (max token
    * count — the text-preserving rule), and `keep_best_quality` (max
    * quality score — the training-value rule; ties always to the
    * smaller id). One row per policy: cluster count, docs dropped,
    * token mass removed, quality mass retained by the survivors, and
    * how many clusters change survivor vs `min_id` — the card that
    * turns "which rule?" from taste into numbers before a cut.
    *
    * `feat` must carry (idCol, nToksCol, scoreCol). All arithmetic is
    * exact int64; per-cluster winners are `max(struct(metric, −id))`
    * argmaxes (one map-side-combined groupBy — no window over the
    * corpus), and the card is a 3-row explode of a single aggregate.
    */
  def survivorPolicyCard(feat: DataFrame, idCol: String,
      nToksCol: String, scoreCol: String, pairs: DataFrame): DataFrame = {
    val cc = graft.operators.ConnectedComponents.components(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    val f = feat.select(col(idCol).cast("long").as("node"),
      col(nToksCol).cast("long").as("n_toks"),
      col(scoreCol).cast("long").as("score_micro"))
    val per = cc.join(f, Seq("node"))
      .groupBy("component")
      .agg(count(lit(1)).as("sz"),
        sum(col("n_toks")).as("toks_all"),
        min(col("node")).as("s_min"),
        min(struct(col("node"), col("n_toks"), col("score_micro")))
          .as("w_min"),
        max(struct(col("n_toks"), (-col("node")).as("t"), col("node"),
          col("score_micro"))).as("w_long"),
        max(struct(col("score_micro"), (-col("node")).as("t"),
          col("node"), col("n_toks"))).as("w_qual"))
    val aggd = per.agg(
      count(lit(1)).as("n_clusters"),
      sum(col("sz") - 1).as("n_dropped"),
      sum(col("toks_all") - col("w_min.n_toks")).as("tr_min"),
      sum(col("w_min.score_micro")).as("qk_min"),
      sum(col("toks_all") - col("w_long.n_toks")).as("tr_long"),
      sum(col("w_long.score_micro")).as("qk_long"),
      sum(when(col("w_long.node") =!= col("s_min"), 1L).otherwise(0L))
        .as("ch_long"),
      sum(col("toks_all") - col("w_qual.n_toks")).as("tr_qual"),
      sum(col("w_qual.score_micro")).as("qk_qual"),
      sum(when(col("w_qual.node") =!= col("s_min"), 1L).otherwise(0L))
        .as("ch_qual"))
    def row(name: String, tr: String, qk: String, ch: Column) =
      struct(lit(name).as("policy"), col("n_clusters"),
        col("n_dropped"), col(tr).as("toks_removed"),
        col(qk).as("quality_kept_micro"), ch.as("changed_vs_min_id"))
    aggd.select(explode(array(
        row("min_id", "tr_min", "qk_min", lit(0L)),
        row("keep_longest", "tr_long", "qk_long", col("ch_long")),
        row("keep_best_quality", "tr_qual", "qk_qual", col("ch_qual"))))
        .as("r"))
      .select(col("r.policy"), col("r.n_clusters"), col("r.n_dropped"),
        col("r.toks_removed"), col("r.quality_kept_micro"),
        col("r.changed_vs_min_id"))
  }
}
