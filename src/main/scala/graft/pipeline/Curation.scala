package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{TextFunctions => TF}

/** Corpus-curation operators for assembling a training set: stratified
  * sampling with exact per-stratum quotas, token-budget data mixing,
  * and benchmark decontamination. Beyond-reference surface, same
  * determinism discipline as the rest of the pipeline package: every
  * ordering is a portable md5-derived hash with a pk tiebreak, so any
  * engine draws the identical sample.
  */
object Curation {

  /** Document corpora at the test SFs arrive as ONE dense parquet
    * file (1 input split ≪ cores), so every per-document token/gram
    * explode below inherited a single-task scan — measured 1-3 s of
    * single-threaded CPU per card while 31 cores idled (guide §2.5
    * input skew: "one huge unsplittable file — repartition immediately
    * after the read"). Scale-adaptive, unlike a bare repartition: the
    * round-robin exchange of raw rows is added ONLY when the input
    * arrives with fewer partitions than cores, so a real many-file
    * 100 TB layout keeps its natural parallelism and pays no shuffle
    * (and an already-spread frame is never spread twice). Streaming
    * frames pass through untouched (micro-batch parallelism is the
    * source's concern, and `.rdd` is undefined on them).
    */
  private def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      // Only scan-shaped frames (projections/filters/explodes over
      // leaves — the dense single-file fixture reads this exists for)
      // are probed and spread. Probing a frame whose plan already
      // contains a wide node was both the r15 review's eager-job bug
      // (with AQE, `Dataset.rdd` on a shuffling plan EXECUTES every
      // exchange just to learn the partition count, and the probe's
      // output is discarded) and pointless: past a shuffle the
      // partitioning is whatever the engine chose (AQE-coalesced for
      // small frames), and force-spreading a tiny aggregated frame to
      // `cores` is the anti-pattern the bigramOccurrences note below
      // documents. On a narrow-only plan `.rdd` builds the RDD without
      // running a job, so the probe is free.
      import org.apache.spark.sql.catalyst.plans.logical._
      val narrowOnly = !df.queryExecution.analyzed.exists {
        case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
             _: Union | _: LeafNode => false
        case _ => true
      }
      val dp = df.sparkSession.sparkContext.defaultParallelism
      if (!narrowOnly) df
      else if (df.rdd.getNumPartitions >= dp) df
      else df.repartition(dp)
    }
  }

  /** Exactly `min(quota, |stratum|)` rows per stratum, drawn in
    * portable-hash order — a seedless simple random sample that any
    * engine reproduces row-for-row (`TABLESAMPLE`/`rand()` never
    * would).
    *
    * Scale shape: one shuffle on the stratum key, then a per-partition
    * row_number. Strata are corpus sources (hundreds, not billions),
    * and the sort within each is on a 60-bit hash — AQE splits a
    * skewed stratum's sort; for quota ≪ |stratum| a per-partition
    * top-(quota) pre-prune could bound the sort input, the same lever
    * [[Similarity]] uses for top-k.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      quota: Int, salt: String = "sample"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", TF.hash60(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= quota)
      .drop("__h")
  }

  /** Token-budget mixing: walk each stratum in portable-hash order and
    * keep documents while the running token total stays within
    * `budget` — the "sample source X down to N tokens" step of a
    * training-mix recipe, as an exact cumulative-window predicate
    * rather than a rate estimate.
    */
  def tokenBudgetMix(df: DataFrame, stratumCol: String, idCol: String,
      textCol: String, budget: Long, salt: String = "mix"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__h", TF.hash60(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("n_toks", size(TF.tokens(col(textCol))).cast("long"))
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .filter(col("cum_toks") <= budget)
      .drop("__h")
  }

  /** Shard-export assignment: every document lands in one of
    * `nShards` output shards with a stable position — the final
    * "globally shuffle, then write N equal files" step of a training
    * pipeline, seedless. The portable hash IS the shuffle: shard =
    * hash % n spreads adjacent source docs across shards, and the
    * within-shard order (hash, pk) is the pseudo-random read order.
    * One Spark shuffle on the shard key; shards stay balanced because
    * the hash is uniform, no sampling pass needed.
    */
  def shardAssignments(df: DataFrame, idCol: String, nShards: Int,
      salt: String = "shard"): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", TF.hash60(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("shard", (col("__h") % nShards).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Shard export manifest — the integrity record a training job
    * validates before reading a shard: per shard, document count,
    * token count, and a deterministic content checksum covering BOTH
    * membership and order. The checksum is the SUM of bounded per-doc
    * terms `hash60(fp:pos) mod 2^28` — order is ENCODED (pos is
    * hashed into each term) but the aggregate itself is commutative
    * and constant-memory, so no engine ever materializes a shard's
    * document list to hash it in order (an ordered string-agg would
    * collect billions of fingerprints per shard at corpus scale).
    * The 2^28 term bound keeps 10^10-doc shards below 2^63 — exact in
    * 64-bit and in DuckDB's 128-bit SUM alike.
    */
  def shardManifest(df: DataFrame, idCol: String, textCol: String,
      nShards: Int, salt: String = "shard"): DataFrame =
    shardAssignments(df, idCol, nShards, salt)
      .withColumn("fp", TF.fingerprint(TF.tokens(col(textCol))))
      .withColumn("term",
        pmod(TF.hash60(concat(col("fp"), lit(":"),
          col("pos").cast("string"))), lit(268435456L)))
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(size(TF.tokens(col(textCol))).cast("long")).as("n_tokens"),
        sum(col("term")).as("manifest_sum"))

  /** Tokenized-shard offset index — the random-access `.idx` a
    * training loader needs beside a packed binary token file
    * (Megatron-style .bin/.idx): for every document, its shard, its
    * position in shard order, and the TOKEN OFFSET where it starts
    * when the shard's documents are laid end to end with `eosTokens`
    * separator tokens after each. One cumulative window per shard
    * over the same deterministic (hash, id) order as
    * [[shardAssignments]], so index and manifest ([[shardManifest]])
    * describe the identical layout. Offsets are exact integer sums —
    * any engine reproduces the index bit-for-bit.
    *
    * Scale shape: one shuffle partitioned by shard with an in-
    * partition sort; shards are the training job's parallel unit, so
    * `nShards` grows with the corpus and no partition outgrows its
    * reader.
    */
  def shardOffsets(df: DataFrame, idCol: String, textCol: String,
      nShards: Int, salt: String = "shard",
      eosTokens: Int = 1): DataFrame = {
    val wo = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    val wsum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__h",
        TF.hash60(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("shard", (col("__h") % nShards).cast("long"))
      .withColumn("n_tokens", size(TF.tokens(col(textCol))).cast("long"))
      .withColumn("pos", row_number().over(wo).cast("long"))
      .withColumn("token_offset",
        sum(col("n_tokens") + lit(eosTokens.toLong)).over(wsum) -
          (col("n_tokens") + lit(eosTokens.toLong)))
      .select(col("shard"), col("pos"), col(idCol), col("n_tokens"),
        col("token_offset"))
  }

  /** Concat-and-chunk sequence packing: walk each stratum in
    * portable-hash order, lay the token streams end to end, and cut
    * every `chunkToks` tokens — each document's placement is its
    * starting chunk and offset (a document may straddle a boundary;
    * the trainer reads it across the two chunks, GPT-style packing).
    * All placement is one cumulative window per stratum — exact, no
    * first-fit sequential loop to serialize.
    */
  def packAssignments(df: DataFrame, stratumCol: String, idCol: String,
      textCol: String, chunkToks: Long, salt: String = "pack"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__h", TF.hash60(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("n_toks", size(TF.tokens(col(textCol))).cast("long"))
      .withColumn("start_tok", sum(col("n_toks")).over(w) - col("n_toks"))
      .withColumn("chunk_idx", floor(col("start_tok") / chunkToks).cast("long"))
      .withColumn("chunk_off", (col("start_tok") % chunkToks).cast("long"))
      .drop("__h", "start_tok")
  }

  /** Global shard manifest — [[packAssignments]] without a stratum:
    * the whole corpus laid end to end in one deterministic
    * portable-hash shuffle order and cut into `shardToks`-token
    * training shards. A naive global placement is
    * `sum(n) OVER (ORDER BY h)` — a single-partition window, a
    * non-starter at 100 TB — so the prefix sum runs in two levels
    * (the classic distributed scan):
    *
    *   1. hash-prefix buckets: `bucket = h div 2⁶⁰/B` is MONOTONE in
    *      `h`, so (bucket, h, id) is the global order and each
    *      bucket's rows cumulate independently in parallel;
    *   2. a B-row bucket-total frame (one map-side-combined groupBy)
    *      gets its own prefix sum — bounded by the CONSTANT B, not
    *      the data — and broadcasts back as per-bucket offsets.
    *
    * Every document's global start offset is exact int64
    * (`offset + within − n`); shard index and intra-shard offset
    * follow by integer division, and a document may straddle a shard
    * boundary exactly as in [[packAssignments]] (GPT-style packing —
    * the trainer reads it across the two shards). The oracle replays
    * the flat `SUM OVER (ORDER BY h, id)` — bit-equal because the
    * two-level scan is just an associativity regrouping of the same
    * integer sum.
    */
  def globalShardManifest(df: DataFrame, idCol: String, textCol: String,
      shardToks: Long, salt: String = "shard",
      buckets: Int = 256): DataFrame = {
    require(shardToks > 0, "shardToks must be positive")
    require(buckets > 0, "buckets must be positive")
    val bucketWidth = lit((1L << 60) / buckets + 1L)
    val within = Window.partitionBy(col("__b"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df
      .withColumn("__h",
        TF.hash60(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("__b", call_function("div", col("__h"), bucketWidth))
      .withColumn("n_toks", size(TF.tokens(col(textCol))).cast("long"))
    val offsets = base.groupBy(col("__b"))
      .agg(sum(col("n_toks")).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(Window
          .orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    base
      .join(broadcast(offsets), Seq("__b"))
      .withColumn("start_tok",
        col("__off") + sum(col("n_toks")).over(within) - col("n_toks"))
      .select(col(idCol), col("n_toks"),
        call_function("div", col("start_tok"), lit(shardToks))
          .as("chunk_idx"),
        (col("start_tok") % shardToks).as("chunk_off"))
  }

  /** Mixture-interleave shard manifest — the last mile between
    * mixture WEIGHTS (p44/p50/p92 emit per-domain shares) and the
    * ordered shard files a trainer streams: a deterministic global
    * order in which every prefix holds the target domain mix, then
    * the same token-placement cut as [[globalShardManifest]]. The
    * scheduler is stride scheduling (Waldspurger & Weihl 1995) /
    * weighted fair queuing's virtual time: the i-th document of
    * domain d (in portable-hash order within the domain) gets
    * finish time `vtime = i·10⁹ div w_d`, and the corpus is laid out
    * by (vtime, domain, id). Every length-k prefix then carries
    * domain d at `k·w_d/Σw ± O(1)` documents — the mixture holds at
    * every scale of read-ahead, not just in expectation, with zero
    * randomness to reconcile across engines. The guarantee holds
    * while every domain still has supply: a FINITE corpus whose
    * per-domain counts don't match the weights necessarily drifts
    * toward the surplus domains in its tail (square supply with
    * demand first — the p153 epoch-repetition schedule and p115
    * domain caps exist for exactly that).
    *
    * Both order statistics avoid single-partition windows at 100 TB
    * by the [[globalShardManifest]] two-level scan:
    *
    *   1. the PER-DOMAIN sequence number `i` cumulates inside
    *      (domain, hash-bucket) windows plus a (domains×B)-row
    *      bucket-count offset frame — a domain holding 40% of the
    *      corpus never lands in one partition;
    *   2. the GLOBAL token placement cumulates inside vtime-bucket
    *      windows (bucket width from an in-plan single-row max,
    *      broadcast back) plus a B-row offset frame.
    *
    * All arithmetic is int64 (`i·10⁹` guarded against overflow;
    * weights are positive micro integers, guarded in-plan), so any
    * engine replays the manifest bit-for-bit; the oracle uses the
    * flat `ROW_NUMBER() OVER (PARTITION BY domain)` and
    * `SUM(n) OVER (ORDER BY vtime, domain, id)` forms, equal by
    * associativity of the integer sums.
    *
    * @param weights (domainCol, weight_micro) — positive integer
    *                mixture weights; relative scale is all that
    *                matters (stride ∝ 1/weight)
    */
  def mixtureInterleave(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, weights: DataFrame, shardToks: Long,
      salt: String = "mix", buckets: Int = 256): DataFrame =
    mixturePlace(df, idCol, textCol, domainCol, weights, shardToks,
      salt, buckets, seqBase = None, tokBase = None)

  /** Incremental manifest append — the batch twin of the streaming
    * stride scheduler ([[graft.streaming.StreamingJobs
    * .mixtureSchedule]]): a batch of admitted delta documents joins an
    * EXISTING [[mixtureInterleave]] manifest without recomputing one
    * byte of the existing placement. Each delta document's per-domain
    * sequence number continues from the persisted count (the dense
    * `i` invariant: a domain's max sequence IS its row count, so the
    * resumed state is one map-side-combined groupBy of the manifest,
    * never a stored side-channel), its vtime is the same
    * `i·10⁹ div w_d` stride finish time the stream would assign, and
    * its tokens are laid after the persisted token mass in delta
    * (vtime, domain, id) order — exactly the arrival-order semantics
    * of the stateful stream processing this delta as its next
    * micro-batch (StreamingSpec pins the equivalence). Weights must
    * be the base manifest's; the stride mixture guarantee holds
    * WITHIN each appended batch — append never reshuffles history,
    * the same trade the stream makes.
    *
    * Scale shape: resumed state is |domains| + 1 broadcast rows; the
    * delta rides the identical two-level scans as the full build, so
    * appending Δ docs costs O(Δ), not O(corpus).
    */
  def mixtureAppend(existing: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, domainCol: String,
      weights: DataFrame, shardToks: Long, salt: String = "mix",
      buckets: Int = 256): DataFrame = {
    val cols = Seq(col(idCol), col(domainCol), col("n_toks"),
      col("vtime"), col("chunk_idx"), col("chunk_off"))
    val seqBase = existing.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__i0"))
    val tokBase = existing
      .agg(coalesce(sum(col("n_toks")), lit(0L)).as("__tok0"))
    existing.select(cols: _*).unionByName(
      mixturePlace(delta, idCol, textCol, domainCol, weights,
        shardToks, salt, buckets, Some(seqBase), Some(tokBase))
        .select(cols: _*))
  }

  /** The placement core shared by [[mixtureInterleave]] (no resumed
    * state — both bases fold to literal zero, leaving the full
    * build's plan untouched) and [[mixtureAppend]] (per-domain
    * sequence base + global token base, broadcast).
    */
  private def mixturePlace(df: DataFrame, idCol: String,
      textCol: String, domainCol: String, weights: DataFrame,
      shardToks: Long, salt: String, buckets: Int,
      seqBase: Option[DataFrame], tokBase: Option[DataFrame]): DataFrame = {
    require(shardToks > 0, "shardToks must be positive")
    require(buckets > 0, "buckets must be positive")
    val hBucketWidth = lit((1L << 60) / buckets + 1L)
    val base = df
      .withColumn("__h",
        TF.hash60(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("__hb", call_function("div", col("__h"), hBucketWidth))
      .withColumn("n_toks", size(TF.tokens(col(textCol))).cast("long"))
    // per-domain sequence i via the two-level count scan
    val withinDom = Window.partitionBy(col(domainCol), col("__hb"))
      .orderBy(col("__h"), col(idCol))
    val domOffsets = base.groupBy(col(domainCol), col("__hb"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__coff", coalesce(sum(col("__c")).over(Window
          .partitionBy(col(domainCol)).orderBy(col("__hb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(domainCol), col("__hb"), col("__coff"))
    val seqd = seqBase.fold(
      base.join(broadcast(domOffsets), Seq(domainCol, "__hb")))(sb =>
      base.join(broadcast(domOffsets), Seq(domainCol, "__hb"))
        .join(broadcast(sb), Seq(domainCol), "left"))
    val iExpr = seqBase.fold(
      col("__coff") + row_number().over(withinDom).cast("long"))(_ =>
      coalesce(col("__i0"), lit(0L)) + col("__coff") +
        row_number().over(withinDom).cast("long"))
    val keyed = seqd
      .withColumn("__i", iExpr)
      .join(broadcast(weights), Seq(domainCol))
      .withColumn("vtime",
        when(col("weight_micro") <= 0L, raise_error(concat(
            lit("mixtureInterleave: non-positive weight for domain "),
            col(domainCol))).cast("long"))
          .when(col("__i") > lit(Long.MaxValue / 1000000000L),
            raise_error(concat(lit("mixtureInterleave: domain sequence "),
              col("__i").cast("string"),
              lit(" overflows the 10^9 stride scale"))).cast("long"))
          .otherwise(expr("__i * 1000000000 div weight_micro")))
    // global token placement via the two-level sum scan over vtime
    val vMax = keyed.agg(max(col("vtime")).as("__vmax"))
    val vb = keyed.crossJoin(broadcast(vMax))
      .withColumn("__vb", call_function("div", col("vtime"),
        call_function("div", col("__vmax"), lit(buckets.toLong)) + 1L))
    val withinV = Window.partitionBy(col("__vb"))
      .orderBy(col("vtime"), col(domainCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vOffsets = vb.groupBy(col("__vb"))
      .agg(sum(col("n_toks")).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(Window
          .orderBy(col("__vb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__vb"), col("__off"))
    val placed = tokBase.fold(
      vb.join(broadcast(vOffsets), Seq("__vb")))(tb =>
      vb.join(broadcast(vOffsets), Seq("__vb"))
        .crossJoin(broadcast(tb)))
    val tok0 = tokBase.fold(lit(0L))(_ => col("__tok0"))
    placed
      .withColumn("start_tok",
        tok0 + col("__off") + sum(col("n_toks")).over(withinV)
          - col("n_toks"))
      .select(col(idCol), col(domainCol), col("n_toks"), col("vtime"),
        call_function("div", col("start_tok"), lit(shardToks))
          .as("chunk_idx"),
        (col("start_tok") % shardToks).as("chunk_off"))
  }

  /** Epoch-order decorrelation audit — multi-epoch training reshuffles
    * the corpus per epoch (epoch-salted hash order) so no two
    * documents are seen back-to-back twice; this card counts, for
    * every epoch pair, the ordered adjacent pairs the two orders
    * SHARE. Expected value is ~1 for independent orders (n adjacent
    * slots × 1/n chance each repeats — the birthday bound); a spike
    * means the reshuffle is broken and the same local gradient
    * correlations replay every epoch.
    *
    * Scale shape, per epoch: global ranks from the two-level count
    * scan (per-bucket `row_number` + a B-row bucket-count offset
    * frame — no single-partition window), successors from a co-keyed
    * self-join on `rank + 1` (EXACT — a lag-within-bucket form would
    * silently drop the B bucket-boundary adjacencies); epoch pairs
    * then join on the compact (pred, succ) key. The oracle replays
    * flat `ROW_NUMBER` + `LEAD` per epoch.
    */
  def epochDecorrelation(df: DataFrame, idCol: String, epochs: Int = 3,
      salt: String = "epoch", buckets: Int = 256): DataFrame = {
    require(epochs >= 2, "need at least two epochs to compare")
    require(buckets > 0, "buckets must be positive")
    val bucketWidth = lit((1L << 60) / buckets + 1L)
    def pairsOf(e: Int): DataFrame = {
      val base = df.select(col(idCol))
        .withColumn("__h",
          TF.hash60(concat(lit(s"$salt$e|"), col(idCol).cast("string"))))
        .withColumn("__b", call_function("div", col("__h"), bucketWidth))
      val offsets = base.groupBy(col("__b"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__off", coalesce(sum(col("__c")).over(Window
            .orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("__b"), col("__off"))
      val ranks = base.join(broadcast(offsets), Seq("__b"))
        .withColumn("r", col("__off") + row_number().over(Window
          .partitionBy(col("__b")).orderBy(col("__h"), col(idCol)))
          .cast("long"))
        .select(col(idCol), col("r"))
      ranks.select(col(idCol).as("pred"), (col("r") + 1L).as("r"))
        .join(ranks.select(col(idCol).as("succ"), col("r")), Seq("r"))
        .select(col("pred"), col("succ"))
    }
    val nPairs = df.agg((count(lit(1)) - 1L).cast("long").as("n_pairs"))
    val allPairs = (1 to epochs).map(e => e -> pairsOf(e))
    (for {
      (ea, pa) <- allPairs; (eb, pb) <- allPairs if ea < eb
    } yield pa.join(pb, Seq("pred", "succ"))
      .agg(count(lit(1)).cast("long").as("repeated_adjacent"))
      .select(lit(ea.toLong).as("epoch_a"), lit(eb.toLong).as("epoch_b"),
        col("repeated_adjacent"))
      .crossJoin(broadcast(nPairs)))
      .reduce(_.unionByName(_))
      .select(col("epoch_a"), col("epoch_b"), col("n_pairs"),
        col("repeated_adjacent"))
  }

  /** Contrastive positive-pair generator — the independent-cropping
    * recipe of Contriever (Izacard et al. 2022 §3.1, descending from
    * the inverse cloze task): per document with at least `minToks`
    * tokens, two deterministic pseudo-random token crops of the SAME
    * document, the (anchor, positive) pairs a contrastive embedding
    * model trains on — completing the pair factory beside the BM25
    * hard negatives ([[Retrieval.bm25HardNegatives]]). Crop lengths
    * draw from 40–70% of the document and start positions are
    * portable-hash draws, so any engine regenerates identical pairs
    * with zero RNG state; `overlap_toks` (tokens shared by the two
    * crop intervals) is the pair-difficulty signal — low overlap =
    * hard positive, exactly the axis Contriever ablates.
    *
    * Scale shape: a zero-exchange per-row projection (token-array
    * slices, four hash draws, integer interval arithmetic) — the
    * plan partitions like its scan.
    */
  def contrastiveCrops(df: DataFrame, idCol: String, textCol: String,
      minToks: Int = 8, salt: String = "crop"): DataFrame = {
    require(minToks >= 2, "minToks must be at least 2")
    def draw(tag: String): Column =
      TF.hash60(concat(lit(salt + tag), col(idCol).cast("string")))
    def len(tag: String): Column = greatest(lit(1L),
      call_function("div",
        col("__n") * (lit(40L) + draw("l" + tag) % 31L), lit(100L)))
    def start(tag: String, lenCol: Column): Column =
      lit(1L) + draw("s" + tag) % (col("__n") - lenCol + 1L)
    df.withColumn("__toks", TF.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .filter(col("__n") >= minToks.toLong)
      .withColumn("a_len", len("a"))
      .withColumn("b_len", len("b"))
      .withColumn("a_start", start("a", col("a_len")))
      .withColumn("b_start", start("b", col("b_len")))
      .select(col(idCol), col("__n").as("n_toks"),
        col("a_start"), col("a_len"), col("b_start"), col("b_len"),
        greatest(lit(0L),
          least(col("a_start") + col("a_len"),
            col("b_start") + col("b_len"))
            - greatest(col("a_start"), col("b_start"))).as("overlap_toks"),
        concat_ws(" ", slice(col("__toks"),
          col("a_start").cast("int"), col("a_len").cast("int")))
          .as("crop_a"),
        concat_ws(" ", slice(col("__toks"),
          col("b_start").cast("int"), col("b_len").cast("int")))
          .as("crop_b"))
  }

  /** Distinct-n diversity card (the distinct-1/2/3 corpus-diversity
    * metric of Li et al. 2016, "A Diversity-Promoting Objective
    * Function"): per stratum and n-gram order, the distinct and total
    * positional n-gram counts and their exact ratio in integer micro
    * — low distinct-n marks template-mill sources whose individual
    * documents pass every quality gate. Complements the corpus-level
    * Heaps curve (vocabulary vs corpus SIZE) with a per-source,
    * per-order diversity number.
    *
    * Scale shape: one exploded (stratum, n, gram) shuffle per order
    * with map-side combine on the gram key, collapsing to a
    * stratum-sized rollup; the union of the per-order frames merges
    * into parallel stages of one job. No corpus-global state.
    */
  def distinctNgramCard(df: DataFrame, stratumCol: String,
      textCol: String, ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "orders must be >= 1")
    val toks = TF.tokens(col(textCol))
    val src = spread(df)
    val perN = ns.map { n =>
      val grams = when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
      src.select(col(stratumCol).as("source"), explode(grams).as("g"))
        .groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("distinct_grams"),
          sum(col("c")).as("total_grams"))
        .select(col("source"), lit(n.toLong).as("n"),
          col("distinct_grams"), col("total_grams"),
          when(col("total_grams") === 0L, 0L)
            .otherwise(call_function("div",
              col("distinct_grams") * lit(1000000L),
              col("total_grams"))).as("distinct_frac_micro"))
    }
    perN.reduce(_.unionByName(_))
  }

  /** Packing-efficiency audit — the card that justifies
    * [[packAssignments]]: per stratum, how many `chunkToks`-token
    * training chunks concat-and-chunk packing needs versus the naive
    * one-doc-per-chunk padding baseline (each doc padded up to the
    * next chunk boundary), and how many pad tokens each strategy
    * burns. Packed chunks = ⌈Σtoks / C⌉ (documents straddle
    * boundaries, so only the final partial chunk pads); naive chunks
    * = Σ⌈toksᵢ / C⌉. The savings column is the fraction of the naive
    * chunk bill that packing deletes — at pretraining scale this is
    * directly GPU-hours.
    *
    * Pure integer arithmetic (⌈a/C⌉ as `(a + C − 1) div C`, savings
    * via the portable floor-division), ONE map-side-combined groupBy
    * over per-doc token counts — no exchange beyond the stratum
    * rollup.
    */
  def packingEfficiency(df: DataFrame, stratumCol: String,
      textCol: String, chunkToks: Long): DataFrame = {
    require(chunkToks > 0, "chunkToks must be positive")
    val c = lit(chunkToks)
    def ceilDiv(a: Column): Column =
      call_function("div", a + c - lit(1L), c)
    df.select(col(stratumCol).as("source"),
        size(TF.tokens(col(textCol))).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_toks"),
        sum(ceilDiv(col("n_toks"))).as("naive_chunks"))
      .withColumn("packed_chunks", ceilDiv(col("total_toks")))
      .select(col("source"), col("n_docs"), col("total_toks"),
        col("packed_chunks"),
        (col("packed_chunks") * c - col("total_toks"))
          .as("packed_pad_toks"),
        col("naive_chunks"),
        (col("naive_chunks") * c - col("total_toks"))
          .as("naive_pad_toks"),
        when(col("naive_chunks") === 0, lit(0L))
          .otherwise(call_function("div",
            (col("naive_chunks") - col("packed_chunks")) * lit(1000000L),
            col("naive_chunks"))).as("saved_chunks_pct_micro"))
  }

  /** Epoch-repetition schedule — the data-constrained scaling card
    * (Muennighoff et al. 2023: repeating data beyond ~4 epochs yields
    * rapidly diminishing returns): given a token budget of
    * `budgetNumer/budgetDenom × corpus total` split UNIFORMLY across
    * strata (the p44 mix target), report per stratum how many epochs
    * its share demands, the token mass actually deliverable under a
    * `capEpochs` repetition ceiling, and the deficit the mix planner
    * must re-allocate. The card that says which "equal share" is a
    * fiction before a run wastes compute discovering it.
    *
    * Exact integers throughout (budget and shares via integer
    * division of in-plan totals — no driver count() pre-pass, the
    * single-row totals broadcast). One stratum-keyed count shuffle.
    */
  def epochSchedule(df: DataFrame, stratumCol: String, textCol: String,
      budgetNumer: Long, budgetDenom: Long,
      capEpochs: Long): DataFrame = {
    require(budgetNumer > 0 && budgetDenom > 0 && capEpochs > 0,
      "budget and cap must be positive")
    def fd(a: Column, m: Column): Column =
      call_function("div", a, m)
    val per = df.select(col(stratumCol).as("source"),
        size(TF.tokens(col(textCol))).cast("long").as("n"))
      .groupBy("source").agg(sum(col("n")).as("avail_toks"))
    val tot = per.agg(sum(col("avail_toks")).as("total"),
      count(lit(1)).as("ns"))
    per.crossJoin(broadcast(tot))
      .withColumn("target_toks",
        fd(col("total") * lit(budgetNumer),
          col("ns") * lit(budgetDenom)))
      .withColumn("epochs_micro",
        fd(col("target_toks") * lit(1000000L), col("avail_toks")))
      .withColumn("effective_toks",
        least(col("target_toks"), lit(capEpochs) * col("avail_toks")))
      .select(col("source"), col("avail_toks"), col("target_toks"),
        col("epochs_micro"), col("effective_toks"),
        (col("target_toks") - col("effective_toks")).as("deficit_toks"),
        when(col("epochs_micro") > lit(capEpochs) * 1000000L, 1L)
          .otherwise(0L).as("over_cap"))
  }

  /** HDR-histogram quantile calibration — the QUANTILE member of the
    * audited-sketch triad (count-min = frequency p127, HLL =
    * cardinality p128, this = percentiles): doc token counts stream
    * into an HdrHistogram-style bucket table (identity below 2^p,
    * then 2^p log-spaced sub-buckets per octave — bucket index
    * `(e−p)·2^p + (v >> (e−p))`, exactly HdrHistogram's formula), and
    * for each requested percentile the sketch answer (upper bound of
    * the first bucket whose cumulative count clears ⌈q·N⌉) is
    * reported beside the EXACT inverted-CDF percentile. The
    * first-clearing bucket always CONTAINS the exact percentile, so
    * `est ≥ exact` is a hard invariant (spec- and oracle-checked) and
    * the relative error is bounded by 2^−p — the precision/memory
    * dial a 100-TB run turns.
    *
    * Fully integer end-to-end: floor-log2 by comparison chain (the
    * HLL ρ move — no floating log), shifts as exact powers of two,
    * thresholds via ⌈·⌉ integer arithmetic. Scale shape: one
    * map-side-combined groupBy onto the BUCKET table (≤ a few
    * hundred rows at ANY corpus size — the sketch property; its
    * cumulative window is sketch-sized, not data-sized) and, for the
    * audit only, the same rollup onto distinct VALUES (bounded by
    * the value domain; the sketch alone is what a production run
    * keeps). Buckets are mergeable by addition — the streaming/
    * multi-shard story is the count-min one.
    */
  /** HDR bucket id and inclusive upper bound for a non-negative long
    * column `v` — identity below 2^p, then `(e−p)·2^p + (v >> (e−p))`
    * with e = floor(log2 v) by comparison chain. Shared by
    * [[hdrQuantileCalibration]] and the streaming twin so the two
    * sketches are bit-identical.
    */
  private[graft] def hdrBuckets(vals: DataFrame, pBits: Int): DataFrame = {
    val base = lit(1L << pBits)
    val e = greatest((0 until 40).map(b =>
      when(col("v") >= (1L << b), lit(b)).otherwise(lit(0))): _*)
    val shift = expr(s"shiftleft(CAST(1 AS BIGINT), e - $pBits)")
    vals.withColumn("e", e)
      .withColumn("bid",
        when(col("v") < base, col("v"))
          .otherwise((col("e") - pBits) * base +
            call_function("div", col("v"), shift)))
      .withColumn("ub",
        when(col("v") < base, col("v"))
          .otherwise((call_function("div", col("v"), shift) + 1)
            * shift - 1))
  }

  def hdrQuantileCalibration(df: DataFrame, idCol: String,
      textCol: String, pBits: Int = 3,
      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(pBits >= 1 && pBits <= 10, "pBits in [1, 10]")
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "pcts in [1, 100]")
    val vals = df.select(
      size(TF.tokens(col(textCol))).cast("long").as("v"))
    graft.core.Caching.withCached(vals) {
      val withB = hdrBuckets(vals, pBits)
      val buckets = withB.groupBy("bid", "ub")
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("bid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val exactCum = vals.groupBy("v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = vals.agg(count(lit(1)).as("n"))
      def t(pct: Int): Column =
        call_function("div", lit(pct.toLong) * col("n") + 99, lit(100L))
      val eAgg = exactCum.crossJoin(broadcast(n)).agg(pcts.map(p =>
        min(when(col("cum") >= t(p), col("v"))).as(s"x_$p")).head,
        pcts.tail.map(p =>
          min(when(col("cum") >= t(p), col("v"))).as(s"x_$p")): _*)
      val sAgg = buckets.crossJoin(broadcast(n)).agg(pcts.map(p =>
        min(when(col("cum") >= t(p), col("ub"))).as(s"u_$p")).head,
        pcts.tail.map(p =>
          min(when(col("cum") >= t(p), col("ub"))).as(s"u_$p")): _*)
      eAgg.crossJoin(broadcast(sAgg)).crossJoin(broadcast(n))
        .select(explode(array(pcts.map(p => struct(
          lit(p.toLong).as("pct"), col("n").as("n_values"),
          col(s"x_$p").as("exact"), col(s"u_$p").as("est"))): _*))
          .as("r"))
        .select(col("r.pct"), col("r.n_values"), col("r.exact"),
          col("r.est"), (col("r.est") - col("r.exact")).as("overshoot"),
          when(col("r.exact") === 0, lit(0L))
            .otherwise(call_function("div",
              (col("r.est") - col("r.exact")) * lit(1000000L),
              col("r.exact"))).as("rel_err_micro"))
    }
  }

  /** Vocabulary-growth (Heaps-law) card: distinct-type and token-
    * occurrence counts of nested random subcorpora at 1/16, 2/16, …,
    * 16/16 of the corpus — the curve that sizes a tokenizer
    * vocabulary (how fast do new types keep arriving?) and flags
    * template corpora (vocab that saturates early). The type/token
    * ratio per checkpoint is the classic lexical-diversity statistic;
    * under Heaps' law it falls as the sample grows.
    *
    * Subcorpora are HASH-nested, not prefix-nested: doc d belongs to
    * checkpoint c iff `hash60(salt‖d) mod 16 < c`, so each checkpoint
    * is a uniform random sample CONTAINING every smaller one — the
    * property the growth curve needs — and the whole card is two
    * map-side-combined shuffles (per-token min bucket; per-bucket doc
    * stats) plus a 16-row rollup. NO global window, no sort: the
    * prefix formulation would need a total order over the corpus
    * (single-partition row_number or a two-phase rank), while the
    * hash formulation scales to any corpus unchanged — at 100 TB this
    * is the difference between a card and a job.
    *
    * Pure integer arithmetic; TTR via the portable floor-division.
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      salt: String = "vg"): DataFrame = {
    val checkpoints = Seq(1, 2, 4, 8, 16)
    val docs = df.select(col(idCol).as("id"),
      TF.tokens(col(textCol)).as("toks"),
      (TF.hash60(concat(lit(salt), col(idCol).cast("string"))) % 16)
        .as("b"))
    val occ = docs.select(col("b"), explode(col("toks")).as("tok"))
    val tokMin = occ.groupBy("tok").agg(min(col("b")).as("mb"))
    val docAgg = docs.groupBy("b").agg(count(lit(1)).as("nd"),
      sum(size(col("toks")).cast("long")).as("occ"))
    val dExprs = checkpoints.flatMap(c => Seq(
      coalesce(sum(when(col("b") < c, col("nd"))), lit(0L))
        .as(s"nd_$c"),
      coalesce(sum(when(col("b") < c, col("occ"))), lit(0L))
        .as(s"occ_$c")))
    val dAgg = docAgg.agg(dExprs.head, dExprs.tail: _*)
    val vExprs = checkpoints.map(c =>
      coalesce(sum(when(col("mb") < c, lit(1L))), lit(0L)).as(s"v_$c"))
    val vAgg = tokMin.agg(vExprs.head, vExprs.tail: _*)
    dAgg.crossJoin(broadcast(vAgg))
      .select(explode(array(checkpoints.map(c => struct(
        lit(c.toLong).as("sixteenths"),
        col(s"nd_$c").as("n_docs"),
        col(s"occ_$c").as("n_occurrences"),
        col(s"v_$c").as("vocab"))): _*)).as("r"))
      .select(col("r.sixteenths"), col("r.n_docs"),
        col("r.n_occurrences"), col("r.vocab"),
        when(col("r.n_occurrences") === 0, lit(0L))
          .otherwise(call_function("div", col("r.vocab") * lit(1000000L),
            col("r.n_occurrences"))).as("ttr_micro"))
  }

  /** Rare-token ratio — the OOV/rarity quality signal: per document,
    * the fraction of token OCCURRENCES whose corpus document frequency
    * is at or below `maxDf`. Pure integer counting (exact in any
    * engine) where a perplexity filter would need a language model —
    * the standard deterministic stand-in. Two shuffles: the df
    * aggregation and the per-doc rollup; the df table is vocabulary-
    * sized, so Spark broadcasts it back onto the occurrence stream.
    */
  def rareTokenRatio(df: DataFrame, idCol: String, textCol: String,
      maxDf: Long): DataFrame =
    rareTokenRatioBy(df, idCol, textCol, lit(maxDf))

  /** Corpus-relative [[rareTokenRatio]]: the df threshold is |D| div
    * `dfDiv`, resolved INSIDE the plan — the corpus count rides a
    * single-row broadcast onto the occurrence stream (the same device
    * as the inverted-index fraction cap), so the operator stays one
    * job with no driver-side `count()` pre-pass and the threshold
    * tracks corpus size at any SF.
    */
  def rareTokenRatioRel(df: DataFrame, idCol: String, textCol: String,
      dfDiv: Long): DataFrame = {
    require(dfDiv > 0, "dfDiv must be positive")
    val total = broadcast(df.agg(count(lit(1)).as("__n_docs")))
    rareTokenRatioBy(df, idCol, textCol,
      expr(s"__n_docs div $dfDiv"), Some(total))
  }

  private def rareTokenRatioBy(df: DataFrame, idCol: String,
      textCol: String, maxDf: Column,
      extra: Option[DataFrame] = None): DataFrame = {
    val occ0 = df.select(col(idCol).as("doc"),
      explode(TF.tokens(col(textCol))).as("tok"))
    val dfreq = occ0.groupBy("tok")
      .agg(countDistinct(col("doc")).as("df"))
    val occ = extra.foldLeft(occ0.join(broadcast(dfreq), "tok"))(_ crossJoin _)
    occ.groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(when(col("df") <= maxDf, 1L).otherwise(0L)).as("n_rare"),
        floor(sum(when(col("df") <= maxDf, 1L).otherwise(0L)) * lit(1e6) /
          count(lit(1))).cast("long").as("rare_micro"))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every positional
    * k-shingle, slide a window of `w` hashes, keep each window's
    * minimum — a guaranteed-overlap document sketch: any shared run of
    * w+k-1 tokens contributes at least one identical fingerprint, so
    * sketch joins catch local overlap at a fraction of the full
    * posting volume. All array math happens inside the row (no
    * explode until the final distinct fingerprint set), portable-hash
    * based and exact.
    */
  def winnow(df: DataFrame, idCol: String, textCol: String, k: Int,
      w: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      explode(graft.functions.HashKernelFunctions.winnowFps(
        TF.tokens(col(textCol)), k, w)).as("fp"))

  /** The original HOF formulation of [[winnow]]'s fingerprint array —
    * kept as the executable specification the native `WinnowFps`
    * kernel is equivalence-tested against (KernelEquivalenceSpec), and
    * as the shape the DuckDB oracle mirrors. Two subtleties: Spark's
    * `sequence(1, n)` DESCENDS for n < 1, so short inputs need the
    * guards; and the token/hash arrays are bound as single-element
    * `transform(array(x), v -> …)` lambda arguments — a chain of
    * withColumns would let Catalyst's projection collapse inline the
    * hash array into EVERY window position, re-running the md5 loop
    * O(positions) times per row.
    */
  private[graft] def winnowFpsHof(textCol: String, k: Int, w: Int): Column = {
    val hashOverT = s"""if(size(t) < $k, array(),
        transform(sequence(1, size(t) - ${k - 1}),
          i -> cast(conv(substring(md5(concat_ws(' ', slice(t, i, $k))), 1, 15), 16, 10) as bigint)))"""
    val minsOverH = s"""if(size(h) < $w, array_distinct(h),
        array_distinct(transform(sequence(1, size(h) - ${w - 1}),
          j -> array_min(slice(h, j, $w)))))"""
    expr(s"""element_at(transform(array(split(trim($textCol), '\\\\s+')), t ->
        element_at(transform(array($hashOverT), h -> $minsOverH), 1)), 1)""")
  }

  /** Near-dup pair detection over the winnowed sketches: pairs sharing
    * at least `minShared` fingerprints. The scale payoff of [[winnow]]:
    * the self-join runs over ~|doc|/w sketch rows instead of the full
    * shingle postings, with the same overlap guarantee for runs of
    * w+k-1 tokens.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      w: Int, minShared: Int): DataFrame = {
    val fp = winnow(df, idCol, textCol, k, w)
    val a = fp.select(col("doc").as("doc_a"), col("fp"))
    val b = fp.select(col("doc").as("doc_b"), col("fp"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Delta-restricted [[winnowPairs]]: exactly the pairs with at least
    * one side in `delta`, at the same `minShared` semantics (winnow
    * fingerprints are distinct per doc, so COUNT DISTINCT over the
    * oriented pair equals the full self-join's shared count). This is
    * the ingest-loop's detector: the sketch join is delta × corpus —
    * |Δ|/w against |corpus|/w sketch rows — instead of the full
    * corpus self-join, which is what makes per-batch pair detection
    * affordable at corpus scale.
    */
  def winnowPairsDelta(full: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, minShared: Int): DataFrame = {
    val fa = winnow(delta, idCol, textCol, k, w)
      .select(col("doc").as("da"), col("fp"))
    val fb = winnow(full, idCol, textCol, k, w)
      .select(col("doc").as("db"), col("fp"))
    fa.join(fb, Seq("fp")).filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("fp"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Positional L-gram hashes of a document's token stream — one
    * 60-bit hash per start position, `element_at(transform(array(…)))`
    * -bound like [[winnowFpsHof]] so the token array is not re-split
    * per window. The building block of exact-substring dedup: a token
    * span of length ≥ L occurs twice in the corpus exactly when every
    * L-window starting inside it is duplicated somewhere.
    */
  private[graft] def gramHashes(textCol: String, L: Int): Column = expr(
    s"""element_at(transform(array(split(trim($textCol), '\\\\s+')), t ->
        if(size(t) < $L, array(),
          transform(sequence(1, size(t) - ${L - 1}),
            i -> cast(conv(substring(md5(concat_ws(' ', slice(t, i, $L))), 1, 15), 16, 10) as bigint)))), 1)""")

  /** Cross-document EXACT-substring dedup at arbitrary boundaries
    * (the Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" semantics, token granularity): find every maximal
    * token span in which each L-token window occurs at least twice
    * corpus-wide — any position, any document, including twice within
    * one document — going beyond [[segmentScrub]]' fixed
    * segmentation. Output: one row per maximal duplicated span
    * `(doc, start_tok, end_tok, span_tokens)`, 0-based inclusive.
    *
    * Shape: duplicated-window detection is a count over 8-byte gram
    * hashes (never the text), the join back is on the same 8-byte
    * key, and maximal spans are one gaps-and-islands window per doc —
    * the suffix-array pass of the paper becomes three exchanges of
    * compact keys. Token arrays never shuffle.
    */
  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
      L: Int): DataFrame = {
    require(L >= 2, "L must be at least 2")
    val grams = df.select(col(idCol).as("doc"),
      posexplode(gramHashes(textCol, L)).as(Seq("gpos", "gh")))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("gh")
    val w = Window.partitionBy(col("doc")).orderBy(col("gpos"))
    grams.join(dup, "gh")
      .withColumn("grp", col("gpos") - row_number().over(w))
      .groupBy(col("doc"), col("grp"))
      .agg(min(col("gpos")).as("start_tok"),
        (max(col("gpos")) + lit(L - 1)).as("end_tok"))
      .select(col("doc"), col("start_tok").cast("long").as("start_tok"),
        col("end_tok").cast("long").as("end_tok"),
        (col("end_tok") - col("start_tok") + 1).cast("long").as("span_tokens"))
  }

  /** Per-document memorization-risk score — the doc-level summary of
    * the [[exactSubstringSpans]] machinery: the fraction of a
    * document's L-token windows that occur at least twice
    * corpus-wide (Lee et al. 2022's analysis axis — high duplicated-
    * window mass predicts verbatim memorization, so this is the
    * column a curation pipeline thresholds or reports before
    * training). One row per document, including documents too short
    * to have any window (zero windows, zero risk).
    *
    * Shape: gram hashing is zero-exchange; the duplicated-window
    * count is one 8-byte-key aggregation joined back on the same
    * key; the per-doc rollup partial-aggregates. Token arrays never
    * shuffle.
    */
  def memorizationRisk(df: DataFrame, idCol: String, textCol: String,
      L: Int): DataFrame = {
    require(L >= 2, "L must be at least 2")
    val grams = df.select(col(idCol).as("doc"),
      posexplode(gramHashes(textCol, L)).as(Seq("gpos", "gh")))
    val occ = grams.groupBy("gh").agg(count(lit(1)).as("occ"))
    val per = grams.join(occ, "gh")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
    df.select(col(idCol).as("doc"))
      .join(per, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(expr("(n_dup_windows * 1000000) div n_windows"), lit(0L))
          .as("dup_frac_micro"))
  }

  /** Cross-corpus novelty score — the ingest-side complement of
    * [[memorizationRisk]]: for each incoming document, the fraction
    * of its L-token windows NOT already present in a reference
    * corpus. The admission signal a pipeline thresholds when new
    * data arrives ("is this scrape actually new text, or a re-crawl
    * of what we have"), and the window-level generalization of the
    * bloom-gated exact-ingest check. One row per incoming doc,
    * zero-window docs scoring novelty 1 (nothing matched, nothing to
    * match).
    *
    * Shape: both sides reduce to 8-byte gram keys; the reference
    * side is a DISTINCT gram set (one aggregation), the probe is an
    * equi-join on the key, and the rollup partial-aggregates. Text
    * never shuffles.
    */
  def noveltyScore(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, L: Int): DataFrame = {
    require(L >= 2, "L must be at least 2")
    val inGrams = incoming.select(col(idCol).as("doc"),
      posexplode(gramHashes(textCol, L)).as(Seq("gpos", "gh")))
    val refGrams = reference
      .select(explode(gramHashes(textCol, L)).as("gh")).distinct()
      .withColumn("seen", lit(1L))
    val per = inGrams.join(refGrams, Seq("gh"), "left")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
    incoming.select(col(idCol).as("doc"))
      .join(per, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        coalesce(
          expr("((n_windows - n_seen) * 1000000) div n_windows"),
          lit(1000000L)).as("novelty_micro"))
  }

  /** Removal twin of [[exactSubstringSpans]] with reconstruction
    * certification (the [[segmentScrub]] contract): drop every token
    * inside a duplicated span — all copies go, the paper's stricter
    * variant — and emit per doc the span count, dropped-token count,
    * and an md5 fingerprint of the kept-token reconstruction, so an
    * oracle replaying the spans certifies the exact cut boundaries.
    * The reconstruction is zero-exchange row-local HOFs over the
    * span list (span lists are tiny; token arrays never shuffle).
    */
  def exactSubstringScrub(df: DataFrame, idCol: String, textCol: String,
      L: Int): DataFrame = {
    val spans = exactSubstringSpans(df, idCol, textCol, L)
      .groupBy(col("doc"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"))
    val noSpans = array().cast("array<struct<start_tok:bigint,end_tok:bigint>>")
    val indexed = transform(expr(s"split(trim($textCol), '\\\\s+')"),
      (tok, i) => struct(tok.as("tok"), i.cast("long").as("i")))
    val alive = filter(indexed, p =>
      !exists(coalesce(col("spans"), noSpans), s =>
        p.getField("i").between(s.getField("start_tok"), s.getField("end_tok"))))
    df.select(col(idCol).as("doc"), col(textCol))
      .join(spans, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        substring(md5(concat_ws(" ",
          transform(alive, p => p.getField("tok")))), 1, 16).as("clean_fp"))
  }

  /** One scrub rule: redact every match of `regex` to `replacement`
    * and report the match count. Patterns stay in the RE2-compatible
    * subset (character classes, quantifiers, alternation — no
    * backreferences or lookaround) so the same pattern string runs
    * identically under Java regex (Spark) and RE2 (DuckDB oracle,
    * and any other engine a corpus pipeline cross-checks against).
    */
  final case class ScrubRule(name: String, regex: String, replacement: String)

  /** Common training-corpus redaction rules: emails, international
    * phone numbers, and bare digit-run identifiers (account numbers,
    * user ids). Order matters — emails and phones are redacted before
    * the generic digit rule so their digits don't double-count.
    */
  val piiRules: Seq[ScrubRule] = Seq(
    ScrubRule("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "<EMAIL>"),
    ScrubRule("phone", "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>"),
    ScrubRule("id", "[0-9]+", "<ID>"))

  /** PII / identifier scrubbing: apply `rules` in order to `textCol`,
    * producing a `clean` column plus one `n_<rule>` count column per
    * rule (counted against the text as the rule sees it, i.e. after
    * the previous rules' redactions).
    *
    * Scale shape: a pure per-row projection — every regexp_replace /
    * regexp_count is a codegen'd Catalyst expression, no UDF, no
    * shuffle, runs inside the scan's WholeStageCodegen span. At 100 TB
    * this is the cheapest kind of operator there is: it adds zero
    * exchanges to whatever plan consumes it.
    */
  def scrubText(df: DataFrame, textCol: String,
      rules: Seq[ScrubRule] = piiRules): DataFrame = {
    val scrubbed = rules.foldLeft((df, col(textCol))) {
      case ((acc, cur), r) =>
        val counted = acc.withColumn(s"n_${r.name}",
          regexp_count(cur, lit(r.regex)).cast("long"))
        (counted, regexp_replace(cur, r.regex, r.replacement))
    }
    scrubbed._1.withColumn("clean", scrubbed._2)
  }

  /** Luhn checksum validity of a separator-tolerant card-number
    * candidate, as a pure Column predicate: strip non-digits, require
    * 13–19 digits (the real PAN length range), and check the mod-10
    * sum with every second digit FROM THE RIGHT doubled (9-fold on
    * overflow) — ISO/IEC 7812. All HOF/codegen arithmetic, no UDF.
    */
  private[graft] def luhnValid(cand: Column): Column = {
    val digits = regexp_replace(cand, "[^0-9]", "")
    val n = length(digits)
    val s = aggregate(sequence(lit(1), n), lit(0L), (acc, i) => {
      val d = digits.substr(i, lit(1)).cast("long")
      acc + when(pmod(n - i, lit(2)) === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    (n >= 13) && (n <= 19) && (pmod(s, lit(10)) === 0)
  }

  /** Checksum-validated card-number scrub — the step past regex-only
    * PII redaction ([[scrubText]]'s digit rules): candidate digit
    * runs (separator-tolerant: spaces/dashes between digits extend a
    * run) are VALIDATED with the Luhn checksum and only validated
    * numbers are redacted, so order amounts, timestamps, and account
    * ids survive while real card numbers go. Per row: the digit-run
    * count, the validated count, and the 16-hex md5 of the scrubbed
    * text (the reconstruction certificate — compact however long the
    * text). Zero-exchange codegen projection: extract-all, a filter
    * HOF over the Luhn predicate, and a literal-replace fold of the
    * validated candidates into the text.
    *
    * A maximal run can span two adjacent separated numbers ("12 34"
    * is one candidate) — the standard cost of separator tolerance;
    * such merges fail the length/checksum gate and are left alone.
    */
  def cardScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cands = regexp_extract_all(col(textCol),
      lit("[0-9][0-9 -]*[0-9]"), lit(0))
    val valids = filter(cands, c => luhnValid(c))
    df.select(col(idCol),
      size(cands).cast("long").as("n_digit_runs"),
      size(valids).cast("long").as("n_luhn_valid"),
      substring(md5(aggregate(valids, col(textCol),
        (acc, v) => replace(acc, v, lit("<CARD>")))), 1, 16)
        .as("clean_fp"))
  }

  /** Global segment-level dedup (the C4 "remove duplicated lines
    * across the corpus" rule, over fixed word windows when the corpus
    * has no line structure): split each document's tokens into
    * consecutive `segWords`-word segments, keep a segment only in the
    * single document with the minimum id containing it, and report
    * per-document kept/dropped counts.
    *
    * Scale shape: segments are hashed to 60-bit keys before the
    * shuffle, so the global first-occurrence aggregation moves 8-byte
    * keys, not text; the per-document rollup then partial-aggregates
    * map-side. Two exchanges total, both on compact keys — the same
    * discipline as the inverted-index dedup family.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int): DataFrame = {
    val segs = df
      .select(col(idCol).as("doc"), TF.tokens(col(textCol)).as("toks"))
      .withColumn("seg", explode(expr(
        s"""if(size(toks) < 1, array(),
           |  transform(sequence(1, cast(ceil(size(toks) / ${segWords}.0D) as int)),
           |    i -> concat_ws(' ', slice(toks, (i - 1) * $segWords + 1, $segWords))))"""
          .stripMargin)))
      .select(col("doc"), TF.hash60(col("seg")).as("h"))
      .distinct()
    val owners = segs.groupBy("h").agg(min(col("doc")).as("owner"))
    segs.join(owners, "h")
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("doc") === col("owner"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("n_dropped", col("n_segs") - col("n_kept"))
  }

  /** Gopher rule-set page gates (Rae et al. 2021, §A1.1) as a
    * reusable projection — shared verbatim by the batch query (p61)
    * and the streaming ingest twin ([[graft.streaming.StreamingJobs]]),
    * so the gate a stream applies at admission time is provably the
    * one the batch pass applies. Every rule is an integer
    * cross-multiplied comparison; zero exchange, no state.
    */
  /** `minWords`/`minStopwords` default to the PUBLISHED thresholds
    * (Rae et al. 2021, §A1.1: ≥50 words, ≥2 required stopwords); they
    * are parameters because real curation tunes them per corpus — a
    * caller that relaxes them owns documenting why (see the CLI
    * `curate` profile).
    */
  def gopherGates(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil, minWords: Long = 50,
      minStopwords: Long = 2): DataFrame = {
    val toks = TF.tokens(col(textCol))
    val lowered = transform(toks, t => lower(t))
    val lines = split(col(textCol), "\n")
    val d = df
      .withColumn("n_toks", size(toks).cast("long"))
      .withColumn("sum_len",
        aggregate(toks, lit(0L), (acc, x) => acc + length(x)))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_hash",
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "#", ""))).cast("long"))
      .withColumn("n_ellipsis_lines",
        size(filter(lines, l => rtrim(l).like("%..."))).cast("long"))
      .withColumn("n_bullet_lines",
        size(filter(lines, l =>
          substring(ltrim(l), 1, 1).isin("-", "*", "•"))).cast("long"))
      .withColumn("n_alpha_words",
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_stop_present",
        TF.gopherStopwords.map(w =>
          when(array_contains(lowered, w), 1L).otherwise(0L))
          .reduce(_ + _))
    val flags = Seq(
      // Thresholds as published (Rae et al. 2021, §A1.1): 50-100k
      // words, mean word length 3-10, symbol-to-word ratio <= 0.1,
      // <= 30% ellipsis lines, <= 90% bullet lines, >= 80% words with
      // an alphabetic character, and at least TWO of the required
      // stopwords present.
      "r_words" -> (col("n_toks") >= minWords && col("n_toks") <= 100000L),
      "r_mean_len" -> (col("sum_len") >= col("n_toks") * 3 &&
        col("sum_len") <= col("n_toks") * 10),
      "r_hash" -> (col("n_hash") * 10 <= col("n_toks")),
      "r_ellipsis" -> (col("n_ellipsis_lines") * 10 <= col("n_lines") * 3),
      "r_bullet" -> (col("n_bullet_lines") * 10 <= col("n_lines") * 9),
      "r_alpha" -> (col("n_alpha_words") * 5 >= col("n_toks") * 4),
      "r_stop" -> (col("n_stop_present") >= minStopwords))
    val withFlags = flags.foldLeft(d) { case (acc, (n, c)) =>
      acc.withColumn(n, when(c, 1L).otherwise(0L)) }
    withFlags.select(
      (col(idCol) +: carry.map(col)) ++
        (col("n_toks") +: flags.map { case (n, _) => col(n) }) :+
        flags.map { case (n, _) => col(n) }.reduce(_ * _).as("keep"): _*)
  }

  /** Within-document repetition signals — the OTHER half of Gopher's
    * quality battery ([[gopherGates]] covers Rae et al. 2021 §A1.1;
    * these are the §A1.2 repetition filters): per document,
    * - `top${topN}_frac_micro`: characters attributable to the most
    *   frequent token `topN`-gram (count × gram char length — the
    *   common reimplementation convention; overlapping occurrences
    *   are NOT coalesced, so heavy loops can exceed 10⁶), and
    * - `dup${dupN}_frac_micro`: characters COVERED by `dupN`-grams
    *   that occur more than once (positional coverage — each token
    *   position counted once no matter how many duplicated grams
    *   touch it), both against the document's total token characters.
    * High values mark boilerplate/loop documents that the word-count
    * gates pass but a pretraining run should drop.
    *
    * Determinism: counts and char lengths are exact integers; each
    * fraction is ONE integer division. The top gram ties break on
    * (count DESC, gram ASC).
    *
    * Scale shape: positional grams explode to ~L rows per document
    * but immediately partial-aggregate on (doc, gram); the coverage
    * pass shuffles (doc, position) pairs bounded by dup occurrences
    * × dupN. Everything keys on the doc id or (doc, gram) — no
    * corpus-global state, so the plan partitions like its scan.
    */
  /** Per-row HOF twin of [[repetitionSignals]] — the same five output
    * columns as pure Column expressions over one document's token
    * array, for the STREAMING ingest gate (no shuffle, no watermark,
    * no state store). Two disciplines keep this viable in Catalyst's
    * INTERPRETED lambda evaluator (higher-order functions never enter
    * whole-stage codegen):
    *
    *   1. ''Bind once'': any lambda-body reference to a non-trivial
    *      Column re-evaluates its whole subtree per element, so the
    *      token array, each gram array, and the gram-count array pass
    *      through [[once]] (`transform(array(x), a => f(a))`), which
    *      evaluates the value a single time and hands `f` a bound
    *      lambda variable — O(1) per reference afterwards.
    *   2. ''Interval merge, not per-position scan'': duplicated-gram
    *      coverage walks the gram indices ONCE in ascending order,
    *      merging each duplicated gram's covered span `[p, p+n-1]`
    *      against the last covered position, instead of re-testing
    *      every token position against every overlapping gram.
    *
    * Total work is O(G²) gram comparisons per document (G = gram
    * count) — the same order as the batch path's per-doc group sizes,
    * with zero exchanges. The top tie-break ((count DESC, gram ASC)),
    * the coverage-union rule, and every integer floor are IDENTICAL
    * to the batch operator; CurationSpec pins bit-equality over the
    * gate corpus and a hand fixture.
    */
  def repetitionRowCols(textCol: Column, topN: Int = 2,
      dupN: Int = 3): Seq[Column] = {
    // evaluate `arr` once, expose it to `f` as a bound lambda var
    def once(arr: Column)(f: Column => Column): Column =
      element_at(transform(array(arr), a => f(a)), 1)
    def gramsOf(tk: Column, n: Int): Column =
      when(size(tk) >= n,
        transform(sequence(lit(1), size(tk) - (n - 1)),
          i => concat_ws(" ", slice(tk, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    val toks = TF.tokens(textCol)
    val nToks = size(toks).cast("long")
    val nChars = aggregate(toks, lit(0L), (a, x) => a + length(x))
    val best = once(toks) { tk =>
      once(gramsOf(tk, topN)) { g2 =>
        aggregate(g2,
          struct(lit(0L).as("c"), lit("").as("g")),
          (acc, x) => {
            val cx = size(filter(g2, e => e === x)).cast("long")
            when(cx > acc.getField("c") ||
                (cx === acc.getField("c") && x < acc.getField("g")),
              struct(cx.as("c"), x.as("g"))).otherwise(acc)
          })
      }
    }
    val topCnt = best.getField("c")
    val topChars = topCnt * (length(best.getField("g")) - (topN - 1))
    val dupChars = once(toks) { tk =>
      once(gramsOf(tk, dupN)) { gd =>
        once(transform(gd, x => size(filter(gd, y => y === x)))) { cnts =>
          aggregate(
            transform(cnts, (c, i) => struct(c.as("c"), (i + 1).as("p"))),
            struct(lit(0L).as("chars"), lit(0).as("last")),
            (acc, e) => {
              val p = e.getField("p")
              val lo = greatest(p, acc.getField("last") + 1)
              val hi = p + (dupN - 1)
              when(e.getField("c") >= 2,
                struct((acc.getField("chars") +
                  aggregate(sequence(lo, hi), lit(0L),
                    (a, q) => a + length(element_at(tk, q)))).as("chars"),
                  hi.as("last")))
                .otherwise(acc)
            },
            acc => acc.getField("chars"))
        }
      }
    }
    Seq(
      nToks.as("n_toks"),
      nChars.as("n_chars"),
      topCnt.as("top_cnt"),
      when(nChars === 0L, 0L)
        .otherwise(call_function("div", topChars * lit(1000000L),
          nChars)).as(s"top${topN}_frac_micro"),
      when(nChars === 0L, 0L)
        .otherwise(call_function("div", dupChars * lit(1000000L),
          nChars)).as(s"dup${dupN}_frac_micro"))
  }

  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 2, dupN: Int = 5): DataFrame = {
    require(topN >= 1 && dupN >= 1, "n-gram sizes must be positive")
    val base = spread(df)
      .select(col(idCol), TF.tokens(col(textCol)).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_chars",
        aggregate(col("toks"), lit(0L), (a, x) => a + length(x)))
    def gramRows(n: Int): DataFrame = base
      .filter(col("n_toks") >= n)
      .select(col(idCol), explode(transform(
        sequence(lit(1), (col("n_toks") - (n - 1)).cast("int")),
        i => struct(i.cast("long").as("p"),
          concat_ws(" ", slice(col("toks"), i, lit(n))).as("g"),
          aggregate(slice(col("toks"), i, lit(n)), lit(0L),
            (a, x) => a + length(x)).as("gc")))).as("o"))
      .select(col(idCol), col("o.p").as("p"), col("o.g").as("g"),
        col("o.gc").as("gc"))
    val topCnt = gramRows(topN)
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("cnt"), max(col("gc")).as("gc"))
    val top = topCnt
      .withColumn("rn", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("cnt").desc, col("g"))))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cnt").as("top_cnt"),
        (col("cnt") * col("gc")).as("top_chars"))
    val dg = gramRows(dupN)
    val dupPos = graft.core.Caching.withCached(dg) {
      dg.join(
          dg.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
            .filter(col("c") >= 2).select(col(idCol), col("g")),
          Seq(idCol, "g"))
        .select(col(idCol),
          explode(sequence(col("p"), col("p") + (dupN - 1))).as("cp"))
        .distinct()
    }
    val posLen = base
      .select(col(idCol), posexplode(col("toks")).as(Seq("i", "tk")))
      .select(col(idCol), (col("i") + 1).cast("long").as("cp"),
        length(col("tk")).cast("long").as("len"))
    val dupChars = dupPos.join(posLen, Seq(idCol, "cp"))
      .groupBy(col(idCol)).agg(sum(col("len")).as("dup_chars"))
    base.select(col(idCol), col("n_toks"), col("n_chars"))
      .join(top, Seq(idCol), "left")
      .join(dupChars, Seq(idCol), "left")
      .select(col(idCol), col("n_toks"), col("n_chars"),
        coalesce(col("top_cnt"), lit(0L)).as("top_cnt"),
        when(col("n_chars") === 0L, 0L)
          .otherwise(call_function("div",
            coalesce(col("top_chars"), lit(0L)) * lit(1000000L),
            col("n_chars"))).as(s"top${topN}_frac_micro"),
        when(col("n_chars") === 0L, 0L)
          .otherwise(call_function("div",
            coalesce(col("dup_chars"), lit(0L)) * lit(1000000L),
            col("n_chars"))).as(s"dup${dupN}_frac_micro"))
  }

  /** C4-style line-and-page cleaning (Raffel et al. 2020, §2.2) as a
    * reusable projection — shared verbatim by the batch query (p64),
    * the per-source funnel (p66), and the streaming ingest twin
    * ([[graft.streaming.StreamingJobs.c4Gate]]). Default thresholds
    * are the PUBLISHED rules: a line survives only if it has at least
    * FIVE words AND ends in a terminal punctuation mark; a page
    * survives only with no "{", no "lorem ipsum", at least THREE
    * sentence marks, and at least one surviving line. The thresholds
    * are parameters because real curation tunes them per corpus — a
    * caller that relaxes them owns documenting why (see the CLI
    * `curate` profile). The cleaned text is emitted as an md5 fingerprint
    * so correctness is certified on the actual filtered
    * reconstruction, not just counts. Zero-exchange single-scan
    * projection.
    */
  def c4PageGates(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil, minLineWords: Int = 5,
      requireTerminalPunct: Boolean = true,
      minSentences: Long = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    val endsTerminal = (l: Column) =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"")
    val kept = filter(lines, l =>
      size(split(trim(l), "\\s+")) >= minLineWords &&
        (if (requireTerminalPunct) endsTerminal(l) else lit(true)))
    val d = df
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_kept", size(kept).cast("long"))
      .withColumn("n_punct_lines",
        size(filter(lines, endsTerminal)).cast("long"))
      .withColumn("n_sentences",
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "[.!?]", ""))).cast("long"))
      .withColumn("has_brace",
        when(col(textCol).like("%{%"), 1L).otherwise(0L))
      .withColumn("has_lorem",
        when(lower(col(textCol)).like("%lorem ipsum%"), 1L).otherwise(0L))
      .withColumn("clean_fp",
        substring(md5(concat_ws("\n", kept)), 1, 16))
    d.select(
      (col(idCol) +: carry.map(col)) ++ Seq(
        col("n_lines"), col("n_kept"), col("n_punct_lines"),
        col("n_sentences"), col("has_brace"), col("has_lorem"),
        when(col("has_brace") === 0 && col("has_lorem") === 0 &&
          col("n_sentences") >= minSentences && col("n_kept") >= 1, 1L)
          .otherwise(0L).as("page_keep"),
        col("clean_fp")): _*)
  }

  /** Threshold bundle for the three-gate funnel. [[GateProfile.published]]
    * is the literature defaults (Rae §A1.1 / Raffel §2.2 — what p61 and
    * p64 pin); [[GateProfile.wordSalad]] is the documented corpus
    * profile for punctuation-free synthetic text (the same knobs the
    * CLI `curate` relaxes, and for the same reason: the published
    * thresholds admit ZERO documents of such a corpus, which would
    * degenerate any weak-label training on it). The gate EXPRESSIONS
    * are identical either way — only thresholds move.
    */
  final case class GateProfile(minWords: Long, minStopwords: Long,
      minLineWords: Int, requireTerminalPunct: Boolean, minSentences: Long)
  object GateProfile {
    val published: GateProfile = GateProfile(50, 2, 5,
      requireTerminalPunct = true, 3)
    val wordSalad: GateProfile = GateProfile(20, 1, 3,
      requireTerminalPunct = false, 0)
  }

  /** Per-document flags of the three-gate quality funnel — the shared
    * per-row stage of the batch per-source rollup (p66) and the
    * streaming ingest funnel
    * ([[graft.streaming.StreamingJobs.ingestFunnel]]): the composite
    * quality score (≥ 0.5), the Gopher rule set, and the C4 page
    * gates (published thresholds by default — see [[GateProfile]]),
    * composed as one zero-exchange
    * projection chain over a single scan. Output carries `score_keep`,
    * the Gopher `keep`, and the C4 `page_keep` per document plus any
    * `carry` columns.
    */
  def funnelFlags(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil,
      profile: GateProfile = GateProfile.published): DataFrame = {
    val gated = gopherGates(df, idCol, textCol, carry = textCol +: carry,
      minWords = profile.minWords, minStopwords = profile.minStopwords)
    val toks = TF.tokens(col(textCol))
    val scored = gated
      .withColumn("mean_len",
        aggregate(toks, lit(0L), (a, x) => a + length(x)).cast("double") /
          col("n_toks").cast("double"))
      .withColumn("punct_ratio",
        TF.punctCount(col(textCol)).cast("double") /
          length(col(textCol)).cast("double"))
      .withColumn("stop_ratio",
        TF.stopwordHits(toks, TF.stopwords.head._2).cast("double") /
          col("n_toks").cast("double"))
      .withColumn("score_keep",
        when(TF.qualityScore(col("n_toks"), col("mean_len"),
          col("punct_ratio"), col("stop_ratio")) >= 0.5, 1L).otherwise(0L))
    c4PageGates(scored, idCol, textCol,
      carry = carry ++ Seq("keep", "score_keep"),
      minLineWords = profile.minLineWords,
      requireTerminalPunct = profile.requireTerminalPunct,
      minSentences = profile.minSentences)
  }

  /** [[segmentDedup]]'s removal twin — the part of the C4 rule that
    * actually edits the corpus: every duplicated segment occurrence
    * (globally, in (doc, position) corpus order — within-document
    * repeats included) is dropped, and each document is rebuilt from
    * its surviving segments in position order. Returns per-doc counts
    * plus an md5 fingerprint of the reconstruction, so correctness is
    * certified on the rebuilt text itself.
    *
    * Scale shape: the global first-occurrence winner set is computed
    * over 8-byte hashes + (doc, pos) ids only; segment TEXT crosses an
    * exchange exactly twice (the winner join keyed on compact
    * (doc, pos), then the per-document rebuild), which is the floor
    * for an operator whose output is rewritten text.
    */
  def segmentScrub(df: DataFrame, idCol: String, textCol: String,
      segWords: Int): DataFrame = {
    val segArr = expr(
      s"""if(size(toks) < 1, array(),
         |  transform(sequence(1, cast(ceil(size(toks) / ${segWords}.0D) as int)),
         |    i -> concat_ws(' ', slice(toks, (i - 1) * $segWords + 1, $segWords))))"""
        .stripMargin)
    val segs = df
      .select(col(idCol).as("doc"), TF.tokens(col(textCol)).as("toks"))
      .select(col("doc"), posexplode(segArr).as(Seq("pos", "seg")))
    val winners = segs
      .select(col("doc"), col("pos"), TF.hash60(col("seg")).as("h"))
      .groupBy("h")
      .agg(min(struct(col("doc"), col("pos"))).as("f"))
      .select(col("f.doc").as("doc"), col("f.pos").as("pos"),
        lit(1L).as("kept"))
    segs.join(winners, Seq("doc", "pos"), "left")
      .groupBy("doc")
      .agg(
        count(lit(1)).as("n_segs"),
        coalesce(sum(col("kept")), lit(0L)).as("n_kept"),
        substring(md5(concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("kept") === 1L,
              struct(col("pos"), col("seg"))))),
            x => x.getField("seg")))), 1, 16).as("clean_fp"))
  }

  /** Benchmark decontamination: (train doc, benchmark doc) pairs that
    * share at least `minShared` distinct word k-shingles. Candidate
    * generation is an equi-join on the hashed shingle — the benchmark
    * side is tiny by construction (eval sets, not corpora), so Spark
    * broadcasts its posting list and the corpus streams through
    * unshuffled; the pair count then partial-aggregates map-side
    * before the only shuffle, on (train_doc, bench_doc).
    */
  def contaminationPairs(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int, minShared: Int): DataFrame = {
    def postings(df: DataFrame, as: String) =
      Dedup.shingled(df, idCol, textCol, k)
        .select(col("doc").as(as), explode(col("sh")).as("s"))
        .select(col(as), TF.hash60(col("s")).as("h"))
    postings(train, "train_doc")
      .join(broadcast(postings(bench, "bench_doc")), "h")
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Export the frozen DECONTAMINATION artifact: the benchmark/eval
    * set's k-gram hash posting index as one parquet relation
    * `postings/ (h, bench_doc)` under `path` — 8-byte hashes, never
    * eval text, so the artifact ships to every ingest site without
    * leaking the benchmark itself. The deployment half of
    * [[contaminationPairs]]: the batch detector recomputes the eval
    * postings per run; a production pipeline freezes them once per
    * benchmark release and gates every arriving batch against the
    * artifact ([[ingestContaminationCheck]]).
    */
  def exportEvalIndex(bench: DataFrame, idCol: String, textCol: String,
      k: Int, path: String): Unit = {
    // the shingle width rides with the artifact; the gate validates it
    // — a k mismatch yields hashes that never collide, silently
    // admitting verbatim benchmark copies
    val sess = bench.sparkSession
    import sess.implicits._
    Seq(Tuple1(k)).toDF("k")
      .write.mode("overwrite").parquet(s"$path/params")
    Dedup.shingled(bench, idCol, textCol, k)
      .select(col("doc").as("bench_doc"), explode(col("sh")).as("s"))
      .select(TF.hash60(col("s")).as("h"), col("bench_doc"))
      .write.mode("overwrite").parquet(s"$path/postings")
  }

  /** Contamination gate at ingest: arriving documents checked against
    * a frozen [[exportEvalIndex]] artifact — per document, the
    * worst-hit benchmark doc (max shared k-grams, ties to the
    * smallest bench id) and the `is_contaminated` verdict at
    * `minShared`. Clean documents surface with `n_shared = 0` so the
    * gate's output is a complete admission record, not just the
    * rejects.
    *
    * Scale shape: the eval posting index BROADCASTS (benchmark sets
    * are small by construction — the same shape the batch detector
    * uses), so the arriving batch is gated in its own scan: shingle
    * hashes join map-side, and the only exchanges are the two
    * per-doc aggregations over hit rows (proportional to
    * contamination, not corpus size).
    */
  def ingestContaminationCheck(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String, textCol: String,
      k: Int, minShared: Int): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val paramsP = new org.apache.hadoop.fs.Path(s"$path/params")
    if (paramsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(paramsP)) {
      val gk = spark.read.parquet(s"$path/params").collect()
        .head.getAs[Int]("k")
      require(gk == k, s"eval index at $path was exported with k=$gk;" +
        s" called with k=$k")
    }
    val post = broadcast(spark.read.parquet(s"$path/postings"))
    val docs = Dedup.shingled(batch, idCol, textCol, k)
    graft.core.Caching.withCached(docs) {
      val hits = docs.select(col("doc"), explode(col("sh")).as("s"))
        .select(col("doc"), TF.hash60(col("s")).as("h"))
        .join(post, "h")
        .groupBy(col("doc"), col("bench_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .groupBy(col("doc"))
        .agg(max(struct(col("n_shared"), (-col("bench_doc")).as("__tie"),
          col("bench_doc"))).as("b"))
        .select(col("doc"), col("b.n_shared").as("n_shared"),
          col("b.bench_doc").as("bench_doc"))
      docs.select(col("doc")).join(hits, Seq("doc"), "left")
        .select(col("doc").as(idCol),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          col("bench_doc").as("match_bench"),
          (coalesce(col("n_shared"), lit(0L)) >= minShared)
            .cast("long").as("is_contaminated"))
    }
  }

  /** Overlapping token-window chunking (RAG / context-window prep):
    * each document's tokens split into windows of `window` tokens every
    * `stride` tokens (stride < window ⇒ overlap), one output row per
    * chunk with its index, length, and content hash. All work is
    * per-row expression + explode — ZERO exchanges; at corpus scale the
    * chunk relation partitions exactly like its source scan. A doc
    * always yields at least one chunk (its tokens clamp the final
    * slice), so short docs survive.
    */
  def chunks(df: DataFrame, idCol: String, textCol: String, window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val toks = TF.tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
            lit(stride)),
          st => slice(col("toks"), st + 1, lit(window)))))
      .toDF("doc_id", "chunk_id", "chunk")
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        TF.hash60(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** CCNet-style unigram language-model scoring: fit an add-one-smoothed
    * unigram LM over the corpus (top-`vocabSize` tokens by frequency,
    * everything else one shared OOV mass) and score every document by
    * its total and mean negative log-likelihood — the perplexity filter
    * of a web-scale curation pipeline, self-trained here the way CCNet
    * trains on its own snapshot.
    *
    * Determinism: each token's cost is floored to integer micro-nats
    * BEFORE the per-doc sum, so the aggregate is an order-independent
    * integer sum any engine reproduces; the vocabulary cut is
    * (count DESC, token) — a total order. The only doubles are one
    * division and one `ln` per DISTINCT vocab count, never per row.
    *
    * Scale shape: one corpus-wide shuffle to count tokens; the cost
    * table is vocab-sized and broadcast (so is the single-row OOV
    * cost); the per-doc sum partial-aggregates map-side. Nothing
    * corpus-sized is ever collected or broadcast.
    */
  def unigramLogLoss(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val toks = tokenOccurrences(df, idCol, textCol)
    // Cache bracket: the occurrence stream feeds BOTH the vocabulary
    // count shuffle and the final scoring join — without the bracket
    // the tokenizer regex runs over the corpus twice.
    graft.core.Caching.withCached(toks)(
      unigramLogLossPlan(toks, idCol, vocabSize))
  }

  /** Lazy plan of [[unigramLogLoss]] over a prepared occurrence frame
    * (split out so Bench can fingerprint it — the public entry's cache
    * bracket returns an opaque LogicalRDD).
    */
  private[graft] def unigramLogLossPlan(toks: DataFrame, idCol: String,
      vocabSize: Int): DataFrame = {
    val (cost, oov) = unigramCostTables(toks, vocabSize)
    unigramScore(toks, Seq(col(idCol)), cost, oov)
  }

  /** One (doc, token) row per token occurrence — the shared front of
    * the unigram-LM family.
    */
  def tokenOccurrences(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    spread(df).select(col(idCol),
      explode(TF.tokens(col(textCol))).as("tok"))

  /** Fit the add-one-smoothed unigram cost tables over an occurrence
    * stream: the vocab-sized per-token cost table and the single-row
    * OOV cost, both in integer micro-nats. These are the "model" —
    * a streaming scorer broadcasts them as the static side of a
    * stream-static join ([[graft.streaming.StreamingJobs]]).
    */
  def unigramCostTables(toks: DataFrame,
      vocabSize: Int): (DataFrame, DataFrame) = {
    require(vocabSize > 0, "vocabSize must be positive")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum("c").as("t"))
    // smoothing denominator: total tokens + vocab slots + 1 OOV slot
    val denom = (col("t") + lit(vocabSize + 1)).cast("double")
    val cost = counts.orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .crossJoin(broadcast(totals))
      .select(col("tok"),
        floor(-log((col("c") + 1).cast("double") / denom) * 1e6)
          .cast("long").as("cost"))
    val oov = totals.select(
      floor(-log(lit(1.0) / denom) * 1e6).cast("long").as("oov_cost"))
    (cost, oov)
  }

  /** Score an occurrence stream against prepared cost tables: broadcast
    * lookup join, OOV fallback, integer per-group sum. `groupCols` is
    * the per-document key for the batch path and (window, doc) for the
    * streaming twin — the expressions are otherwise identical, which is
    * what pins stream ≡ batch.
    */
  def unigramScore(toks: DataFrame, groupCols: Seq[Column],
      cost: DataFrame, oov: DataFrame): DataFrame =
    toks.join(broadcast(cost), Seq("tok"), "left")
      .crossJoin(broadcast(oov))
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("cost"), col("oov_cost"))).as("nll_micro"))
      .withColumn("avg_nll_micro", expr("nll_micro div n_tokens"))

  /** Quality-weighted importance sampling: accept each document with
    * probability score/max(score), decided by a seedless portable hash
    * — the "resample toward high quality" step of a curation recipe
    * (the acceptance-sampling half of importance resampling; the
    * stratum-quota half is [[stratifiedSample]]). The comparison is
    * cross-multiplied integers (draw·maxScore < score·1e6), so no
    * engine ever rounds a probability.
    *
    * Scale shape: the corpus max is a single-row broadcast; everything
    * else is a per-row projection on the scan — zero corpus shuffles.
    */
  def importanceSample(scored: DataFrame, idCol: String,
      scoreMicroCol: String, salt: String = "imp"): DataFrame = {
    val maxScore = scored.agg(max(col(scoreMicroCol)).as("max_score"))
    scored.crossJoin(broadcast(maxScore))
      .withColumn("draw",
        pmod(TF.hash60(concat(lit(salt), col(idCol).cast("string"))),
          lit(1000000L)))
      .withColumn("accept",
        (col("draw") * col("max_score") <
          col(scoreMicroCol) * lit(1000000L)).cast("int"))
      .drop("max_score")
  }

  // ---------------------------------------------------- bigram LM

  /** One row per token POSITION with its predecessor — the shared
    * front of the bigram-LM family: `(idCol, prev, cur)` where `prev`
    * is null at position 1. The predecessor comes from the token array
    * itself (`element_at` at pos−1 before the explode), so extraction
    * is a zero-exchange projection — no per-document window/lag
    * shuffle just to sequence tokens.
    */
  // NOT spread: the bigram-model builds make ~10 short passes over
  // the (cached, ~1 MB) occurrence frame, each dominated by per-task
  // overhead — measured p92 3.4→5.6 s / p110 11.3→16.6 s WITH the
  // round-robin exchange (32 tasks of overhead per pass) vs without
  // (1 task per pass). The explode itself is cheap here; the heavy
  // single-task explodes are the token/gram cards above.
  def bigramOccurrences(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame =
    df.withColumn("__toks", TF.tokens(col(textCol)))
      .select(col(idCol) +: carry.map(col) ++: Seq(col("__toks"),
        posexplode(col("__toks")).as(Seq("pos0", "cur"))): _*)
      .select(col(idCol) +: carry.map(col) ++: Seq(
        when(col("pos0") >= 1, element_at(col("__toks"), col("pos0")))
          .as("prev"),
        col("cur")): _*)

  /** Interpolated bigram language-model scoring — the KenLM-shaped
    * step past [[unigramLogLoss]]: every document scored by
    * −ln(0.5·P(cur|prev) + 0.5·P(cur)) per token in integer
    * micro-nats, where P(cur|prev) is the raw bigram MLE (0 when the
    * bigram is unseen — the unigram term absorbs it, Jelinek-Mercer
    * interpolation with λ=0.5) and P(cur) is the add-one-smoothed
    * top-`vocabSize` unigram of p68. Position 1 of each document is
    * scored by the unigram alone. Self-trained on the corpus, like
    * the unigram query — the streaming move would broadcast the same
    * fitted tables.
    *
    * Scale shape: unigram/context/vocab tables are vocabulary-sized
    * broadcasts; the one corpus-scale exchange beyond the count
    * shuffles is the (prev, cur) bigram-table join, an equi-join on
    * two tokens (AQE handles the skewed-head keys). `minBigramCount`
    * prunes the bigram table for 100-TB corpora where distinct
    * bigrams dwarf the vocabulary — context totals stay UNPRUNED so
    * probabilities keep summing below 1.
    */
  def bigramLogLoss(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, minBigramCount: Long = 1L): DataFrame = {
    val occ = bigramOccurrences(df, idCol, textCol)
    graft.core.Caching.withCached(occ)(
      bigramLogLossPlan(occ, idCol, vocabSize, minBigramCount))
  }

  /** Lazy plan of [[bigramLogLoss]] over a prepared occurrence frame
    * (split out so Bench can fingerprint it).
    */
  private[graft] def bigramLogLossPlan(occ: DataFrame, idCol: String,
      vocabSize: Int, minBigramCount: Long): DataFrame =
    bigramScore(occ, Seq(col(idCol)),
      bigramModel(occ, vocabSize, minBigramCount))

  /** The fitted interpolated-bigram model: pruned bigram counts,
    * UNPRUNED context totals, top-`vocabSize` unigram counts and the
    * single-row token total. These are the "model" a streaming scorer
    * applies per micro-batch, exactly like [[unigramCostTables]].
    */
  final case class BigramModel(bg: DataFrame, ctx: DataFrame,
      vocab: DataFrame, tot: DataFrame, vocabSize: Int)

  /** Fit a [[BigramModel]] over a bigram-occurrence stream (see
    * [[bigramOccurrences]]). One bigram-count shuffle with map-side
    * combine, a context rollup over the (distinct-bigram-sized) count
    * table, and the p68-style unigram tables.
    */
  def bigramModel(occ: DataFrame, vocabSize: Int,
      minBigramCount: Long = 1L): BigramModel = {
    require(vocabSize > 0, "vocabSize must be positive")
    val bg = occ.filter(col("prev").isNotNull)
      .groupBy("prev", "cur").agg(count(lit(1)).as("cbi"))
    val ctx = bg.groupBy("prev").agg(sum("cbi").as("cctx"))
    val uni = occ.groupBy("cur").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").as("t"))
    val vocab = uni.orderBy(col("cu").desc, col("cur")).limit(vocabSize)
    BigramModel(bg.filter(col("cbi") >= minBigramCount), ctx, vocab, tot,
      vocabSize)
  }

  /** Score a bigram-occurrence stream against a fitted model: λ=0.5
    * Jelinek-Mercer mix of the bigram MLE and the add-one unigram in
    * integer micro-nats, position 1 (null `prev`) unigram-only.
    * `groupCols` is the per-document key in batch and (window, doc)
    * in the streaming twin — identical expressions either way.
    */
  def bigramScore(occ: DataFrame, groupCols: Seq[Column],
      model: BigramModel): DataFrame = {
    val denom = (col("t") + lit(model.vocabSize + 1)).cast("double")
    val puni = (coalesce(col("cu"), lit(0L)) + 1).cast("double") / denom
    val pbi = coalesce(
      col("cbi").cast("double") / col("cctx").cast("double"), lit(0.0))
    occ
      .join(broadcast(model.vocab), Seq("cur"), "left")
      .join(model.bg, Seq("prev", "cur"), "left")
      .join(broadcast(model.ctx), Seq("prev"), "left")
      .crossJoin(broadcast(model.tot))
      .withColumn("cost",
        when(col("prev").isNull, floor(-log(puni) * 1e6))
          .otherwise(
            floor(-log(lit(0.5) * pbi + lit(0.5) * puni) * 1e6))
          .cast("long"))
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_tokens"), sum(col("cost")).as("nll_micro"))
      .withColumn("avg_nll_micro", expr("nll_micro div n_tokens"))
  }

  /** The fitted interpolated Kneser-Ney bigram model (Kneser & Ney
    * 1995; Chen & Goodman 1998 §2.7). Beyond [[BigramModel]]'s count
    * tables it carries the KN-specific statistics:
    *   - `ctx` additionally holds `n1fwd(prev)` = the number of
    *     DISTINCT successors of `prev` (the discount mass fan-out),
    *   - `cont` holds `n1p(cur)` = the number of DISTINCT predecessors
    *     of `cur` (the continuation count — "how many contexts has
    *     this word completed", the statistic that makes KN beat raw
    *     interpolation on words like "Francisco" that are frequent but
    *     only ever follow "San"),
    *   - `nbi` is the single-row total number of distinct bigram
    *     types (the continuation normalizer).
    * All tables are vocabulary- or distinct-bigram-sized; nothing is
    * corpus-scale.
    */
  final case class KnBigramModel(bg: DataFrame, ctx: DataFrame,
      cont: DataFrame, nbi: DataFrame, vocabSize: Int)

  /** Fit a [[KnBigramModel]] over a bigram-occurrence frame
    * ([[bigramOccurrences]]): one bigram-count shuffle with map-side
    * combine, then three rollups over the distinct-bigram-sized count
    * table (context totals + successor fan-out, continuation counts,
    * type total) — the corpus is touched once. As in [[bigramModel]],
    * `minBigramCount` prunes only the bigram table for corpora whose
    * distinct-bigram count dwarfs the vocabulary; the context,
    * continuation, and type-total statistics are computed UNPRUNED so
    * discounted probabilities keep summing below 1.
    */
  def knBigramModel(occ: DataFrame, vocabSize: Int,
      minBigramCount: Long = 1L): KnBigramModel = {
    require(vocabSize > 0, "vocabSize must be positive")
    val bg = occ.filter(col("prev").isNotNull)
      .groupBy("prev", "cur").agg(count(lit(1)).as("cbi"))
    val ctx = bg.groupBy("prev")
      .agg(sum("cbi").as("cctx"), count(lit(1)).as("n1fwd"))
    // continuation counts live on the top-`vocabSize` unigram vocab
    // (ranked like bigramModel's, so the two models share one OOV
    // frontier); an OOV `cur` coalesces to n1p=0 downstream
    val uni = occ.groupBy("cur").agg(count(lit(1)).as("cu"))
    val vocab = uni.orderBy(col("cu").desc, col("cur")).limit(vocabSize)
    val cont = vocab.join(
        bg.groupBy("cur").agg(count(lit(1)).as("n1p")), Seq("cur"), "left")
      .select(col("cur"), coalesce(col("n1p"), lit(0L)).as("n1p"))
    val nbi = bg.agg(count(lit(1)).as("nbi"))
    KnBigramModel(bg.filter(col("cbi") >= minBigramCount), ctx, cont, nbi,
      vocabSize)
  }

  /** Absolute discount for [[knScore]], the Chen & Goodman fixed
    * D = 0.75 (their "D" tuned on held-out data lands near 0.75 across
    * corpora; a fixed literal keeps every engine bit-reproducible).
    */
  val KnDiscount = 0.75

  /** Score a bigram-occurrence frame against a fitted
    * [[KnBigramModel]] in integer micro-nats per token:
    *
    *   P(cur|prev) = max(c(prev,cur) − D, 0)/c(prev)
    *               + D·N1fwd(prev)/c(prev) · Pcont(cur)
    *   Pcont(cur)  = (N1p(cur) + 1)/(Nbi + V + 1)   (add-one on the
    *                 continuation distribution, so OOV curs and
    *                 position-1 tokens stay finite)
    *
    * Position 1 (`prev` null) and unseen contexts score by the
    * continuation distribution alone — the standard KN back-off for a
    * zero-count context. Same shuffle shape as [[bigramScore]]: the
    * (prev, cur) join is the one corpus-scale exchange; ctx/cont/nbi
    * ride as broadcasts. `groupCols` is the per-document key in batch
    * and (window, doc) in the streaming twin.
    */
  def knScore(occ: DataFrame, groupCols: Seq[Column],
      model: KnBigramModel): DataFrame = {
    val d = lit(KnDiscount)
    val pcont = (coalesce(col("n1p"), lit(0L)) + 1).cast("double") /
      (col("nbi") + lit(model.vocabSize + 1)).cast("double")
    val cctxD = col("cctx").cast("double")
    val pkn = greatest(coalesce(col("cbi"), lit(0L)).cast("double") - d,
        lit(0.0)) / cctxD +
      d * col("n1fwd").cast("double") / cctxD * pcont
    occ
      .join(broadcast(model.cont), Seq("cur"), "left")
      .join(model.bg, Seq("prev", "cur"), "left")
      .join(broadcast(model.ctx), Seq("prev"), "left")
      .crossJoin(broadcast(model.nbi))
      .withColumn("cost",
        when(col("prev").isNull || col("cctx").isNull,
            floor(-log(pcont) * 1e6))
          .otherwise(floor(-log(pkn) * 1e6))
          .cast("long"))
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_tokens"), sum(col("cost")).as("nll_micro"))
      .withColumn("avg_nll_micro", expr("nll_micro div n_tokens"))
  }

  /** Kneser-Ney bigram perplexity per document — the refinement step
    * past [[bigramLogLoss]]'s Jelinek-Mercer mix. Occurrence frame
    * cache-bracketed like its siblings so the corpus tokenizes once
    * across the model fit and the scoring pass.
    */
  def knBigramLogLoss(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, minBigramCount: Long = 1L): DataFrame = {
    val occ = bigramOccurrences(df, idCol, textCol)
    graft.core.Caching.withCached(occ)(
      knBigramLogLossPlan(occ, idCol, vocabSize, minBigramCount))
  }

  /** Lazy plan of [[knBigramLogLoss]] over a prepared occurrence frame
    * (split out so Bench can fingerprint it).
    */
  private[graft] def knBigramLogLossPlan(occ: DataFrame, idCol: String,
      vocabSize: Int, minBigramCount: Long): DataFrame =
    knScore(occ, Seq(col(idCol)),
      knBigramModel(occ, vocabSize, minBigramCount))

  // ------------------------------------------------- quality classifier

  /** Per-document 0/1 training label from the three-gate quality
    * funnel: a document is a positive example iff it passes the
    * composite score, the Gopher rules, AND the C4 page gates — the
    * same heuristic-gates-as-weak-labels move CCNet (Wenzek et al.
    * 2020) and the LLaMA corpus recipe use to bootstrap a learned
    * quality classifier from rule output. Zero-exchange projection
    * chain over one scan ([[funnelFlags]]).
    */
  def funnelLabels(df: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil,
      profile: GateProfile = GateProfile.published): DataFrame =
    funnelFlags(spread(df), idCol, textCol, carry = textCol +: carry,
      profile)
      .select(col(idCol) +: carry.map(col) ++: Seq(col(textCol),
        (col("score_keep") * col("keep") * col("page_keep")).as("cls")): _*)

  /** Fit a multinomial Naive Bayes text classifier over a labeled
    * occurrence stream (`idCol, tok, cls` with cls ∈ {0,1}): returns
    * the vocab-sized per-token log-likelihood-ratio table (integer
    * micro-nats, add-one smoothing over a top-`vocabSize` vocabulary
    * plus one OOV slot) and a single-row (oov_llr, prior_llr) table.
    * NB is the closed-form sibling of the fastText/logistic quality
    * classifiers the CCNet-style pipelines train: fitting is pure
    * counting, so it distributes as ONE token-count shuffle with
    * map-side combine and needs no gradient iterations.
    *
    * Scale shape: one groupBy on 8-byte-ish token keys; the vocab
    * table is `vocabSize` rows (broadcast side of every scorer);
    * class totals and the prior are single-row aggregates. At 100 TB
    * the classifier would be trained on a SAMPLE of labeled docs
    * (the caller picks the sample — [[stratifiedSample]]) and scored
    * over the full corpus by broadcast join, exactly like
    * [[unigramCostTables]]/[[unigramScore]].
    */
  def nbCostTables(labeledToks: DataFrame, labels: DataFrame,
      vocabSize: Int): (DataFrame, DataFrame) = {
    require(vocabSize > 0, "vocabSize must be positive")
    val counts = labeledToks.groupBy("tok").agg(
      sum(col("cls")).as("c1"),
      (count(lit(1)) - sum(col("cls"))).as("c0"),
      count(lit(1)).as("c"))
    val totals = counts.agg(sum("c1").as("t1"), sum("c0").as("t0"))
    val d1 = (col("t1") + lit(vocabSize + 1)).cast("double")
    val d0 = (col("t0") + lit(vocabSize + 1)).cast("double")
    val llr = counts.orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .crossJoin(broadcast(totals))
      .select(col("tok"),
        floor((log((col("c1") + 1).cast("double") / d1) -
          log((col("c0") + 1).cast("double") / d0)) * 1e6)
          .cast("long").as("llr"))
    val oovAndPrior = totals.crossJoin(
      labels.agg(sum(col("cls")).as("n1"),
        (count(lit(1)) - sum(col("cls"))).as("n0")))
      .select(
        floor((log(lit(1.0) / d1) - log(lit(1.0) / d0)) * 1e6)
          .cast("long").as("oov_llr"),
        floor(log((col("n1") + 1).cast("double") /
          (col("n0") + 1).cast("double")) * 1e6)
          .cast("long").as("prior_llr"))
    (llr, oovAndPrior)
  }

  /** Score an occurrence stream against a fitted NB model: broadcast
    * LLR lookup, OOV fallback, integer per-group sum plus the class
    * prior; `pred` = 1 iff the posterior log-odds are positive.
    * `groupCols` is the per-document key for the batch path and
    * (window, doc) for the streaming twin — identical expressions
    * either way, which is what pins stream ≡ batch.
    */
  def nbScore(toks: DataFrame, groupCols: Seq[Column], llr: DataFrame,
      oovAndPrior: DataFrame): DataFrame =
    toks.join(broadcast(llr), Seq("tok"), "left")
      .crossJoin(broadcast(oovAndPrior))
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_tokens"),
        (first(col("prior_llr")) +
          sum(coalesce(col("llr"), col("oov_llr")))).as("llr_micro"))
      .withColumn("pred", when(col("llr_micro") > 0, 1L).otherwise(0L))

  /** The whole classifier lifecycle as one plan: label every document
    * by the funnel gates, fit NB on the labeled corpus, score the same
    * corpus back, and report each document's gate label next to the
    * model's verdict — i.e. the training-set confusion table a real
    * curation run inspects before trusting the classifier on unlabeled
    * data. Output: (doc_id, cls, n_tokens, llr_micro, pred).
    *
    * Scale shape: the token-occurrence stream is cache-bracketed (it
    * feeds the count shuffle and the scoring join); everything else is
    * vocab-sized or single-row broadcasts.
    */
  def nbClassifier(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, carry: Seq[String] = Nil,
      profile: GateProfile = GateProfile.published): DataFrame = {
    val labels = funnelLabels(df, idCol, textCol, carry, profile)
    val toks = labels.select(col(idCol) +: carry.map(col) ++:
      Seq(col("cls"), explode(TF.tokens(col(textCol))).as("tok")): _*)
    graft.core.Caching.withCached(toks)(nbClassifierPlan(toks, idCol,
      vocabSize, carry))
  }

  // ------------------------------------------- DSIR data selection

  /** Hashed n-gram feature buckets of one document — the DSIR feature
    * map (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): every unigram and every adjacent bigram
    * hashed into `buckets` cells. Pure zero-exchange column ops: the
    * bigram list is a `zip_with` over two slices of the token array
    * (no per-document window/lag shuffle), each feature one md5 pass
    * ([[TF.hash60]] `% buckets`).
    */
  private[graft] def dsirBuckets(textCol: Column, buckets: Int): Column = {
    val toks = TF.tokens(textCol)
    val uni = transform(toks, t => TF.hash60(t) % buckets)
    val bi = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => TF.hash60(concat(a, lit(" "), b)) % buckets)
    concat(uni, bi)
  }

  /** The fitted DSIR importance model: one row per OBSERVED bucket
    * with the add-one-smoothed log-ratio of the target (funnel-pass)
    * vs raw (whole corpus) hashed-n-gram distributions in integer
    * micro-nats. At most `buckets` rows — a broadcast however large
    * the corpus. Fit from a labeled feature-occurrence frame
    * (`bucket`, `cls` ∈ {0,1}): target counts are `sum(cls)`, raw
    * counts `count(*)`, so the corpus is touched once and the model
    * drops out of the same B-bounded count shuffle.
    */
  def dsirLlrTable(labeledFeats: DataFrame, buckets: Int): DataFrame = {
    val cnt = labeledFeats.groupBy("bucket")
      .agg(sum(col("cls")).as("ct"), count(lit(1)).as("cr"))
    val tot = cnt.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    cnt.crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor((log((col("ct") + 1).cast("double") /
            (col("tt") + lit(buckets)).cast("double")) -
          log((col("cr") + 1).cast("double") /
            (col("tr") + lit(buckets)).cast("double"))) * 1e6)
          .cast("long").as("llr_micro"))
  }

  /** Per-document DSIR log importance weight: Σ llr(bucket) over the
    * document's feature occurrences, in micro-nats. The bucket join
    * is against the ≤`buckets`-row broadcast; the per-document rollup
    * partial-aggregates map-side, so the one shuffle carries a row
    * per (partition, doc). A bucket absent from the model (possible
    * only for data the model was not fit on, e.g. a stream) scores 0.
    */
  def dsirScore(featOcc: DataFrame, groupCols: Seq[Column],
      llr: DataFrame): DataFrame =
    featOcc.join(broadcast(llr), Seq("bucket"), "left")
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("llr_micro"), lit(0L))).as("logw_micro"))

  /** Gumbel top-k resampling over scored documents — sampling k docs
    * without replacement with probability ∝ exp(logw), the DSIR
    * selection step, made deterministic: the "noise" is
    * g = −ln(−ln(u)) with u drawn from the seedless portable-hash
    * draw of [[importanceSample]] (`hash60(salt‖id) mod 1e6`, shifted
    * half a step off zero so u ∈ (0,1)). Top-k by (logw + g) is a
    * `TakeOrderedAndProject` — per-partition heaps, no global sort.
    */
  def dsirResample(scored: DataFrame, idCol: String, k: Int,
      salt: String = "dsir"): DataFrame = {
    val u = (pmod(TF.hash60(concat(lit(salt), col(idCol).cast("string"))),
      lit(1000000L)).cast("double") + 0.5) / 1e6
    val ranked = scored
      .withColumn("gumbel_micro", floor(-log(-log(u)) * 1e6).cast("long"))
      .withColumn("key_micro", col("logw_micro") + col("gumbel_micro"))
      .orderBy(col("key_micro").desc, col(idCol)).limit(k)
    ranked.withColumn("rank", row_number().over(
        Window.orderBy(col("key_micro").desc, col(idCol))).cast("long"))
      .select(col("rank"), col(idCol), col("n_feats"), col("logw_micro"),
        col("key_micro"))
  }

  /** End-to-end DSIR: funnel-pass documents are the target-domain
    * proxy (the same heuristic-gates-as-weak-supervision move as the
    * NB classifier), the whole corpus is the raw pool; fit the
    * hashed-n-gram importance model, score every document, Gumbel
    * top-k resample. Feature occurrences are cache-bracketed so the
    * corpus tokenizes once across the fit and the scoring pass.
    */
  def dsir(df: DataFrame, idCol: String, textCol: String, buckets: Int,
      k: Int, salt: String = "dsir",
      profile: GateProfile = GateProfile.published): DataFrame = {
    val labels = funnelLabels(df, idCol, textCol, profile = profile)
    val feats = labels.select(col(idCol), col("cls"),
      explode(dsirBuckets(col(textCol), buckets)).as("bucket"))
    graft.core.Caching.withCached(feats)(
      dsirPlan(feats, idCol, buckets, k, salt))
  }

  /** Lazy plan of [[dsir]] over a prepared labeled feature-occurrence
    * frame (split out so Bench can fingerprint it).
    */
  private[graft] def dsirPlan(feats: DataFrame, idCol: String,
      buckets: Int, k: Int, salt: String = "dsir"): DataFrame =
    dsirResample(
      dsirScore(feats, Seq(col(idCol)), dsirLlrTable(feats, buckets)),
      idCol, k, salt)

  // --------------------------------------- domain mixture weights

  /** Excess-loss domain reweighting — a one-shot static approximation
    * of DoReMi's group-DRO loop (Xie et al. 2023, "DoReMi"): domains
    * where the reference LM's per-token loss EXCEEDS the
    * best-compressed domain get upweighted proportionally to
    * exp(excess), starting from their token-share baseline. Here the
    * reference LM is the self-trained Kneser-Ney bigram
    * ([[knBigramModel]]); DoReMi proper iterates a trained proxy, but
    * the fixed-point shape — baseline × exp(excess loss), normalized
    * — is the paper's update rule applied once.
    *
    * Determinism across engines: per-domain losses are integer
    * micro-nat sums; the only double steps are one division
    * (token share), one exp, one multiply — each a single IEEE op on
    * identical inputs — floored to integer BEFORE the cross-domain
    * normalization, which is then exact integer arithmetic
    * (`w·1e6 div Σw`). No cross-row double sum anywhere.
    *
    * Scale shape: the corpus-side work is [[knScore]] grouped by
    * domain (partial-aggregated — the shuffle carries one row per
    * (partition, domain)); everything after is domain-count-sized
    * single-row broadcasts.
    */
  def domainMixWeights(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, vocabSize: Int): DataFrame = {
    val occ = bigramOccurrences(df, idCol, textCol,
      carry = Seq(domainCol))
    val nDocs = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"))
    graft.core.Caching.withCached(occ)(
      domainMixWeightsPlan(occ, nDocs, domainCol, vocabSize))
  }

  /** Lazy plan of [[domainMixWeights]] over a prepared occurrence
    * frame (split out so Bench can fingerprint it).
    */
  private[graft] def domainMixWeightsPlan(occ: DataFrame, nDocs: DataFrame,
      domainCol: String, vocabSize: Int): DataFrame = {
    val sc = knScore(occ, Seq(col(domainCol)),
      knBigramModel(occ, vocabSize))
    val mn = sc.agg(min(col("avg_nll_micro")).as("mn"))
    val tot = sc.agg(sum(col("n_tokens")).as("ntot"))
    val w = sc.crossJoin(broadcast(mn)).crossJoin(broadcast(tot))
      .withColumn("excess_micro", col("avg_nll_micro") - col("mn"))
      .withColumn("w_int",
        floor((col("n_tokens") / col("ntot").cast("double")) *
          exp(col("excess_micro") / lit(1e6)) * 1e6).cast("long"))
    val sw = w.agg(sum(col("w_int")).as("s"))
    w.crossJoin(broadcast(sw))
      .join(broadcast(nDocs), Seq(domainCol))
      .select(col(domainCol), col("n_docs"), col("n_tokens"),
        col("avg_nll_micro"), col("excess_micro"),
        expr("(w_int * 1000000) div s").as("weight_micro"))
  }

  /** One ITERATION of the DoReMi update on top of
    * [[domainMixWeights]]: the round-1 weights become per-domain
    * acceptance rates (weight/share capped at 1 — hard domains keep
    * everything, easy domains thin deterministically by the portable
    * hash draw), the reference LM refits on the resampled corpus,
    * and the round-2 weights are reported NEXT TO round 1 — the
    * direction of the paper's fixed point made visible
    * (excess₂ ≤ excess₁ for the upweighted domains as their mass
    * grows). All rate arithmetic is exact integer micro; the
    * resample is the seedless portable-hash acceptance, so any
    * engine draws the identical corpus.
    *
    * Scale shape: two [[domainMixWeights]] passes (each one
    * partial-aggregated corpus exchange) plus a broadcast rate join;
    * the resample never shuffles.
    */
  def domainMixIterate(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, vocabSize: Int,
      salt: String = "dr2"): DataFrame = {
    // r1 (per-domain, a handful of rows) feeds FOUR lazy consumers —
    // its own total, the rate table, the round-2 corpus filter, and
    // the final join; composed lazily the whole round-1 LM pipeline
    // re-evaluated once per consumer (measured 11s / 219 stages at
    // sf0.1). Pin r1 and the rate table once; values unchanged.
    val r1 = domainMixWeights(df, idCol, textCol, domainCol, vocabSize)
      .localCheckpoint()
    val rates = r1.crossJoin(broadcast(r1.agg(sum("n_tokens").as("ntot"))))
      .withColumn("share_micro", expr("(n_tokens * 1000000) div ntot"))
      .withColumn("rate_micro",
        least(lit(1000000L),
          expr("(weight_micro * 1000000) div share_micro")))
      .select(col(domainCol), col("weight_micro").as("w1_micro"),
        col("excess_micro").as("excess1_micro"), col("rate_micro"))
      .localCheckpoint()
    val kept = df.join(broadcast(rates.select(col(domainCol),
        col("rate_micro"))), Seq(domainCol))
      .filter(pmod(TF.hash60(concat(lit(salt), col(idCol).cast("string"))),
        lit(1000000L)) < col("rate_micro"))
      .drop("rate_micro")
    val r2 = domainMixWeights(kept, idCol, textCol, domainCol, vocabSize)
    rates.join(r2.select(col(domainCol), col("n_docs").as("n_docs_kept"),
        col("weight_micro").as("w2_micro"),
        col("excess_micro").as("excess2_micro")),
        Seq(domainCol), "left")
      .select(col(domainCol), col("w1_micro"), col("excess1_micro"),
        col("rate_micro"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        col("w2_micro"), col("excess2_micro"))
  }

  /** Overlapping-window document chunking — the RAG-ingestion /
    * long-document splitting primitive: each document's token stream
    * cut into `chunkToks`-token windows starting every `strideToks`
    * tokens (stride < chunk ⇒ overlap, the retrieval-context hedge
    * against boundary-straddling facts). The window-start rule emits
    * starts 0, s, 2s, … up to the SMALLEST multiple of s with
    * start + chunkToks ≥ n — full coverage, never a redundant tail
    * window already contained in its predecessor. One row per chunk
    * with provenance (doc, sequence number, start token, length).
    *
    * Scale shape: a zero-exchange per-row projection (tokenize,
    * integer window count, explode, slice) — no shuffle at any
    * corpus size, and the natural stateless streaming twin. Empty
    * documents yield no chunks.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkToks: Int, strideToks: Int): DataFrame =
    chunkDocumentsToks(df, idCol, textCol, chunkToks, strideToks)
      .withColumn("chunk_text", concat_ws(" ", col("chunk_toks")))
      .drop("chunk_toks")

  /** [[chunkDocuments]] emitting the chunk as its TOKEN ARRAY
    * (`chunk_toks`) instead of re-joined text — for consumers that
    * immediately re-tokenize (the chunk BM25 index): `TF.tokens` is a
    * whitespace split, so the array and the joined string are
    * interconvertible losslessly, and handing the array over skips a
    * concat_ws + split round trip per chunk. [[chunkDocuments]] is
    * this plus the join, so both shapes share one window rule.
    */
  def chunkDocumentsToks(df: DataFrame, idCol: String, textCol: String,
      chunkToks: Int, strideToks: Int): DataFrame = {
    require(chunkToks > 0 && strideToks > 0 && strideToks <= chunkToks,
      "need 0 < strideToks <= chunkToks")
    val toks = TF.tokens(col(textCol))
    val n = size(toks).cast("long")
    val nW = when(n <= chunkToks, lit(1L))
      .otherwise(call_function("div",
        n - chunkToks + strideToks - 1, lit(strideToks.toLong)) + 1L)
    df.select(col(idCol), toks.as("__toks"), n.as("__n"), nW.as("__w"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0L), col("__w") - 1L)).as("chunk_seq"))
      .select(col(idCol), col("chunk_seq"),
        (col("chunk_seq") * strideToks).as("start_tok"),
        least(lit(chunkToks.toLong),
          col("__n") - col("chunk_seq") * strideToks)
          .as("n_chunk_toks"),
        slice(col("__toks"),
          (col("chunk_seq") * strideToks + 1L).cast("int"),
          lit(chunkToks)).as("chunk_toks"))
  }

  /** Release diff card — the change log between two corpus releases
    * (the FineWeb/Dolma version-bump artifact): per (source, status)
    * with status ∈ {added, removed, modified, unchanged}, document
    * counts and token mass on each side. "Modified" means the same
    * document id with a different content fingerprint
    * ([[TF.fingerprint]] of the token stream — whitespace-insensitive
    * content identity, the dedup family's key). The card a release
    * reviewer reads before publishing: a silent mass-removal, a
    * source whose documents all mutated, or a token-count explosion
    * shows up as one row.
    *
    * Scale shape: each side reduces to (id, fingerprint, n_toks,
    * group) map-side — text never survives past the projection — then
    * ONE id-keyed full-outer sort-merge join and a partially
    * aggregated rollup. No state, no windows; 100 TB a side is two
    * scans and one co-keyed shuffle.
    */
  def releaseDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String, groupCol: String): DataFrame = {
    def side(df: DataFrame, sfx: String): DataFrame =
      df.select(col(idCol).as("id"),
        TF.fingerprint(TF.tokens(col(textCol))).as(s"fp$sfx"),
        size(TF.tokens(col(textCol))).cast("long").as(s"nt$sfx"),
        col(groupCol).as(s"g$sfx"))
    side(oldDf, "_o")
      .join(side(newDf, "_n"), Seq("id"), "full_outer")
      .select(
        coalesce(col("g_n"), col("g_o")).as("grp"),
        when(col("fp_o").isNull, "added")
          .when(col("fp_n").isNull, "removed")
          .when(col("fp_o") =!= col("fp_n"), "modified")
          .otherwise("unchanged").as("status"),
        coalesce(col("nt_o"), lit(0L)).as("nt_o"),
        coalesce(col("nt_n"), lit(0L)).as("nt_n"))
      .groupBy(col("grp"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt_o")).as("n_toks_old"),
        sum(col("nt_n")).as("n_toks_new"))
      .select(col("grp").as(groupCol), col("status"), col("n_docs"),
        col("n_toks_old"), col("n_toks_new"),
        (col("n_toks_new") - col("n_toks_old")).as("tok_delta"))
  }

  // ------------------------------------------------- corpus statistics

  /** Least-squares Zipf fit over the top-`topK` vocabulary:
    * slope/intercept/R² of ln(freq) vs ln(rank) — the dataset-card
    * statistic that flags synthetic or templated corpora (natural
    * language sits near slope −1). Determinism: log points floor to
    * MILLI-nat integers first (bounds keep n·Σxy < 2⁶³), all sums
    * are exact int64, and the three divisions are single IEEE double
    * ops on identical integers — no cross-row double accumulation.
    * Scale shape: one token-count shuffle with map-side combine, then
    * a TakeOrderedAndProject top-k — the regression sums run over
    * `topK` rows, never the vocabulary.
    */
  def zipfFit(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val occ = spread(df).select(explode(TF.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    // top-k via TakeOrderedAndProject (per-partition heaps), THEN rank
    // the <=topK survivors — a global row_number window here would
    // sort the ENTIRE distinct vocabulary on one partition
    // (the [[pmiCollocationsPlan]] pattern).
    val ranked = occ
      .orderBy(col("n").desc, col("tok")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      .select(
        floor(log(col("rank").cast("double")) * 1e3).cast("long").as("x"),
        floor(log(col("n").cast("double")) * 1e3).cast("long").as("y"))
    val sums = ranked.agg(count(lit(1)).as("np"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num = (col("np") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("np") * col("sxx") - col("sx") * col("sx")).cast("double")
    val dyy = (col("np") * col("syy") - col("sy") * col("sy")).cast("double")
    val xbar = col("sx").cast("double") / 1000.0 / col("np")
    val ybar = col("sy").cast("double") / 1000.0 / col("np")
    sums.select(col("np").as("n_points"),
      floor(num / den * 1e6).cast("long").as("slope_micro"),
      floor((ybar - num / den * xbar) * 1e6).cast("long")
        .as("intercept_micro"),
      floor(num * num / (den * dyy) * 1e6).cast("long").as("r2_micro"))
  }

  // ------------------------------------------- curriculum ordering

  /** Deterministic curriculum training order (Bengio et al. 2009:
    * present easy examples first): every document globally numbered
    * by ascending model loss — the self-trained Kneser-Ney perplexity
    * ([[knBigramLogLoss]]) as the difficulty signal — and banded into
    * `nPhases` equal phases by integer rank arithmetic
    * (`seq·nPhases div N`), not quantile interpolation, so any engine
    * reproduces the same bands bit-for-bit. Equal-loss ties break by
    * the seedless portable-hash draw (a deterministic shuffle within
    * the tie class), then id.
    *
    * Scale shape: the global numbering is
    * [[graft.operators.AssignIds]]'s two-phase range-partition +
    * zipWithIndex — no single-partition window; N arrives as an
    * in-plan single-row broadcast.
    */
  def curriculumOrder(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, nPhases: Int, salt: String = "curr"): DataFrame = {
    require(nPhases >= 1, "nPhases must be positive")
    val scored = knBigramLogLoss(df, idCol, textCol, vocabSize)
      .withColumn("draw",
        pmod(TF.hash60(concat(lit(salt), col(idCol).cast("string"))),
          lit(1000000L)))
    val seqd = graft.operators.AssignIds.assign(scored,
      Seq("avg_nll_micro", "draw", idCol), "seq", start = 0L)
    val n = seqd.agg(count(lit(1)).as("n"))
    seqd.crossJoin(broadcast(n))
      .select(col(idCol), expr(s"(seq * $nPhases) div n").as("phase"),
        col("seq"), col("n_tokens"), col("avg_nll_micro"))
  }

  /** Lazy plan of [[nbClassifier]] over a prepared labeled-occurrence
    * frame (split out so Bench can fingerprint it — the cache bracket
    * returns an opaque LogicalRDD).
    */
  private[graft] def nbClassifierPlan(labeledToks: DataFrame,
      idCol: String, vocabSize: Int, carry: Seq[String] = Nil): DataFrame = {
    val labels = labeledToks.groupBy(col(idCol))
      .agg(max(col("cls")).as("cls"))
    val (llr, oovPrior) = nbCostTables(labeledToks, labels, vocabSize)
    // cls (and any carry column) rides the scoring groupBy key — all
    // functionally dependent on the doc id — so the verdict lands next
    // to the gate label with no join back
    nbScore(labeledToks,
        col(idCol) +: carry.map(col) :+ col("cls"), llr, oovPrior)
      .select(col(idCol) +: carry.map(col) ++: Seq(col("cls"),
        col("n_tokens"), col("llr_micro"), col("pred")): _*)
  }

  // --------------------------------------------- classifier evaluation

  /** Exact ROC-AUC of a scored, binary-labeled table via the
    * Mann-Whitney U statistic — the number a curation run reports to
    * certify that a quality scorer actually separates good from bad
    * documents before its threshold gates a 100-TB corpus.
    *
    * AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻); with integer
    * scores this is exact rational arithmetic: group rows by score
    * (one shuffle, distinct-score-sized output), order the groups
    * once, and accumulate U₂ = Σ_s n⁺_s · (2·cumNeg(<s) + n⁻_s) —
    * twice the U statistic, an exact int64. The output is one row
    * (`auc_micro = U₂·10⁶ div 2n⁺n⁻`); the only ordered window runs
    * over the DISTINCT SCORES, not the corpus, so at 100 TB the sort
    * input is bounded by score cardinality (≤10⁶ for micro-floored
    * scores in [0, 1]).
    */
  def rocAuc(scored: DataFrame, scoreCol: String,
      clsCol: String): DataFrame = {
    val byScore = scored.groupBy(col(scoreCol).as("s"))
      .agg(sum(col(clsCol)).as("np"),
        (count(lit(1)) - sum(col(clsCol))).as("nn"))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cum_nn", sum(col("nn")).over(w) - col("nn"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (col("cum_nn") * 2 + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        expr("(u2 * 1000000) div (2 * n_pos * n_neg)").as("auc_micro"))
  }

  /** Exact average precision (the PR-curve area) — the
    * class-imbalance-honest companion to [[rocAuc]]: ROC-AUC stays
    * optimistic when negatives dominate (a quality gate's usual
    * regime, where most of a raw crawl is negative), while AP scores
    * the ranking by the precision actually seen at each recall step.
    *
    * Definition (the step-wise sum sklearn uses, ties as one block):
    * over score groups in DESCENDING order,
    * `AP = Σ_g (tp_g / P) · (cumTP_g / cum_g)` — each group
    * contributes its recall increment times the precision at its
    * threshold. With integer scores every term is rational; each is
    * floored to micro by ONE integer division
    * (`tp·cumTP·10⁶ div (cum·P)`, all factors non-negative int64)
    * BEFORE the cross-group sum, the house floor-then-sum rule, so
    * any engine replaying the groups gets the identical integer.
    * `prevalence_micro` (= random-classifier AP) rides along as the
    * baseline the card is read against. int64 bound: the term
    * numerator is ≤ P·N·10⁶ — fine to ~3·10⁶ positives at corpus
    * row counts; beyond that, rescale scores upstream.
    *
    * Scale shape: identical to [[rocAuc]] — one map-side-combined
    * groupBy on the score, then the ordered window runs over DISTINCT
    * SCORES only (bounded by score resolution, not corpus size), and
    * the totals ride a single-row broadcast.
    */
  def averagePrecision(scored: DataFrame, scoreCol: String,
      clsCol: String): DataFrame = {
    val byScore = scored.groupBy(col(scoreCol).as("s"))
      .agg(sum(col(clsCol)).as("tp"),
        (count(lit(1)) - sum(col(clsCol))).as("fp"))
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byScore.agg(sum(col("tp")).as("n_pos"),
      sum(col("fp")).as("n_neg"))
    byScore
      .withColumn("cum_tp", sum(col("tp")).over(w))
      .withColumn("cum", sum(col("tp") + col("fp")).over(w))
      .crossJoin(broadcast(tot))
      // n_pos = 0 would make every term div(0, 0) -> NULL; a corpus
      // whose funnel labels nothing positive gets the defined
      // degenerate card (ap 0, prevalence 0) instead — rocAuc's
      // degenerate-class convention.
      .withColumn("term_micro", when(col("n_pos") === 0L, lit(0L))
        .otherwise(call_function("div",
          col("tp") * col("cum_tp") * lit(1000000L),
          col("cum") * col("n_pos"))))
      .agg(max(col("n_pos")).as("n_pos"), max(col("n_neg")).as("n_neg"),
        sum(col("term_micro")).as("ap_micro"))
      .select(col("n_pos"), col("n_neg"), col("ap_micro"),
        expr("(n_pos * 1000000) div (n_pos + n_neg)")
          .as("prevalence_micro"))
  }

  /** Operating-point sweep — the card that turns [[rocAuc]]/
    * [[averagePrecision]]'s threshold-free rankings into the decision
    * a production gate actually makes: for each candidate threshold
    * τ, the confusion counts of `score ≥ τ` against the labels and
    * the exact precision / recall / F1. F1 is computed in its direct
    * integer form `2·tp·10⁶ div (2·tp + fp + fn)` — one division,
    * no rational-of-rationals; precision is 0 by convention when
    * nothing is predicted positive. One row per threshold.
    *
    * Scale shape: the scored frame crosses a BROADCAST literal
    * threshold list (|τ| rows), and the confusion counts partially
    * aggregate map-side — the shuffle carries |partitions|·|τ| rows,
    * never the corpus.
    */
  def classifierOperatingPoints(scored: DataFrame, scoreCol: String,
      clsCol: String, thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val s = scored.sparkSession
    import s.implicits._
    val taus = broadcast(thresholds.toDF("tau"))
    scored.select(col(scoreCol).as("s"), col(clsCol).as("y"))
      .crossJoin(taus)
      .groupBy(col("tau"))
      .agg(
        sum(when(col("s") >= col("tau") && col("y") === 1L, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("s") >= col("tau") && col("y") === 0L, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("s") < col("tau") && col("y") === 1L, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("s") < col("tau") && col("y") === 0L, 1L)
          .otherwise(0L)).as("tn"))
      .select(col("tau"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0L, 0L)
          .otherwise(call_function("div", col("tp") * lit(1000000L),
            col("tp") + col("fp"))).as("precision_micro"),
        when(col("tp") + col("fn") === 0L, 0L)
          .otherwise(call_function("div", col("tp") * lit(1000000L),
            col("tp") + col("fn"))).as("recall_micro"),
        when(col("tp") * 2 + col("fp") + col("fn") === 0L, 0L)
          .otherwise(call_function("div", col("tp") * lit(2000000L),
            col("tp") * 2 + col("fp") + col("fn"))).as("f1_micro"))
  }

  // ------------------------------------------- perplexity partition

  /** CCNet's head/middle/tail perplexity partition (Wenzek et al.
    * 2020 §4.3): within each language, rank documents by their
    * self-trained Kneser-Ney bigram perplexity and cut into terciles
    * — "head" is the most-fluent third a pretraining run keeps
    * outright, "tail" the third it drops or down-samples. Returns the
    * per-(group, bucket) rollup (doc/token mass and the perplexity
    * range) — the dataset-card view of the partition.
    *
    * The tercile is rank-based (`ntile` over (nll, id) — fully
    * ordered, so deterministic), not threshold-based: identical
    * semantics in any engine, no quantile-interpolation drift. Scale
    * shape: scoring is [[knBigramLogLoss]] (vocab-sized broadcasts +
    * one bigram join); the ntile window shuffles one compact row per
    * document keyed by language — the rollup shares that exchange.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, vocabSize: Int): DataFrame =
    perplexityBucketsPlan(knBigramLogLoss(df, idCol, textCol, vocabSize),
      df.select(col(idCol), col(groupCol)), idCol, groupCol)

  /** Lazy rollup of [[perplexityBuckets]] over a prepared per-document
    * KN score frame (split out so Bench can fingerprint the full
    * shape past the checkpointed scorer).
    */
  private[graft] def perplexityBucketsPlan(kn: DataFrame,
      groups: DataFrame, idCol: String, groupCol: String): DataFrame = {
    val nt = ntile(3).over(Window.partitionBy(col(groupCol))
      .orderBy(col("avg_nll_micro"), col(idCol)))
    kn.join(groups, Seq(idCol))
      .withColumn("bucket",
        when(nt === 1, "head").when(nt === 2, "middle")
          .otherwise("tail"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("avg_nll_micro")).as("min_nll_micro"),
        max(col("avg_nll_micro")).as("max_nll_micro"))
  }

  // ------------------------------------------------- per-domain caps

  /** Per-domain document caps — RefinedWeb/Dolma-style source
    * balancing: within each source, rank documents by
    * (quality DESC, id) and keep at most `cap`, so no single domain
    * dominates the mixture however large its crawl. Returns the
    * per-source rollup (docs and token mass kept vs dropped) — the
    * number the card reports, with the kept set recoverable as
    * `rank <= cap`.
    *
    * Scale shape: one window shuffle keyed by source over compact
    * (id, score, n_toks) rows — the rollup shares the exchange. A
    * skewed mega-domain is exactly the case [[graft.operators.Skew]]
    * salts; at 100 TB the rank would ride a pre-bucketed source
    * layout.
    */
  def domainCap(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, cap: Int,
      scoreMicro: Column): DataFrame = {
    require(cap > 0, "cap must be positive")
    val ranked = df.select(col(idCol), col(sourceCol),
        size(TF.tokens(col(textCol))).cast("long").as("n_toks"),
        scoreMicro.as("score_micro"))
      .withColumn("rank", row_number().over(Window
        .partitionBy(col(sourceCol))
        .orderBy(col("score_micro").desc, col(idCol))))
    ranked.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rank") <= cap, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_toks")).as("toks_total"),
        sum(when(col("rank") <= cap, col("n_toks")).otherwise(0L))
          .as("toks_kept"))
  }

  // ------------------------------------------------- collocations

  /** Top bigram collocations by pointwise mutual information —
    * corpus phrase mining (Church & Hanks 1990): PMI(x,y) =
    * ln( (c_xy/B) / ((c_x/T)·(c_y/T)) ) over adjacent token pairs,
    * with a minimum pair count to suppress the low-count PMI
    * explosion. The standard first look at what multi-word units a
    * tokenizer should keep whole.
    *
    * Determinism: all counts are exact int64; the PMI is ONE
    * fixed-order double expression per surviving pair, floored to
    * micro-nats; ranking ties break on the pair itself. Scale shape:
    * one bigram-count shuffle (map-side combined) + a unigram count
    * joined twice (token-keyed equi-joins, AQE handles head-word
    * skew); the single-row totals broadcast; top-k is a
    * TakeOrderedAndProject, not a global sort.
    */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long, topK: Int): DataFrame = {
    val occ = bigramOccurrences(df, idCol, textCol)
    graft.core.Caching.withCached(occ)(
      pmiCollocationsPlan(occ, minCount, topK))
  }

  /** Lazy plan of [[pmiCollocations]] over a prepared bigram
    * occurrence frame (which feeds the unigram, bigram, and total
    * counts — hence the cache bracket in the public entry). Split out
    * so Bench can fingerprint it.
    */
  private[graft] def pmiCollocationsPlan(occ: DataFrame,
      minCount: Long, topK: Int): DataFrame = {
    val uni = occ.groupBy(col("cur").as("tok"))
      .agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").as("t"))
    val bg = occ.filter(col("prev").isNotNull)
      .groupBy("prev", "cur").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val btot = occ.filter(col("prev").isNotNull)
      .agg(count(lit(1)).as("bt"))
    val pmi = log(
      (col("cxy").cast("double") / col("bt").cast("double")) /
        ((col("cx").cast("double") / col("t").cast("double")) *
          (col("cy").cast("double") / col("t").cast("double"))))
    val scored = bg
      .join(uni.select(col("tok").as("prev"), col("cu").as("cx")),
        Seq("prev"))
      .join(uni.select(col("tok").as("cur"), col("cu").as("cy")),
        Seq("cur"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .select(col("prev").as("tok_a"), col("cur").as("tok_b"),
        col("cxy").as("n_pair"),
        floor(pmi * lit(1e6)).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
    scored.withColumn("rank", row_number().over(Window
        .orderBy(col("pmi_micro").desc, col("tok_a"), col("tok_b")))
        .cast("long"))
      .select(col("rank"), col("tok_a"), col("tok_b"), col("n_pair"),
        col("pmi_micro"))
  }

  /** Count-min sketch calibration — the heavy-hitter sketch audited
    * in place (the p104 move for frequency instead of similarity):
    * build a d×w count-min sketch over the token stream (Cormode &
    * Muthukrishnan 2005), then report, for the top-`topK` tokens by
    * EXACT count, the sketch estimate beside the truth. CMS never
    * underestimates, so `est ≥ exact` is a hard invariant (spec- and
    * oracle-checked), and the overshoot column shows the collision
    * noise a 100-TB run would accept in exchange for fixed memory:
    * the sketch is d·w integers regardless of vocabulary size, built
    * in ONE shuffle of (row, bucket) keys with map-side combine.
    * Hash rows use the portable seeded hash, so any engine rebuilds
    * the identical sketch.
    */
  def countMinCalibration(df: DataFrame, idCol: String, textCol: String,
      d: Int, w: Int, topK: Int): DataFrame = {
    require(d > 0 && w > 0 && topK > 0, "d, w, topK must be positive")
    val occ = tokenOccurrences(df, idCol, textCol)
    graft.core.Caching.withCached(occ) {
      val cells = occ.select(explode(array((0 until d).map(r =>
          struct(lit(r).as("r"),
            (TF.hash60(concat(lit(s"cm${r}_"), col("tok"))) % w)
              .as("b"))): _*)).as("cell"))
        .select(col("cell.r"), col("cell.b"))
        .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
      val top = occ.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("tok")).limit(topK)
      val probes = top.select(col("tok"), col("exact"),
        explode(array((0 until d).map(r =>
          struct(lit(r).as("r"),
            (TF.hash60(concat(lit(s"cm${r}_"), col("tok"))) % w)
              .as("b"))): _*)).as("cell"))
        .select(col("tok"), col("exact"), col("cell.r"), col("cell.b"))
      val est = probes.join(broadcast(cells), Seq("r", "b"))
        .groupBy(col("tok"), col("exact"))
        .agg(min(col("c")).as("est"))
      est
        .withColumn("rank", row_number().over(Window
          .orderBy(col("exact").desc, col("tok"))).cast("long"))
        .select(col("rank"), col("tok"), col("exact"), col("est"),
          (col("est") - col("exact")).as("overshoot"))
    }
  }

  /** HyperLogLog calibration — the distinct-count sketch audited in
    * place: per source, a 64-register HLL (Flajolet et al. 2007) over
    * the 3-gram hash stream beside the EXACT distinct count. The
    * register update is one (source, register) max-shuffle (64 rows
    * per source however large the stream — the whole point at
    * 100 TB); the estimate is the harmonic mean, computed EXACTLY:
    * Σ 2^(−M_j) is scaled by 2⁵⁵ into an integer sum (absent
    * registers contribute 2⁵⁵ each), and the only double op is the
    * final α·m²·2⁵⁵ / S division. The rank-of-first-one-bit ρ uses a
    * comparison chain, not floating log₂ — bit-exact in any engine
    * (a `floor(log2)` would misround at exact powers of two). The
    * small-range linear-counting correction engages below 2.5·m when
    * empty registers remain, as in the paper.
    */
  def hllCalibration(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, k: Int = 3): DataFrame = {
    val m = 64
    val alpha = 0.7213 / (1 + 1.079 / m)
    // α·m²·2⁵⁵ as one driver-folded constant (the oracle embeds the
    // identical round-tripped double literal)
    val numer = alpha * (m.toDouble * m) * math.pow(2.0, 55)
    val grams = spread(df).select(col(sourceCol).as("src"),
        explode(TF.shingles(TF.tokens(col(textCol)), k)).as("sh"))
      .select(col("src"), TF.hash60(col("sh")).as("h"))
    graft.core.Caching.withCached(grams) {
      val rest = expr("h div 64")
      // bit length of the 54-bit remainder by comparison chain
      val bitlen = greatest((0 until 54).map(b =>
        when(rest >= math.pow(2.0, b).toLong, b + 1).otherwise(0)): _*)
      val regs = grams
        .select(col("src"), pmod(col("h"), lit(64L)).as("j"),
          (lit(55) - bitlen).as("rho"))
        .groupBy(col("src"), col("j")).agg(max(col("rho")).as("mj"))
      val sums = regs.groupBy(col("src"))
        .agg(count(lit(1)).as("n_regs"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mj AS INT))"))
            .as("s_present"))
        .select(col("src"), (lit(m.toLong) - col("n_regs")).as("v_zero"),
          (col("s_present") +
            (lit(m.toLong) - col("n_regs")) * lit(1L << 55)).as("s"))
      val exact = grams.groupBy(col("src"))
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("h")).as("exact_distinct"))
      val estRaw = floor(lit(numer) / col("s").cast("double"))
        .cast("long")
      val linear = floor(lit(m.toDouble) *
        log(lit(m.toDouble) / col("v_zero").cast("double"))).cast("long")
      sums.join(exact, Seq("src"))
        .withColumn("est",
          when(estRaw <= lit((2.5 * m).toLong) && col("v_zero") > 0,
            linear).otherwise(estRaw))
        .select(col("src").as(sourceCol), col("n_grams"),
          col("exact_distinct"), col("v_zero"), col("est"),
          expr("abs(est - exact_distinct) * 1000000 div exact_distinct")
            .as("err_micro"))
    }
  }

  /** Per-domain distribution drift — for each source, the KL
    * divergence of its add-one-smoothed unigram distribution from the
    * corpus-wide one, in integer nano-nats: the dataset-card number
    * that ranks domains by how far their token mix sits from the
    * mixture (near-zero = generic; high = distinctive vocabulary —
    * the signal behind domain-weighting and drift monitors between
    * snapshots). Each token's term `p_s·ln(p_s/p_c)` is ONE
    * fixed-order double floored to nano-nats BEFORE the per-source
    * integer sum (terms are ±10⁻⁴-scale, hence nano not micro), so
    * any engine replays the sum exactly.
    *
    * Scale shape: one (source, token) count shuffle with map-side
    * combine; the corpus-wide count table is vocabulary-sized and
    * broadcasts back onto it; per-source totals ride a window over
    * the grouped counts. Absent tokens (in the corpus, not the
    * source) contribute nothing to THIS direction of the KL — the
    * smoothed p_s over the shared vocabulary keeps the sum
    * well-defined without materializing the source×vocab product.
    */
  def domainDrift(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val occ = df.select(col(sourceCol).as("src"),
      explode(TF.tokens(col(textCol))).as("tok"))
    val sc = occ.groupBy(col("src"), col("tok"))
      .agg(count(lit(1)).as("cs"))
    val cc = occ.groupBy(col("tok")).agg(count(lit(1)).as("cv"))
    val v = cc.agg(count(lit(1)).as("v"), sum(col("cv")).as("tc"))
    val ts = sum(col("cs")).over(Window.partitionBy(col("src")))
    val ps = (col("cs") + 1).cast("double") /
      (col("ts") + col("v")).cast("double")
    val pc = (col("cv") + 1).cast("double") /
      (col("tc") + col("v")).cast("double")
    sc.withColumn("ts", ts)
      .join(broadcast(cc), Seq("tok"))
      .crossJoin(broadcast(v))
      .withColumn("term_nano",
        floor(ps * log(ps / pc) * 1e9).cast("long"))
      .groupBy(col("src").as(sourceCol))
      .agg(max(col("ts")).as("n_toks"),
        count(lit(1)).as("n_types"),
        sum(col("term_nano")).as("kl_nano"))
  }

  /** Calibration report for a margin-scored binary classifier — the
    * reliability diagram as a table: rows are fixed margin buckets
    * (z_micro in steps of `bucketMicro`, floor-bucketed so the edges
    * are exact integers), columns the predicted probability at the
    * bucket's center vs the EMPIRICAL positive rate inside it. The
    * check a curation run reads before trusting the classifier's
    * scores as sampling weights rather than just its argmax (NB's
    * margins are famously overconfident; this makes that visible).
    *
    * Determinism: bucket ids are exact integer floor-divisions of the
    * micro margin; the predicted probability is ONE sigmoid per
    * bucket evaluated at the exact integer center; empirical rates
    * are exact integer divisions. One count shuffle keyed by bucket
    * (map-side combined, ≤ margin-range/bucketMicro rows out).
    */
  def calibrationReport(scored: DataFrame, scoreCol: String,
      clsCol: String, bucketMicro: Long): DataFrame = {
    require(bucketMicro > 0, "bucketMicro must be positive")
    val b = col(scoreCol) - pmod(col(scoreCol), lit(bucketMicro))
    val center = (col("bucket") + lit(bucketMicro / 2)).cast("double") /
      lit(1e6)
    scored
      .groupBy(b.as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col(clsCol)).as("n_pos"))
      .select(col("bucket"), col("n_docs"), col("n_pos"),
        floor(lit(1e6) / (lit(1.0) + exp(-center))).cast("long")
          .as("pred_pos_micro"),
        expr("(n_pos * 1000000) div n_docs").as("emp_pos_micro"))
  }

  // ------------------------------------------------- entropy signals

  /** Cohen's kappa agreement between two binary classifiers over the
    * same documents — chance-corrected agreement, the standard check
    * before swapping one quality filter for another (raw agreement is
    * inflated when both classifiers mostly say "keep"). One row:
    * counts, observed/expected agreement, and kappa, ALL exact
    * integer micro — the divisions use the portable floor dance
    * (`(x − ((x mod m) + m) mod m) div m`) because kappa's numerator
    * can be negative and Spark `div` truncates where DuckDB `//`
    * floors. pe = 1 (both classifiers constant and equal) maps to
    * kappa = 1 by convention, avoiding the 0/0.
    *
    * Scale shape: one id-keyed equi-join of the two prediction
    * frames and a single partially-aggregated reduction. The pe
    * numerator `(pos_a·pos_b + (n−pos_a)·(n−pos_b))·10⁶` is bounded
    * by n²·10⁶, which overflows int64 at n ≈ 3·10⁶ joined docs — an
    * in-plan raise_error guard fails loudly there instead of letting
    * Spark wrap silently where the oracle errors; past that bound the
    * rates would be pre-scaled to micro before multiplying.
    */
  def classifierAgreement(a: DataFrame, predA: String, b: DataFrame,
      predB: String, idCol: String): DataFrame = {
    def fdiv(x: Column, m: Column): Column =
      call_function("div", x - pmod(pmod(x, m) + m, m), m)
    val j = a.select(col(idCol), col(predA).cast("long").as("pa"))
      .join(b.select(col(idCol), col(predB).cast("long").as("pb")),
        Seq(idCol))
    // n²·10⁶ ≤ 2⁶³ ⟺ n ≤ 3,037,000 — the exact int64 safe bound for
    // the pe numerator below (pos products are each ≤ n², their sum
    // ≤ n² since (pos_a, n−pos_a) partitions n).
    val nGuard = when(col("n") > 3000000L,
      raise_error(concat(
        lit("classifierAgreement: n = "), col("n").cast("string"),
        lit(" joined docs overflows the int64 pe numerator "),
        lit("(safe bound ~3e6); pre-scale the rates")))
        .cast("long")).otherwise(col("n"))
    val agg = j.agg(
      count(lit(1)).as("n"),
      sum(when(col("pa") === col("pb"), 1L).otherwise(0L)).as("agree"),
      sum(col("pa")).as("pos_a"),
      sum(col("pb")).as("pos_b"))
      .withColumn("n", nGuard)
    val po = fdiv(col("agree") * lit(1000000L), col("n"))
    val pe = fdiv((col("pos_a") * col("pos_b") +
        (col("n") - col("pos_a")) * (col("n") - col("pos_b"))) *
      lit(1000000L), col("n") * col("n"))
    agg
      .withColumn("po_micro", po)
      .withColumn("pe_micro", pe)
      .select(col("n"), col("agree"), col("pos_a"), col("pos_b"),
        col("po_micro"), col("pe_micro"),
        when(col("pe_micro") === 1000000L, lit(1000000L))
          .otherwise(fdiv(
            (col("po_micro") - col("pe_micro")) * lit(1000000L),
            lit(1000000L) - col("pe_micro"))).as("kappa_micro"))
  }

  /** Chi-square feature selection for the quality classifier (Manning
    * et al., IR §13.5): for every token, the 2×2 association between
    * token PRESENCE and the funnel label over the whole corpus, ranked
    * by the χ² statistic — the tokens a trimmed-vocabulary classifier
    * (fastText-style, [[nbClassifier]]/[[logisticRegression]]) should
    * keep first, and the audit card showing WHICH surface features the
    * weak labels actually key on.
    *
    * Arithmetic: the four contingency cells and `d = n11·n00 −
    * n10·n01` are exact int64; `den = df·(N−df)·N₊·N₋` is a DOUBLE
    * product (left-assoc, one fixed IEEE order) because its int64
    * form overflows around 10⁵ labeled docs for common tokens —
    * Spark would wrap silently where DuckDB errors. The statistic is
    * `N·d²/den` in double with ONE fixed op order
    * (`((N·d)·d)/den·10⁶`, no transcendental — IEEE multiply/divide
    * are bit-specified, so any engine reproduces the floor). Rank
    * ties break on the token.
    *
    * Scale shape: one distinct-presence explode (doc, token), one
    * token-keyed count shuffle with map-side combine, a broadcast
    * single-row totals join, and a TakeOrderedAndProject top-k
    * (per-partition heaps — never a global sort of the vocabulary).
    * Past N ≈ 9·10⁷ labeled docs `d²` (and past ~10⁵, den) leave
    * int64-exact double territory and the statistic (not the cells)
    * picks up one-ulp-scale rounding — still deterministic, since
    * both engines perform the identical IEEE ops.
    */
  def chiSquareFeatures(df: DataFrame, idCol: String, textCol: String,
      topK: Int, profile: GateProfile = GateProfile.published): DataFrame =
    chiSquareFromLabels(
      funnelLabels(df, idCol, textCol, profile = profile),
      idCol, textCol, "cls", topK)

  /** [[chiSquareFeatures]] over caller-supplied binary labels
    * (`clsCol` ∈ {0,1}) — the funnel-free core, also the unit-test
    * seam.
    */
  def chiSquareFromLabels(labeledDf: DataFrame, idCol: String,
      textCol: String, clsCol: String, topK: Int): DataFrame = {
    val labeled = spread(labeledDf)
      .select(col(idCol).as("id"), col(textCol).as("txt"),
        col(clsCol).as("cls"))
    val toks = labeled.select(col("id"), col("cls"),
      explode(array_distinct(TF.tokens(col("txt")))).as("tok"))
    val totals = labeled.agg(count(lit(1)).as("n"),
      sum(col("cls")).as("npos"))
    val cells = toks.groupBy("tok").agg(
      sum(col("cls")).as("n11"),
      sum(lit(1L) - col("cls")).as("n10"))
    // den multiplies its four factors IN DOUBLE (left-assoc, one fixed
    // IEEE order mirrored by the oracle): the int64 product overflows
    // silently past ~10^5 labeled docs for common tokens (worst case
    // n^4/16 > 2^63) while DuckDB would error — doubles keep both
    // engines on the identical bit pattern at any corpus size. The
    // zero test stays exact: a product of non-negative integers is
    // 0.0 iff some factor is 0.
    val sc = cells.crossJoin(broadcast(totals))
      .withColumn("n01", col("npos") - col("n11"))
      .withColumn("n00", col("n") - col("npos") - col("n10"))
      .withColumn("d", col("n11") * col("n00") - col("n10") * col("n01"))
      .withColumn("den",
        (col("n11") + col("n10")).cast("double")
          * (col("n01") + col("n00")).cast("double")
          * col("npos").cast("double")
          * (col("n") - col("npos")).cast("double"))
      .withColumn("chi2_micro", when(col("den") === 0.0, lit(0L))
        .otherwise(floor(col("n").cast("double") * col("d").cast("double")
          * col("d").cast("double") / col("den") * lit(1e6))
          .cast("long")))
    // top-k via TakeOrderedAndProject (per-partition heaps), THEN rank
    // the <=topK survivors — a global row_number window here would
    // sort the ENTIRE distinct vocabulary on one partition
    // (the [[pmiCollocationsPlan]] pattern).
    val top = sc.orderBy(col("chi2_micro").desc, col("tok").asc)
      .limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("chi2_micro").desc, col("tok").asc)))
      .select(col("rank").cast("long").as("rank"), col("tok").as("token"),
        col("n11"), col("n10"), col("chi2_micro"))
  }

  /** Per-document character- and token-level Shannon entropy — the
    * gibberish/boilerplate signal quality pipelines cut on: natural
    * text sits in a characteristic band; random noise scores high,
    * templated/repeated content low. Each distribution term
    * −(c/n)·ln(c/n) is floored to integer micro-nats BEFORE the
    * per-document sum (the reported statistic is this micro-floored
    * entropy — deterministic in any engine, within 40·10⁻⁶ nats of
    * the real value for ≤40-symbol alphabets).
    *
    * Scale shape: two count shuffles keyed by (doc, symbol) with
    * map-side combine, their per-doc rollups riding the same
    * exchange; the per-doc totals arrive via a window over the
    * grouped counts, not a second scan.
    */
  def entropyStats(df0: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val df = spread(df0)
    def branch(sym: Column, out: String): DataFrame = {
      val counts = df
        .select(col(idCol), explode(sym).as("sym"))
        .groupBy(col(idCol), col("sym"))
        .agg(count(lit(1)).as("c"))
      val n = sum(col("c")).over(Window.partitionBy(col(idCol)))
      val pr = col("c").cast("double") / col("n").cast("double")
      counts.withColumn("n", n)
        .withColumn("term_micro",
          floor(-(pr * log(pr)) * 1e6).cast("long"))
        .groupBy(col(idCol))
        .agg(max(col("n")).as(s"n_$out"),
          sum(col("term_micro")).as(s"${out}_entropy_micro"))
    }
    // char explode via substr (NOT split(text, "") — Spark keeps a
    // trailing "" at limit -1); empty text guarded against Spark's
    // descending sequence(1, 0)
    val chars = when(length(col(textCol)) > 0,
      transform(sequence(lit(1), length(col(textCol))),
        i => col(textCol).substr(i, lit(1))))
      .otherwise(array())
    branch(chars, "chars")
      .join(branch(TF.tokens(col(textCol)), "toks"), Seq(idCol))
  }

  // -------------------------------------- logistic-regression scorer

  /** Integer floor-division helper mirrored exactly by the oracle's
    * `(a - ((a % m) + m) % m) // m`: floor semantics for negative
    * numerators in BOTH engines (Spark `div` truncates, DuckDB `//`
    * floors only sometimes — so neither raw operator is portable).
    * The subtraction makes the numerator exactly divisible, after
    * which any division semantics agree. The division itself is
    * integer `div` — int64 end-to-end, exact at ANY magnitude (a
    * double division would silently lose exactness past 2⁵³).
    */
  private def floorDiv(a: Column, m: Column): Column =
    call_function("div", a - pmod(a, m), m)

  /** Logistic-regression quality classifier trained by `iters` rounds
    * of full-batch gradient descent over hashed binary unigram
    * features, with the three-gate funnel as weak labels — the
    * gradient-trained sibling of [[nbClassifier]] (the fastText-style
    * learned filter of the LLaMA/CCNet recipes, linearized). Returns
    * one row per document: (id, cls, n_feats, z_micro, pred).
    *
    * Every quantity that crosses rows is an exact integer, so the
    * whole trajectory replays bit-for-bit in any engine: weights live
    * in micro units (int64); per-document margins are integer sums of
    * weights; the sigmoid is ONE scalar double op per document whose
    * residual is floored back to micro before the gradient sum; the
    * weight update is an exact floor-division by (n·`lrDen`)
    * (learning rate 1/`lrDen`, starting from w = 0).
    *
    * Scale shape: the weight vector (≤`buckets` rows of exact ints)
    * lives ON THE DRIVER between rounds — the [[Similarity]] k-means
    * move — so every round is an INDEPENDENT flat plan of two
    * shuffles: the gradient rollup keyed by bucket (≤`buckets` rows
    * out, map-side combined, weight-sized collect) and the margin
    * rollup keyed by document (int payloads only, against the
    * literal-weight broadcast). Chaining rounds as one lazy plan
    * would re-derive every earlier round once per use — the
    * exponential-lineage trap the BPE trainer documents. The doc
    * count rides the gradient plan as a single-row broadcast (no
    * driver `count()` pre-pass). At 100 TB the fit would run on a
    * label sample ([[stratifiedSample]]) and the final
    * broadcast-scoring pass over the full corpus, exactly like
    * [[nbCostTables]].
    */
  def logisticRegression(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, iters: Int, lrDen: Int = 4,
      profile: GateProfile = GateProfile.published): DataFrame = {
    val labeled = funnelLabels(df, idCol, textCol, profile = profile)
      .select(col(idCol), col("cls"),
        explode(array_distinct(transform(TF.tokens(col(textCol)),
          t => TF.hash60(t) % buckets))).as("bucket"))
    val docFeats = lrDocFeats(labeled, idCol).localCheckpoint(eager = true)
    try {
      val w = lrWeightsFromDocs(docFeats, iters, lrDen)
      lrScore(docFeats, idCol, w).localCheckpoint(eager = true)
    } finally org.apache.spark.sql.graftbridge.CheckpointBridge
      .releaseLocalCheckpoint(docFeats)
  }

  /** Per-document feature frame of the LR trainer: one row per
    * document carrying its label and the FULL bucket list (duplicates
    * preserved — the exploded form's row multiset, re-gathered), so
    * every gradient round is ONE short job over this materialized
    * frame instead of a 3-scan join cascade. `collect_list` order is
    * engine-chosen, but every consumer below is an order-independent
    * integer sum over the array, so the trajectory is unaffected.
    */
  private[graft] def lrDocFeats(labeled: DataFrame,
      idCol: String): DataFrame =
    labeled.groupBy(col(idCol)).agg(max(col("cls")).as("cls"),
      collect_list(col("bucket")).as("feats"))

  /** One GD round's residual column over the doc-feature frame:
    * round 1 is the closed form at w = 0; later rounds score the
    * document against the driver-held weights riding as a literal map
    * (σ over z/10⁶, floored back to micro). Exactly the expressions
    * the exploded join formulation evaluated — z is an integer sum,
    * so re-association across the array is exact; every observed
    * bucket is present in `w` after round 1 (the gradient covers all
    * of them), so the 0-weight fallback can never fire on a bucket
    * the join formulation would have dropped.
    */
  private def lrResidual(t: Int, w: Map[Long, Long]): Column = {
    if (t == 1) lit(500000L) - col("cls") * lit(1000000L)
    else {
      val wm = typedLit(w)
      val z = aggregate(col("feats"), lit(0L),
        (acc, b) => acc + coalesce(element_at(wm, b), lit(0L)))
      val sigma = lit(1.0) /
        (lit(1.0) + exp(-(z.cast("double") / lit(1e6))))
      floor((sigma - col("cls").cast("double")) * 1e6).cast("long")
    }
  }

  /** The gradient-descent loop of [[logisticRegression]] over a
    * MATERIALIZED [[lrDocFeats]] frame: each round is a single
    * 2-stage job (per-doc residual + exploded bucket rollup, ≤
    * `buckets` rows collected); weights live on the driver between
    * rounds ([[graft.pipeline.Similarity]]'s k-means convention), and
    * the weight update replays [[floorDiv]] in exact integer
    * arithmetic. The r15 shape — per round, a resid/z/grad join
    * cascade re-planned over the cached exploded frame — spent ~1.5 s
    * of AQE stage scheduling and two broadcast builds per round at 32
    * cores on KB-sized frames (the driver's #1 cost, 19.9 s cold);
    * the fused round keeps the identical integer trajectory.
    */
  private[graft] def lrWeightsFromDocs(docFeats: DataFrame,
      iters: Int, lrDen: Int): Seq[(Long, Long)] = {
    require(iters > 0, "iters must be positive")
    val spark = docFeats.sparkSession
    import spark.implicits._
    val mVal = docFeats.count() * lrDen
    var w = Map.empty[Long, Long]
    for (t <- 1 to iters) {
      // Hoist rule: the residual is projected BELOW the explode — beside
      // the generator it would run once per feature bucket, not per doc
      val grad = docFeats
        .select(col("feats"), lrResidual(t, w).as("r"))
        .select(explode(col("feats")).as("bucket"), col("r"))
        .groupBy(col("bucket")).agg(sum(col("r")).as("g"))
        .as[(Long, Long)].collect()
      w = grad.foldLeft(w) { case (acc, (b, g)) =>
        // exact −floorDiv(g, m): pmod then an exactly-divisible div
        val mod = ((g % mVal) + mVal) % mVal
        val d = -((g - mod) / mVal)
        acc + (b -> (acc.getOrElse(b, 0L) + d))
      }
    }
    w.toSeq.sortBy(_._1)
  }

  /** The trained weight table of [[logisticRegression]] over the
    * exploded (id, cls, bucket) form — materializes [[lrDocFeats]],
    * runs [[lrWeightsFromDocs]], releases the intermediate. Kept for
    * spec-level trajectory audits.
    */
  private[graft] def lrWeights(labeled: DataFrame, idCol: String,
      iters: Int, lrDen: Int): Seq[(Long, Long)] = {
    val docFeats = lrDocFeats(labeled, idCol).localCheckpoint(eager = true)
    try lrWeightsFromDocs(docFeats, iters, lrDen)
    finally org.apache.spark.sql.graftbridge.CheckpointBridge
      .releaseLocalCheckpoint(docFeats)
  }

  /** Scoring plan of [[logisticRegression]]: trains eagerly via
    * [[lrWeightsFromDocs]] (one short job per round, weight-sized
    * collects) and returns the LAZY final scoring pass over the
    * literal trained weights — the plan Bench fingerprints. Values
    * are identical to the old broadcast-join formulation: every
    * observed bucket is in the weight map (each receives a gradient
    * row every round), so the old INNER join kept every feature row —
    * n_feats is the array length and z_micro the same integer sum.
    */
  private[graft] def logisticRegressionPlan(labeled: DataFrame,
      idCol: String, iters: Int, lrDen: Int): DataFrame = {
    val docFeatsLazy = lrDocFeats(labeled, idCol)
    val docFeats = docFeatsLazy.localCheckpoint(eager = true)
    val w = lrWeightsFromDocs(docFeats, iters, lrDen)
    // Score over the LAZY doc-feature plan: same rows as the
    // checkpointed frame (lrDocFeats is deterministic up to feature
    // order, which every consumer reduces order-free), but the
    // returned plan keeps the real pre-checkpoint shape — scan,
    // explode, feature gather, literal-weight scoring — that Bench
    // fingerprints; the checkpoint above exists only to feed the GD
    // rounds.
    lrScore(docFeatsLazy, idCol, w)
  }

  /** The LAZY scoring projection over a doc-feature frame and trained
    * weights: one zero-exchange pass — the weights ride as a literal
    * map, n_feats is the feature-array length, z_micro the exact
    * integer weight sum.
    */
  private def lrScore(docFeats: DataFrame, idCol: String,
      w: Seq[(Long, Long)]): DataFrame = {
    val wm = typedLit(w.toMap)
    docFeats.select(col(idCol), col("cls"),
      size(col("feats")).cast("long").as("n_feats"),
      aggregate(col("feats"), lit(0L),
        (acc, b) => acc + coalesce(element_at(wm, b), lit(0L)))
        .as("z_micro"))
      .withColumn("pred", when(col("z_micro") > 0, 1L).otherwise(0L))
  }
}
