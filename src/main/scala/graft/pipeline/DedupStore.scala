package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Session-scoped registry of near-dup DETECTION artifacts — the
  * [[TokenizerStore]] / [[TrainedIndexStore]] pattern for the dedup
  * family's two expensive intermediates: the verified pair set and
  * its connected-component decisions.
  *
  * A production curation run computes its near-dup pair set ONCE per
  * corpus snapshot and every downstream consumer — the impact card,
  * the threshold sweep, the survivor policies, the split-leakage
  * audit, the retrieval-impact study, the release sign-off — reads
  * the SAME artifact (that sharing is the p180 composite's entire
  * design). This store extends the sharing across the queries of one
  * driver JVM: the first caller for a given (session, corpus plan +
  * input files, columns, k, threshold, prune) pays the inverted-index
  * candidate join, the exact Jaccard verification, and the O(log n)
  * component rounds; every later caller gets the same
  * checkpoint-backed frames in O(1).
  *
  * Determinism is untouched: detection runs bit-identically exactly
  * once, the frames are immutable local checkpoints, and keys carry
  * the owning SparkSession's identity plus the corpus's resolved
  * input files with their sizes and modification times
  * ([[StoreKey.inputFingerprint]]): two scale factors in one test JVM
  * never collide, and an input rewritten in place is detected again.
  */
object DedupStore {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def key(kind: String, df: DataFrame, idCol: String,
      textCol: String, extra: String): String = {
    val sess = System.identityHashCode(df.sparkSession)
    val plan = df.queryExecution.analyzed.canonicalized.toString
    val files = StoreKey.inputFingerprint(df)
    s"$kind|$sess|${StoreKey.md5(plan)}|$files|$idCol|$textCol|$extra"
  }

  /** [[Dedup.ngramJaccardPairs]] memoized per (session, corpus,
    * columns, k, threshold, prune) as a checkpoint-backed
    * (doc_a, doc_b, jaccard_micro) frame.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleFreqFrac: Option[Double]): DataFrame =
    cache.computeIfAbsent(
      key("njp", df, idCol, textCol,
        s"k=$k|t=$threshold|f=${maxShingleFreqFrac.getOrElse(-1.0)}"),
      _ => Dedup.ngramJaccardPairs(df, idCol, textCol, k, threshold,
        maxShingleFreqFrac = maxShingleFreqFrac).localCheckpoint(true))

  /** [[graft.operators.ConnectedComponents.dedupDecisions]] over
    * [[ngramJaccardPairs]], memoized on the same key:
    * (node, component, keep) for every clustered document. The
    * component rounds checkpoint internally; this pins the final
    * decision frame so consumers skip even the fixpoint replay.
    */
  def dedupDecisions(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleFreqFrac: Option[Double]): DataFrame = {
    // resolve the pair entry BEFORE entering this key's compute —
    // ConcurrentHashMap forbids a computeIfAbsent nested inside
    // another on the same map ("Recursive update")
    val pairs = ngramJaccardPairs(df, idCol, textCol, k, threshold,
      maxShingleFreqFrac)
    cache.computeIfAbsent(
      key("dec", df, idCol, textCol,
        s"k=$k|t=$threshold|f=${maxShingleFreqFrac.getOrElse(-1.0)}"),
      _ => {
        import org.apache.spark.sql.functions.col
        graft.operators.ConnectedComponents.dedupDecisions(
            pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
          .localCheckpoint(true)
      })
  }

  /** [[Dedup.simhashPairs]] memoized per (session, corpus, columns,
    * bits, segments, maxHamming) — the Hamming-banded detector is the
    * same multi-exchange shape (banded self-join + verification) the
    * Jaccard detector is, and p03/p142 consume the identical pair set.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int, segments: Int, maxHamming: Int): DataFrame =
    cache.computeIfAbsent(
      key("sim", df, idCol, textCol,
        s"b=$bits|s=$segments|h=$maxHamming"),
      _ => Dedup.simhashPairs(df, idCol, textCol, bits, segments,
        maxHamming).localCheckpoint(true))

  /** Drop every detection artifact — benchmarking only (Bench's
    * cold-store mode re-measures detection cost per run).
    */
  def clear(): Unit = cache.clear()
}
