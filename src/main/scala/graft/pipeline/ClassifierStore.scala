package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Session-scoped registry of TRAINED quality-classifier artifacts —
  * the [[TokenizerStore]] / [[TrainedIndexStore]] / [[DedupStore]]
  * pattern applied to the two gate classifiers.
  *
  * A production curation run fits its quality classifier ONCE per
  * corpus snapshot and every downstream card — the confusion audit,
  * ROC-AUC, PR-AUC, operating points, calibration, the agreement
  * check — reads the SAME scored table. Inside one driver JVM the
  * seven consumers (p81/p84/p113/p155/p157 over NB, p117/p124 over
  * LR, p139 over both) were instead each refitting the identical
  * model: for NB one full token-occurrence shuffle per card, for LR
  * the whole 12-round gradient-descent trajectory (23 driver-blocking
  * jobs) per card. The first caller for a given (session, corpus
  * plan + input files, columns, hyperparameters, gate profile) pays
  * the fit; every later caller gets the SAME checkpoint-backed scored
  * frame in O(1).
  *
  * Determinism is untouched: the fit runs bit-identically exactly
  * once ([[Curation.nbClassifier]] / [[Curation.logisticRegression]]
  * already return eagerly-materialized local checkpoints), the frame
  * is immutable, and keys carry the owning SparkSession's identity
  * plus the corpus's resolved input files with their sizes and
  * modification times ([[StoreKey.inputFingerprint]]), so artifacts
  * never leak across sessions or scale factors and an input rewritten
  * in place is refit. Bench's cold-store mode clears this store per
  * run so the committed cold medians keep pricing the training cost
  * itself.
  */
object ClassifierStore {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def key(kind: String, df: DataFrame, idCol: String,
      textCol: String, extra: String): String = {
    val sess = System.identityHashCode(df.sparkSession)
    val plan = df.queryExecution.analyzed.canonicalized.toString
    val files = StoreKey.inputFingerprint(df)
    s"$kind|$sess|${StoreKey.md5(plan)}|$files|$idCol|$textCol|$extra"
  }

  /** [[Curation.nbClassifier]] memoized per (session, corpus, columns,
    * vocabSize, carry, profile): the scored frame
    * (id, [carry,] cls, n_tokens, llr_micro, pred).
    */
  def nbScored(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, carry: Seq[String] = Nil,
      profile: Curation.GateProfile = Curation.GateProfile.published)
      : DataFrame =
    cache.computeIfAbsent(
      key("nb", df, idCol, textCol,
        s"v=$vocabSize|c=${carry.mkString("+")}|p=$profile"),
      _ => Curation.nbClassifier(df, idCol, textCol, vocabSize, carry,
        profile))

  /** [[Curation.logisticRegression]] memoized per (session, corpus,
    * columns, buckets, iters, lrDen, profile): the scored frame
    * (id, cls, n_feats, z_micro, pred).
    */
  def lrScored(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, iters: Int, lrDen: Int = 4,
      profile: Curation.GateProfile = Curation.GateProfile.published)
      : DataFrame =
    cache.computeIfAbsent(
      key("lr", df, idCol, textCol,
        s"b=$buckets|i=$iters|d=$lrDen|p=$profile"),
      _ => Curation.logisticRegression(df, idCol, textCol, buckets,
        iters, lrDen, profile))

  /** Drop every trained artifact — benchmarking only (Bench's
    * cold-store mode re-measures the fit cost per run).
    */
  def clear(): Unit = cache.clear()
}
