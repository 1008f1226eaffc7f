package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

/** Session-scoped registry of TRAINED ANN index artifacts — the
  * [[TokenizerStore]] pattern for the vector-index family.
  *
  * A production corpus trains its coarse quantizer and PQ codebooks
  * ONCE per release and then serves every consumer (code assignment,
  * ADC scans, recall scorecards, exports) from the frozen artifacts.
  * Without this store each consumer re-runs the Lloyd trajectory —
  * `iters` × (corpus shuffle + driver collect) — so a scorecard that
  * measures ten methods multiplies the most expensive training in the
  * ANN family by its row count. With it, the first caller for a given
  * (session, corpus, columns, seed filter, iters[, m, dim]) key pays
  * the full training; every later caller gets the SAME driver-held
  * artifact back in O(1).
  *
  * Determinism is untouched: training runs bit-identically exactly
  * once, and the returned artifacts are immutable by discipline (the
  * k-means means a LOCAL DataFrame rebuilt from the collected
  * fixed-point rows, the PQ books plain driver arrays — exactly the
  * driver state [[Similarity.kmeansTrain]] already carries between
  * iterations, k·dim floats).
  *
  * Keying: corpus identity is the ANALYZED-CANONICALIZED logical plan
  * string (exprIds normalized, so two independent `spark.read`s of the
  * same path share one entry) PLUS the resolved input-file list with
  * each file's size and mtime ([[StoreKey.inputFingerprint]]: two
  * corpora with look-alike plans over different directories — e.g.
  * the same table at two scale factors in one test JVM — never
  * collide, and a path rewritten in place retrains).
  * The owning SparkSession's identity is part of the key, so artifacts
  * never leak across sessions. Entries are never evicted: a handful of
  * centroid-sized artifacts per session, held exactly as long as a
  * train-and-serve job would hold them.
  */
object TrainedIndexStore {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def key(kind: String, corpus: DataFrame, idCol: String,
      vecCol: String, centroidFilter: Column, extra: String): String = {
    val sess = System.identityHashCode(corpus.sparkSession)
    val plan = corpus.queryExecution.analyzed.canonicalized.toString
    val files = StoreKey.inputFingerprint(corpus)
    s"$kind|$sess|${StoreKey.md5(plan)}|$files|$idCol|$vecCol|" +
      s"${org.apache.spark.sql.graftbridge.ColumnBridge
        .structuralKey(centroidFilter)}|$extra"
  }

  /** [[Similarity.kmeansTrain]] memoized: the final fixed-point means,
    * collected once and rebuilt as a LOCAL DataFrame (sorted by
    * (cent_id, dim) — a total order, so the rebuild is deterministic).
    * Downstream consumers ([[Similarity.centroidsFromMeans]] →
    * broadcast scans) see a centroid-sized local relation instead of
    * re-running `iters` Lloyd rounds over the corpus.
    */
  def kmeansMeans(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column, iters: Int): DataFrame =
    cache.computeIfAbsent(
      key("kmeans", corpus, idCol, vecCol, centroidFilter, s"i=$iters"),
      _ => {
        val out = Similarity.kmeansTrain(corpus, idCol, vecCol,
          centroidFilter, iters)
        val rows = out.collect().sortBy(r => (r.getLong(0), r.getLong(1)))
        corpus.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), out.schema)
      }).asInstanceOf[DataFrame]

  /** [[Similarity.pqTrainMeans]] memoized as the rebuilt per-subspace
    * codebooks — the driver arrays every trained-PQ consumer folds
    * into its scan ([[Similarity.pqTrainedCodes]],
    * [[Similarity.pqTopKTrained]]).
    */
  def pqBooks(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      dim: Int, centroidFilter: Column,
      iters: Int): IndexedSeq[Array[(Long, Array[Float])]] =
    cache.computeIfAbsent(
      key("pq", corpus, idCol, vecCol, centroidFilter,
        s"m=$m|d=$dim|i=$iters"),
      _ => Similarity.booksFromMeans(
        Similarity.pqTrainMeans(corpus, idCol, vecCol, m, dim,
          centroidFilter, iters).collect(),
        m, dim / m))
      .asInstanceOf[IndexedSeq[Array[(Long, Array[Float])]]]

  /** Drop every trained artifact — benchmarking only (Bench's
    * cold-store mode re-measures the training cost per run; a
    * production session never calls this).
    */
  def clear(): Unit = cache.clear()
}
