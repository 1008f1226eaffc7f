package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Session-scoped registry of trained and detected artifacts: tokenizer
  * merge tables and vocabs, k-means means and PQ codebooks, near-dup
  * pair sets and their component decisions, and the scored frames of
  * the two gate classifiers.
  *
  * A production corpus trains a tokenizer, an ANN quantizer or a
  * quality classifier, and detects its near-dup pairs, ONCE per
  * snapshot; every downstream consumer (encode jobs, ADC scans, the
  * dedup and classifier cards) reads the frozen artifact. This store
  * gives the same economics inside one driver JVM: the first caller for
  * a key pays the build, every later caller gets the SAME driver-held
  * artifact or checkpoint-backed frame back in O(1).
  *
  * Determinism is untouched: each build runs bit-identically exactly
  * once and its result is immutable (a local checkpoint, a local
  * relation or plain driver arrays). Entries are never evicted; a
  * checkpoint block is reclaimed by the session's ContextCleaner once
  * [[clear]] drops its last reference.
  *
  * Key: kind | session identity | md5 of the analyzed, canonicalized
  * plan (exprIds normalized, so two independent `spark.read`s of one
  * path share an entry) with the rows of every local relation folded
  * in | input-file fingerprint | build parameters. The session is part
  * of the key, so artifacts never leak across sessions; the input files
  * keep two scale factors in one JVM apart and retrain an input
  * rewritten in place.
  */
object ArtifactStore {
  private final class Entry(build: => AnyRef) {
    lazy val value: AnyRef = build
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** The artifact under `key`, built on first use. `computeIfAbsent`
    * only inserts the entry; the build runs in the entry's lazy val,
    * outside the map's bin lock. So a build may look up another key,
    * concurrent callers of one key still build exactly once, and a
    * build that throws leaves the entry unset for the next call to
    * retry.
    */
  private[graft] def memo[A <: AnyRef](key: String)(build: => A): A =
    cache.computeIfAbsent(key, _ => new Entry(build)).value.asInstanceOf[A]

  private def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  /** md5 over `path:size:mtime` of every input file, in path order.
    * The status is read from the file system at lookup time, not from
    * the DataFrame's cached file listing, so a frame opened before a
    * rewrite keys the same as a fresh read. A rewrite that keeps both
    * the size and the millisecond mtime of every file is not detected.
    */
  private def inputFingerprint(df: DataFrame): String = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    md5(df.inputFiles.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }.mkString(","))
  }

  /** A local relation prints only its output in the plan string, so
    * the content hash of its rows (UnsafeRow and GenericInternalRow
    * hash by value) keeps two same-schema local corpora apart.
    */
  private def key(kind: String, df: DataFrame, params: Any*): String = {
    val plan = df.queryExecution.analyzed
    val rows = plan.collect { case l: LocalRelation => l.data.hashCode }
    s"$kind|${System.identityHashCode(df.sparkSession)}|" +
      s"${md5(plan.canonicalized.toString + rows.mkString(","))}|" +
      s"${inputFingerprint(df)}|${params.mkString("|")}"
  }

  /** [[Bpe.trainWithVocab]]: (merge trajectory, final segmentation
    * dictionary). The caller must NOT release the vocab.
    */
  def bpe(docs: DataFrame, textCol: String,
      nMerges: Int): (DataFrame, DataFrame) =
    memo(key("bpe", docs, textCol, nMerges))(
      Bpe.trainWithVocab(docs, textCol, nMerges))

  /** [[Bpe.trainWordPieceWithVocab]], stored like [[bpe]]. */
  def wordPiece(docs: DataFrame, textCol: String,
      nMerges: Int): (DataFrame, DataFrame) =
    memo(key("wordpiece", docs, textCol, nMerges))(
      Bpe.trainWordPieceWithVocab(docs, textCol, nMerges))

  /** [[Similarity.kmeansTrain]]'s final fixed-point means: a LOCAL
    * DataFrame sorted by (cent_id, dim), a total order, so consumers
    * broadcast a centroid-sized relation instead of re-running `iters`
    * Lloyd rounds.
    */
  def kmeansMeans(corpus: DataFrame, idCol: String, vecCol: String,
      centroidFilter: Column, iters: Int): DataFrame =
    memo(key("kmeans", corpus, idCol, vecCol,
        ColumnBridge.structuralKey(centroidFilter), iters))(
      Similarity.kmeansTrain(corpus, idCol, vecCol, centroidFilter, iters))

  /** [[Similarity.pqTrainMeans]] as the per-subspace codebooks every
    * trained-PQ consumer folds into its scan.
    */
  def pqBooks(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      dim: Int, centroidFilter: Column,
      iters: Int): IndexedSeq[Array[(Long, Array[Float])]] =
    memo(key("pq", corpus, idCol, vecCol,
        ColumnBridge.structuralKey(centroidFilter), m, dim, iters))(
      Similarity.booksFromMeans(Similarity.pqTrainMeans(corpus, idCol,
        vecCol, m, dim, centroidFilter, iters).collect(), m, dim / m))

  /** [[Dedup.ngramJaccardPairs]] as a checkpoint-backed
    * (doc_a, doc_b, jaccard_micro) frame.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleFreqFrac: Option[Double]): DataFrame =
    memo(key("njp", df, idCol, textCol, k, threshold, maxShingleFreqFrac))(
      Dedup.ngramJaccardPairs(df, idCol, textCol, k, threshold,
        maxShingleFreqFrac = maxShingleFreqFrac).localCheckpoint(true))

  /** [[graft.operators.ConnectedComponents.dedupDecisions]] over
    * [[ngramJaccardPairs]]: (node, component, keep) for every clustered
    * document, pinned so consumers skip even the fixpoint replay.
    */
  def dedupDecisions(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleFreqFrac: Option[Double]): DataFrame =
    memo(key("dec", df, idCol, textCol, k, threshold, maxShingleFreqFrac)) {
      import org.apache.spark.sql.functions.col
      graft.operators.ConnectedComponents.dedupDecisions(
          ngramJaccardPairs(df, idCol, textCol, k, threshold,
            maxShingleFreqFrac)
            .select(col("doc_a").as("u"), col("doc_b").as("v")))
        .localCheckpoint(true)
    }

  /** [[Dedup.simhashPairs]] as a checkpoint-backed pair frame. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int, segments: Int, maxHamming: Int): DataFrame =
    memo(key("sim", df, idCol, textCol, bits, segments, maxHamming))(
      Dedup.simhashPairs(df, idCol, textCol, bits, segments,
        maxHamming).localCheckpoint(true))

  /** [[Curation.nbClassifier]]'s scored frame
    * (id, [carry,] cls, n_tokens, llr_micro, pred).
    */
  def nbScored(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, carry: Seq[String] = Nil,
      profile: Curation.GateProfile = Curation.GateProfile.published)
      : DataFrame =
    memo(key("nb", df, idCol, textCol, vocabSize, carry, profile))(
      Curation.nbClassifier(df, idCol, textCol, vocabSize, carry, profile))

  /** [[Curation.logisticRegression]]'s scored frame
    * (id, cls, n_feats, z_micro, pred).
    */
  def lrScored(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, iters: Int, lrDen: Int = 4,
      profile: Curation.GateProfile = Curation.GateProfile.published)
      : DataFrame =
    memo(key("lr", df, idCol, textCol, buckets, iters, lrDen, profile))(
      Curation.logisticRegression(df, idCol, textCol, buckets, iters,
        lrDen, profile))

  /** Drop every artifact — benchmarking only (cold-store runs re-measure
    * the build cost; a production session never calls this).
    */
  def clear(): Unit = cache.clear()
}
